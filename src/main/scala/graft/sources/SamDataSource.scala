package graft.sources

import graft.kernel.SamCodec
import graft.kernel.SamCodec.SamRecord
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.io.BufferedInputStream

/** SAM/BAM/CRAM alignments (`spark.read.format("alignments")`).
  *
  * Schema per the reference's read_alignments 21-column layout
  * (reference: src/include/read_alignments.hpp:29-77): 10 mandatory SAM
  * fields (split position/stop_position) + 8 integer and 3 string
  * optional tags, optional `sequence`/`qual` (include_seq_qual) and
  * `filepath` columns. One partition per file (sorted glob), stdin
  * accepted, [[SamFilters]] evaluated per record inside the reader.
  */
class SamDataSource extends FileSource(SamFormat)

/** `read_sam` alias of read_alignments (reference:
  * src/read_alignments.cpp:273-277) — `spark.read.format("sam")`. */
class SamAliasDataSource extends SamDataSource {
  override def shortName(): String = "sam"
}

object SamFormat extends FileFormat[SamRecord] {
  override val name = "alignments"
  override def stdin = true

  override def columns(options: CaseInsensitiveStringMap): StructType = {
    val s = StructType(Seq(
      StructField("read_id", StringType),
      StructField("flags", IntegerType), // USMALLINT domain 0..65535
      StructField("reference", StringType),
      StructField("position", LongType),
      StructField("stop_position", LongType),
      StructField("mapq", ShortType), // UTINYINT domain 0..255
      StructField("cigar", StringType),
      StructField("mate_reference", StringType),
      StructField("mate_position", LongType),
      StructField("template_length", LongType),
      StructField("tag_as", LongType), StructField("tag_xs", LongType),
      StructField("tag_ys", LongType), StructField("tag_xn", LongType),
      StructField("tag_xm", LongType), StructField("tag_xo", LongType),
      StructField("tag_xg", LongType), StructField("tag_nm", LongType),
      StructField("tag_yt", StringType), StructField("tag_md", StringType),
      StructField("tag_sa", StringType)))
    if (options.getBoolean("include_seq_qual", false))
      s.add(StructField("sequence", StringType)).add(StructField("qual", ArrayType(ShortType)))
    else s
  }

  /** Format auto-detect: CRAM by its 4-byte magic (or extension) →
    * pure-JVM CramCodec (raw/gzip/rANS4x8 subset; reference-based
    * decode needs the reference_fasta option); BAM by extension or by
    * content → binary BGZF codec; anything else → SAM text
    * (gzip-transparent). Matches the reference's htslib autodetect
    * (reference: src/read_alignments.cpp format handling,
    * src/SAMReader.cpp:134).
    */
  override def open(part: FilePartition, options: Map[String, String],
      required: StructType): Records[SamRecord] = {
    val path = part.path
    val includeSeqQual = options.get("include_seq_qual").exists(_.toBoolean)
    val stream = new BufferedInputStream(FileSourceCommon.openStream(path))
    stream.mark(4)
    val magic = new Array[Byte](4)
    val n = stream.readNBytes(magic, 0, 4)
    stream.reset()
    if ((n == 4 && magic.sameElements("CRAM".getBytes("US-ASCII"))) || path.endsWith(".cram")) {
      val refFasta = options.get("reference_fasta")
      val lines = new graft.kernel.CramCodec.Reader(
        stream,
        refFasta.map { f =>
          // process-wide soft cache: one parse per executor, not per task
          graft.kernel.CramCodec.loadFastaCached(f, FileSourceCommon.openStream)
        },
        path, options.get("generate_md").forall(_.toBoolean))
      Records(lines.map(SamCodec.parseLine(_, includeSeqQual)), stream)
    } else if (path.endsWith(".bam") || isBgzfBam(stream)) {
      val bam = new graft.kernel.BamCodec.Reader(stream, includeSeqQual)
      Records(bam, () => bam.close())
    } else {
      val reader = graft.kernel.FastxCodec.open(path, stream) // gzip-transparent line reader
      val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null)
        .filter(l => l.nonEmpty && !SamCodec.isHeaderLine(l))
      Records(lines.map(SamCodec.parseLine(_, includeSeqQual)), reader)
    }
  }

  /** BAM by content, not extension: BGZF is gzip, so decompress the
    * first block and look for the "BAM\1" magic (htslib's autodetect —
    * this is what makes `cat x.bam | … read_alignments('-')` work,
    * where the path carries no extension). mark limit 1 MiB covers the
    * max 64 KiB BGZF block plus gzip read-ahead. Leaves `stream` at 0.
    */
  private def isBgzfBam(stream: BufferedInputStream): Boolean = {
    stream.mark(1 << 20)
    val head = new Array[Byte](2)
    val n2 = stream.readNBytes(head, 0, 2)
    val bam =
      if (n2 == 2 && (head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b) {
        stream.reset(); stream.mark(1 << 20)
        try {
          val gz = new java.util.zip.GZIPInputStream(stream) // not closed: would close `stream`
          val m4 = new Array[Byte](4)
          gz.readNBytes(m4, 0, 4) == 4 &&
            m4.sameElements(Array[Byte]('B', 'A', 'M', 1))
        } catch { case _: java.io.IOException => false } // corrupt gzip → let the text path report it
      } else false
    stream.reset()
    bam
  }

  private def str(s: String): UTF8String = UTF8String.fromString(s)
  private def long(v: Option[Long]): Any = v.map(Long.box).orNull
  private def optStr(v: Option[String]): UTF8String = v.map(str).orNull

  override val column: PartialFunction[String, ColumnReader[SamRecord]] = {
    case "read_id" => (r, _) => str(r.readId)
    case "flags" => (r, _) => r.flags
    case "reference" => (r, _) => str(r.reference)
    case "position" => (r, _) => r.position
    case "stop_position" => (r, _) => r.stopPosition
    case "mapq" => (r, _) => r.mapq
    case "cigar" => (r, _) => str(r.cigar)
    case "mate_reference" => (r, _) => str(r.mateReference)
    case "mate_position" => (r, _) => r.matePosition
    case "template_length" => (r, _) => r.templateLength
    case "tag_as" => (r, _) => long(r.tagAs)
    case "tag_xs" => (r, _) => long(r.tagXs)
    case "tag_ys" => (r, _) => long(r.tagYs)
    case "tag_xn" => (r, _) => long(r.tagXn)
    case "tag_xm" => (r, _) => long(r.tagXm)
    case "tag_xo" => (r, _) => long(r.tagXo)
    case "tag_xg" => (r, _) => long(r.tagXg)
    case "tag_nm" => (r, _) => long(r.tagNm)
    case "tag_yt" => (r, _) => optStr(r.tagYt)
    case "tag_md" => (r, _) => optStr(r.tagMd)
    case "tag_sa" => (r, _) => optStr(r.tagSa)
    case "sequence" => (r, _) => optStr(r.sequence)
    case "qual" => (r, _) =>
      r.qual.map(q => new GenericArrayData(q.map(_.asInstanceOf[Any]))).orNull
  }

  override def pushable(f: Filter): Boolean = SamFilters.supported(f)
  override def compile(filters: Seq[Filter]): SamRecord => Boolean = SamFilters.compileAll(filters)
}

/** Record-level pushdown predicates for the alignment source. The
  * reference registers NO pushdown hooks (SURVEY §4.2) — this is a
  * place Spark exceeds it: accepted filters run inside the reader,
  * BEFORE the 21-column InternalRow (and seq/qual payload) is
  * materialized, so a `reference = 'chr1' AND mapq >= 30` scan builds
  * rows only for the fraction that survives. At 100 TB the same hook
  * is where header/index-based whole-file pruning would attach.
  */
object SamFilters {
  import org.apache.spark.sql.sources._

  private val NumericCols =
    Set("position", "stop_position", "template_length", "flags", "mapq")
  private val StringCols = Set("read_id", "reference", "mate_reference", "cigar")
  private def col(attr: String): Boolean = NumericCols(attr) || StringCols(attr)

  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _) => col(a)
    case GreaterThan(a, _) => col(a)
    case GreaterThanOrEqual(a, _) => col(a)
    case LessThan(a, _) => col(a)
    case LessThanOrEqual(a, _) => col(a)
    case In(a, _) => col(a)
    case IsNotNull(a) => col(a)
    case IsNull(a) => col(a)
    case StringStartsWith(a, _) => StringCols(a)
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _ => false
  }

  private def numOf(r: SamCodec.SamRecord, a: String): Long = a match {
    case "position" => r.position
    case "stop_position" => r.stopPosition
    case "template_length" => r.templateLength
    case "flags" => r.flags.toLong
    case "mapq" => r.mapq.toLong
  }
  private def strOf(r: SamCodec.SamRecord, a: String): String = a match {
    case "read_id" => r.readId
    case "reference" => r.reference
    case "mate_reference" => r.mateReference
    case "cigar" => r.cigar
  }
  private def longVal(v: Any): Long = v match {
    case n: Number => n.longValue()
    case b: Boolean => if (b) 1L else 0L
    case other => throw new IllegalArgumentException(s"non-numeric literal $other")
  }

  /** Compile one accepted filter to a record predicate. Mandatory SAM
    * columns are never null, so IsNull is constant-false / IsNotNull
    * constant-true for them.
    */
  def compile(f: Filter): SamCodec.SamRecord => Boolean = f match {
    case EqualTo(a, v) if NumericCols(a) => r => numOf(r, a) == longVal(v)
    case EqualTo(a, v) => r => strOf(r, a) == String.valueOf(v)
    case GreaterThan(a, v) if NumericCols(a) => r => numOf(r, a) > longVal(v)
    case GreaterThan(a, v) => r => strOf(r, a).compareTo(String.valueOf(v)) > 0
    case GreaterThanOrEqual(a, v) if NumericCols(a) => r => numOf(r, a) >= longVal(v)
    case GreaterThanOrEqual(a, v) => r => strOf(r, a).compareTo(String.valueOf(v)) >= 0
    case LessThan(a, v) if NumericCols(a) => r => numOf(r, a) < longVal(v)
    case LessThan(a, v) => r => strOf(r, a).compareTo(String.valueOf(v)) < 0
    case LessThanOrEqual(a, v) if NumericCols(a) => r => numOf(r, a) <= longVal(v)
    case LessThanOrEqual(a, v) => r => strOf(r, a).compareTo(String.valueOf(v)) <= 0
    case In(a, vs) if NumericCols(a) =>
      val set = vs.map(longVal).toSet; r => set(numOf(r, a))
    case In(a, vs) =>
      val set = vs.map(String.valueOf(_: Any)).toSet; r => set(strOf(r, a))
    case IsNotNull(_) => _ => true
    case IsNull(_) => _ => false
    case StringStartsWith(a, p) => r => strOf(r, a).startsWith(p)
    case And(l, r2) => val cl = compile(l); val cr = compile(r2); r => cl(r) && cr(r)
    case Or(l, r2) => val cl = compile(l); val cr = compile(r2); r => cl(r) || cr(r)
    case Not(c) => val cc = compile(c); r => !cc(r)
    case other => throw new IllegalArgumentException(s"unsupported pushed filter $other")
  }

  def compileAll(fs: Seq[Filter]): SamCodec.SamRecord => Boolean = {
    val ps = fs.map(compile)
    r => ps.forall(_(r))
  }
}
