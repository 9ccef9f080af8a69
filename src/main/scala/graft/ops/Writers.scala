package graft.ops

import graft.kernel.{BamWriter, FastxCodec, Hdf5BiomWriter, SamCodec, WarcCodec}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, sum, when}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration
import java.io.{BufferedWriter, OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

/** COPY sinks (2G): FASTQ, FASTA, SAM, BAM, BIOM (HDF5) and WARC.
  *
  * Semantics per the reference's copy functions (reference:
  * src/copy_fastq.cpp, src/copy_fasta.cpp, src/copy_sam.cpp,
  * src/copy_biom.cpp, src/copy_format_common.cpp:111-208): paired output
  * either interleaved or split via a `{ORIENTATION}` path placeholder
  * (paired + non-interleave REQUIRES it, single-end FORBIDS it), qual
  * length must equal sequence length, SAM SEQ/QUAL always `*`, `@SQ`
  * lines from a reference-lengths relation with unknown references
  * auto-added at sentinel length 2^31−1, gzip by `.gz` extension.
  *
  * Every sink has the reference's lifecycle: a bind step checks
  * columns, options and paths on the driver before any job, then one
  * SQL execution of the input's plan ([[withPlannedRows]]) runs the
  * bind-time jobs (the `@SQ` set, BIOM's NULL check) and the write on
  * one planned RDD, so they share its shuffles: an input ending in an
  * exchange is computed once. The format's [[Encoder]] writes rows to
  * each output file, in one of two modes ([[copy]]):
  *  - single file (`copyX`): rows stream through the driver
  *    (toLocalIterator: row order kept, bounded memory), like the
  *    reference's mutex-serialized writers (src/copy_sam.cpp:689-694);
  *  - sharded (`copyXSharded`, the 100 TB path): executors write one
  *    file per non-empty partition (no driver hop, no shuffle), the
  *    partition id replacing `{SHARD}` in the path template. Files are
  *    created overwrite=true, so task retries are idempotent; disable
  *    speculative execution for these sinks, or point the template at a
  *    job-scoped directory committed by rename. Every shard is a
  *    standalone file: SAM and BAM shards carry the full header of the
  *    union reference set, which an executor cannot know locally.
  */
object Writers {

  /** COMPRESSION option (reference src/copy_format_common.cpp:77-107,
    * src/copy_sam.cpp CIEquals(comp_value, "uncompressed")): explicit
    * 'gzip'/'gz' forces gzip; 'none'/'uncompressed' force plain output
    * even with a `.gz` extension; names are case-insensitive
    * (Locale.ROOT — a Turkish-locale JVM lowercases 'GZIP' to 'gzıp'
    * under the default locale), anything else errors; absent →
    * auto-detect by `.gz` extension.
    */
  private[ops] def resolveGzip(path: String, compression: Option[String]): Boolean =
    compression.map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case Some("gzip") | Some("gz")          => true
      case Some("none") | Some("uncompressed") => false
      case Some(other) => throw new IllegalArgumentException(
        s"Unknown compression type: $other (supported: gzip, none, uncompressed)")
      case None => path.endsWith(".gz")
    }

  /** Opens one output file through the Hadoop FS: overwrite, no `.crc`
    * sidecar next to user-visible files, whole-file gzip when `gzip`.
    * Every COPY sink opens its files here.
    */
  private[ops] def create(path: String, conf: Configuration, gzip: Boolean): OutputStream = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    fs.setWriteChecksum(false)
    val out = fs.create(p, true)
    if (gzip) new GZIPOutputStream(out) else out
  }

  /** One format's writer for one output path: writes `rows` there,
    * opening each file through `open(path, gzip)` (fastx opens R1 and
    * R2 for `{ORIENTATION}`). Built on the driver after the bind-time
    * jobs, from driver-side values only, so sharded mode can ship it to
    * the executors.
    */
  private trait Encoder extends Serializable {
    def write(rows: Iterator[Row], path: String, open: (String, Boolean) => OutputStream): Unit
  }

  private val OrientationToken = "{ORIENTATION}"
  private val ShardToken = "{SHARD}"

  /** Runs `body` on the planned rows of `df` inside one SQL execution
    * of `df`'s plan, as `Dataset.foreachPartition` does: the plan is
    * built once, every job `body` starts shares its shuffle map stages
    * (Spark skips the ones already run), and the listener bus shows the
    * COPY as one query with its plan.
    */
  private[ops] def withPlannedRows[T](df: DataFrame)(body: RDD[Row] => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("COPY")) {
      val rowEncoder = ExpressionEncoder(df.schema).resolveAndBind()
      body(qe.toRdd.mapPartitions(_.map(rowEncoder.createDeserializer())))
    }
  }

  /** The one COPY path. Checks the `{SHARD}` template and runs `bind`
    * (driver-side checks, no job), which returns the rows to write and
    * a step that runs the bind-time jobs on their planned RDD and gives
    * the encoder. Then writes `path` from the driver or one file per
    * non-empty partition.
    */
  private def copy(path: String, sharded: Boolean)(
      bind: => (DataFrame, RDD[Row] => Encoder)): Unit = {
    if (sharded) require(path.contains(ShardToken),
      s"sharded output path must contain $ShardToken: $path")
    val (df, prepare) = bind
    val conf = new SerializableConfiguration(df.sparkSession.sparkContext.hadoopConfiguration)
    withPlannedRows(df) { rows =>
      val encoder = prepare(rows)
      if (sharded) rows.foreachPartition { part =>
        if (part.hasNext) encoder.write(part,
          path.replace(ShardToken, f"${TaskContext.getPartitionId()}%05d"), create(_, conf.value, _))
      }
      else encoder.write(rows.toLocalIterator, path, create(_, conf.value, _))
    }
  }

  private def textFile(open: (String, Boolean) => OutputStream, path: String,
      compression: Option[String]): BufferedWriter = new BufferedWriter(
    new OutputStreamWriter(open(path, resolveGzip(path, compression)), StandardCharsets.UTF_8))

  /** COPY ... (FORMAT FASTQ). Required cols: read_id, sequence1, qual1;
    * optional comment, sequence2, qual2.
    */
  def copyFastq(df: DataFrame, path: String, qualOffset: Int = 33,
      includeComment: Boolean = false, interleave: Boolean = false,
      compression: Option[String] = None): Unit =
    fastx(df, path, sharded = false, Some(qualOffset), includeComment, interleave, compression)

  /** Sharded COPY FASTQ: one `path` file per non-empty partition.
    * Paired non-interleaved output needs BOTH tokens (e.g.
    * `out/part-{SHARD}.{ORIENTATION}.fq.gz`).
    */
  def copyFastqSharded(df: DataFrame, pathTemplate: String, qualOffset: Int = 33,
      includeComment: Boolean = false, interleave: Boolean = false,
      compression: Option[String] = None): Unit =
    fastx(df, pathTemplate, sharded = true, Some(qualOffset), includeComment, interleave,
      compression)

  /** COPY ... (FORMAT FASTA). Required cols: read_id, sequence1. */
  def copyFasta(df: DataFrame, path: String, includeComment: Boolean = false,
      interleave: Boolean = false, compression: Option[String] = None): Unit =
    fastx(df, path, sharded = false, None, includeComment, interleave, compression)

  /** Sharded COPY FASTA: one `path` file per non-empty partition. */
  def copyFastaSharded(df: DataFrame, pathTemplate: String, includeComment: Boolean = false,
      interleave: Boolean = false, compression: Option[String] = None): Unit =
    fastx(df, pathTemplate, sharded = true, None, includeComment, interleave, compression)

  /** FASTQ when `qualOffset` is set, FASTA otherwise. */
  private def fastx(df: DataFrame, path: String, sharded: Boolean, qualOffset: Option[Int],
      includeComment: Boolean, interleave: Boolean, compression: Option[String]): Unit =
    copy(path, sharded) {
      val s = df.schema
      val paired = s.fieldNames.contains("sequence2")
      val split = paired && !interleave
      if (path.contains(OrientationToken) != split) throw new IllegalArgumentException(
        if (split) s"Paired non-interleaved output requires $OrientationToken in path"
        else s"$OrientationToken is only valid for paired non-interleaved output")
      resolveGzip(path, compression)
      val (id, comment) = (s.fieldIndex("read_id"), s.fieldNames.indexOf("comment"))
      val seq = Array(s.fieldIndex("sequence1"), s.fieldNames.indexOf("sequence2"))
      val qual = Array("qual1", "qual2").map(s.fieldNames.indexOf(_))
      def record(r: Row, mate: Int): String = {
        val rec = FastxCodec.FastxRecord(r.getString(id),
          if (comment < 0) None else Option(r.getString(comment)), r.getString(seq(mate)),
          if (qual(mate) < 0) None else Option(r.getSeq[Short](qual(mate))).map(_.toArray))
        qualOffset.fold(FastxCodec.toFasta(rec, includeComment))(
          FastxCodec.toFastq(rec, _, includeComment))
      }
      (df, _ => (rows, out, open) => {
        val files = (if (split) Seq("R1", "R2").map(out.replace(OrientationToken, _))
          else Seq(out)).map(textFile(open, _, compression))
        try rows.foreach { r =>
          for (mate <- 0 to 1 if mate == 0 || (paired && !r.isNullAt(seq(1)))) {
            val w = files(if (split) mate else 0)
            w.write(record(r, mate)); w.newLine()
          }
        } finally files.foreach(_.close())
      })
    }

  /** Sentinel length for @SQ entries not present in the reference-
    * lengths relation (reference copy_sam.cpp:444-465).
    */
  val UnknownReferenceLength: Long = Int.MaxValue.toLong

  /** A SAM/BAM COPY input row with a NULL in a mandatory column that
    * has no `*` spelling, named by the column and the row's `read_id`.
    */
  class NullColumnException(val column: String, val readId: String, hint: String = "")
      extends IllegalArgumentException(
        s"SAM/BAM output forbids a NULL $column column (read_id $readId)$hint")

  /** A NULL `reference`. SAM spells an unplaced read's reference `*`,
    * but a NULL is not read as one.
    */
  final class NullReferenceException(readId: String)
      extends NullColumnException("reference", readId, "; write '*' for an unplaced read")

  /** The `@SQ` set shared by every file of one COPY: the
    * reference-lengths relation in its order, then the other references
    * of `rows`, sorted, at [[UnknownReferenceLength]]. One narrow job
    * over `rows` collects each partition's distinct references and the
    * read_id of its first row with a NULL reference, which fails the
    * COPY on the driver before any file opens.
    */
  private def references(rows: RDD[Row], schema: StructType,
      referenceLengths: Option[DataFrame]): Vector[(String, Long)] = {
    val known =
      referenceLengths.toVector.flatMap(_.collect().map(r => r.getString(0) -> r.getLong(1)))
    val knownNames = known.map(_._1).toSet
    val (ref, id) = (schema.fieldIndex("reference"), schema.fieldIndex("read_id"))
    val seen = rows.mapPartitions { part =>
      val names = Set.newBuilder[String]
      var nullRead: Option[String] = None
      while (nullRead.isEmpty && part.hasNext) {
        val r = part.next()
        if (r.isNullAt(ref)) nullRead = Some(r.getString(id)) else names += r.getString(ref)
      }
      Iterator((names.result(), nullRead))
    }.collect()
    seen.flatMap(_._2).headOption.foreach(read => throw new NullReferenceException(read))
    val dataRefs = seen.flatMap(_._1).distinct.filter(r => r != "*" && !knownNames.contains(r)).sorted
    known ++ dataRefs.map(_ -> UnknownReferenceLength)
  }

  /** Row → SAM record, column positions resolved once; the 9 mandatory
    * SAM columns are required, absent tag_* columns are None. A NULL
    * `cigar` or `mate_reference` is written `*` (SAM's "unavailable");
    * a NULL `reference` is a [[NullReferenceException]], and a NULL in
    * a numeric mandatory column a [[NullColumnException]].
    */
  private def samRecords(s: StructType): Row => SamCodec.SamRecord = {
    val Seq(id, flags, ref, pos, mapq, cigar, mateRef, matePos, tlen) = Seq("read_id", "flags",
      "reference", "position", "mapq", "cigar", "mate_reference", "mate_position",
      "template_length").map(s.fieldIndex)
    val ints = Array("tag_as", "tag_xs", "tag_ys", "tag_xn", "tag_xm", "tag_xo", "tag_xg",
      "tag_nm").map(s.fieldNames.indexOf(_))
    val strs = Array("tag_yt", "tag_md", "tag_sa").map(s.fieldNames.indexOf(_))
    r => {
      if (r.isNullAt(ref)) throw new NullReferenceException(r.getString(id))
      def num(i: Int): Number =
        if (r.isNullAt(i)) throw new NullColumnException(s.fieldNames(i), r.getString(id))
        else r.getAs[Number](i)
      def orStar(i: Int): String = if (r.isNullAt(i)) "*" else r.getString(i)
      def int(j: Int) =
        if (ints(j) < 0 || r.isNullAt(ints(j))) None else Some(num(ints(j)).longValue())
      def str(j: Int) = if (strs(j) < 0) None else Option(r.getString(strs(j)))
      SamCodec.SamRecord(orStar(id), num(flags).intValue(), r.getString(ref),
        num(pos).longValue(), 0L, num(mapq).shortValue(), orStar(cigar),
        orStar(mateRef), num(matePos).longValue(), num(tlen).longValue(),
        int(0), int(1), int(2), int(3), int(4), int(5), int(6), int(7),
        str(0), str(1), str(2), None, None)
    }
  }

  /** COPY ... (FORMAT SAM). Required cols: the 9 mandatory SAM columns;
    * tag_* columns written when present. SEQ/QUAL always `*`.
    */
  def copySam(df: DataFrame, path: String, includeHeader: Boolean = true,
      referenceLengths: Option[DataFrame] = None, compression: Option[String] = None): Unit =
    sam(df, path, sharded = false, includeHeader, referenceLengths, compression)

  /** Sharded COPY SAM: one `path` file per non-empty partition, each
    * carrying the full header.
    */
  def copySamSharded(df: DataFrame, pathTemplate: String, includeHeader: Boolean = true,
      referenceLengths: Option[DataFrame] = None, compression: Option[String] = None): Unit =
    sam(df, pathTemplate, sharded = true, includeHeader, referenceLengths, compression)

  private def sam(df: DataFrame, path: String, sharded: Boolean, includeHeader: Boolean,
      referenceLengths: Option[DataFrame], compression: Option[String]): Unit =
    copy(path, sharded) {
      resolveGzip(path, compression)
      val record = samRecords(df.schema)
      (df, planned => {
        val header = if (!includeHeader) Vector.empty else "@HD\tVN:1.6\tSO:unknown" +:
          references(planned, df.schema, referenceLengths).map { case (name, len) =>
            s"@SQ\tSN:$name\tLN:$len"
          }
        (rows, out, open) => {
          val w = textFile(open, out, compression)
          try (header.iterator ++ rows.map(r => SamCodec.toLine(record(r)))).foreach { l =>
            w.write(l); w.newLine()
          } finally w.close()
        }
      })
    }

  /** COPY ... (FORMAT BAM): BGZF binary output. BAM forces a header
    * (reference copy_sam.cpp:285-301) with the same @SQ set as SAM;
    * SEQ/QUAL always absent.
    */
  def copyBam(df: DataFrame, path: String, referenceLengths: Option[DataFrame] = None,
      compressionLevel: Int = -1): Unit =
    bam(df, path, sharded = false, referenceLengths, compressionLevel)

  /** Sharded COPY BAM: one standalone BAM per non-empty partition. All
    * shards share the reference ids of one driver-computed @SQ set, so
    * `samtools cat`-style concatenation is well-defined.
    */
  def copyBamSharded(df: DataFrame, pathTemplate: String,
      referenceLengths: Option[DataFrame] = None, compressionLevel: Int = -1): Unit =
    bam(df, pathTemplate, sharded = true, referenceLengths, compressionLevel)

  private def bam(df: DataFrame, path: String, sharded: Boolean,
      referenceLengths: Option[DataFrame], compressionLevel: Int): Unit =
    copy(path, sharded) {
      // COMPRESSION_LEVEL (reference src/copy_sam.cpp:251-254, 280-282):
      // 0–9; -1 = library default
      if (compressionLevel < -1 || compressionLevel > 9) throw new IllegalArgumentException(
        s"COMPRESSION_LEVEL must be between 0 and 9, got $compressionLevel")
      val record = samRecords(df.schema)
      (df, planned => {
        val refs = references(planned, df.schema, referenceLengths)
        (rows, out, open) => {
          val w = new BamWriter(open(out, false), refs, compressionLevel)
          try rows.foreach(r => w.writeRecord(record(r))) finally w.close()
        }
      })
    }

  /** COPY BIOM bind (reference: src/copy_biom.cpp, README.md:2588-2594)
    * for every BIOM path: checks `compression` and the columns, and
    * returns the canonical table (duplicate (sample, feature) values
    * summed, zeros dropped) with a fourth column, `nulls`, counting each
    * group's input rows with a NULL. A group with such rows is kept
    * whatever its sum, so [[checkBiomNulls]] sees all of them.
    */
  private[ops] def biomTable(df: DataFrame, compression: String): DataFrame = {
    Hdf5BiomWriter.deflateLevel(compression)
    val cols = df.schema.fieldNames.toSet
    for (c <- Seq("sample_id", "feature_id", "value"))
      require(cols.contains(c), s"BIOM output requires column $c")
    val hasNull = col("sample_id").isNull || col("feature_id").isNull || col("value").isNull
    df.groupBy("sample_id", "feature_id")
      .agg(sum(col("value")).as("value"), sum(when(hasNull, 1).otherwise(0)).as("nulls"))
      .filter(col("value") =!= 0.0 || col("nulls") > 0)
  }

  /** Rejects NULLs before any file opens: one job totals the `nulls`
    * column of [[biomTable]]'s planned rows, which is the raw count of
    * offending input rows. The rows then written have `nulls` 0.
    */
  private[ops] def checkBiomNulls(table: RDD[Row]): Unit = {
    val nulls = table.map(_.getLong(3)).fold(0L)(_ + _)
    if (nulls > 0)
      throw new IllegalArgumentException(s"BIOM output forbids NULLs ($nulls offending rows)")
  }

  /** Sharded COPY BIOM: the canonical table (as [[BiomOps.copyBiom]])
    * is hash-partitioned BY SAMPLE into `numShards` shards, each a
    * complete BIOM 2.1 (HDF5) file holding a disjoint sample subset, so
    * any shard loads or merges with plain read_biom + UNION ALL.
    * Executor memory is bounded by the largest shard.
    */
  def copyBiomSharded(df: DataFrame, pathTemplate: String, numShards: Int,
      compression: String = "gzip"): Unit =
    biom(df, pathTemplate, Some(numShards), compression)

  /** COPY BIOM to HDF5: one file, or `shards` sample-disjoint files. */
  private[ops] def biom(df: DataFrame, path: String, shards: Option[Int],
      compression: String): Unit =
    copy(path, shards.isDefined) {
      shards.foreach(n => require(n > 0, s"numShards must be positive: $n"))
      val table = biomTable(df, compression)
      (shards.fold(table)(table.repartition(_, col("sample_id"))), planned => {
        checkBiomNulls(planned)
        (rows, out, open) => {
          val coo = rows.map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toVector
          val o = open(out, false)
          try o.write(Hdf5BiomWriter.write(coo, compression = compression)) finally o.close()
        }
      })
    }

  /** COPY WARC (pairs with the `warc` source) record headers: (header,
    * column, default when the column is absent or NULL). `target_uri`
    * is required; the binary `payload` column (required, NULL = empty)
    * is the record block. Raw record writer — HTTP wrapping (if
    * wanted) is the caller's payload to build.
    */
  private val WarcHeaders = Seq(
    ("WARC-Type", "warc_type", "resource"),
    ("WARC-Target-URI", "target_uri", null),
    ("WARC-Date", "warc_date", "1970-01-01T00:00:00Z"),
    ("WARC-Record-ID", "record_id", "<urn:graft:record>"),
    ("Content-Type", "content_type", "application/octet-stream"))

  /** Single-file COPY WARC (driver-streamed, bounded memory). A `.gz`
    * path writes one gzip member per record (Common Crawl convention).
    */
  def copyWarc(df: DataFrame, path: String): Unit = warc(df, path, sharded = false)

  /** Sharded COPY WARC: one file per non-empty partition — the shape a
    * 100 TB export actually uses (crawl convention: many ~1 GB
    * .warc.gz files). `pathTemplate` must contain {SHARD}.
    */
  def copyWarcSharded(df: DataFrame, pathTemplate: String): Unit =
    warc(df, pathTemplate, sharded = true)

  private def warc(df: DataFrame, path: String, sharded: Boolean): Unit =
    copy(path, sharded) {
      val s = df.schema
      val columns = WarcHeaders.map { case (_, c, default) =>
        if (default == null) s.fieldIndex(c) else s.fieldNames.indexOf(c)
      }
      val payload = s.fieldIndex("payload")
      (df, _ => (rows, out, open) => {
        val o = open(out, false)
        try WarcCodec.write(o, rows.map { r =>
          (WarcHeaders.zip(columns).map { case ((header, _, default), i) =>
            header -> (if (i < 0 || r.isNullAt(i)) default else r.getString(i))
          }, Option(r.getAs[Array[Byte]](payload)).getOrElse(Array.emptyByteArray))
        }, gzipPerRecord = out.endsWith(".gz"))
        finally o.close()
      })
    }
}
