package graft.sources

import graft.kernel.FastxCodec
import graft.kernel.FastxCodec.FastxRecord
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** FASTA/FASTQ (`spark.read.format("fastx")`).
  *
  * Schema and semantics per the reference's read_fastx
  * (reference: src/include/read_fastx.hpp:32-41, src/read_fastx
  * .cpp:1-271): the shared 7-column sequence-read schema, per-file
  * 1-based sequence_index, paired-end via the `sequence2` option
  * (R1/R2 matched by position, id-checked), `qual_offset` Phred decode,
  * `include_filepath` source column. One partition per file (pair).
  */
class FastxDataSource extends FileSource(FastxFormat)

/** A record is (R1, R2), R2 null for single-end input. */
object FastxFormat extends FileFormat[(FastxRecord, FastxRecord)] {
  override val name = "fastx"
  override def stdin = true

  /** The sequence-read schema shared by fastx, sam_sequences and sff. */
  val readSchema: StructType = StructType(Seq(
    StructField("sequence_index", LongType),
    StructField("read_id", StringType),
    StructField("comment", StringType),
    StructField("sequence1", StringType),
    StructField("sequence2", StringType),
    StructField("qual1", ArrayType(ShortType)),
    StructField("qual2", ArrayType(ShortType))))

  override def columns(options: CaseInsensitiveStringMap): StructType = readSchema

  override def plan(options: Map[String, String]): Seq[FilePartition] = {
    val r1spec = FileSourceCommon.pathSpec(options, name)
    // reference: read_fastx rejects paired-end over stdin — R1/R2 are
    // two streams and there is only one stdin (read_fastx_stdin.sh
    // tests 10-11).
    if (options.contains("sequence2") &&
        (r1spec +: options.get("sequence2").toSeq)
          .flatMap(_.split(",")).exists(FileSourceCommon.isStdinToken))
      throw new IllegalArgumentException("stdin cannot be used with sequence2")
    val r1 = FileSourceCommon.expandPaths(r1spec, allowStdin = true)
    options.get("sequence2") match {
      case Some(spec) =>
        val r2 = FileSourceCommon.expandPaths(spec)
        if (r1.length != r2.length)
          throw new IllegalArgumentException(
            s"fastx: ${r1.length} R1 files vs ${r2.length} R2 files")
        r1.zip(r2).map { case (a, b) => FilePartition(a, Some(b)) }
      case None => r1.map(FilePartition(_))
    }
  }

  private def qualOffset(options: Map[String, String]): Int =
    options.getOrElse("qual_offset", "33").toInt

  override def check(options: Map[String, String]): Unit = {
    // reference: read_fastx rejects offsets other than Phred+33/+64
    val q = qualOffset(options)
    if (q != 33 && q != 64)
      throw new IllegalArgumentException("qual_offset must be 33 or 64")
  }

  override def open(part: FilePartition, options: Map[String, String],
      required: StructType): Records[(FastxRecord, FastxRecord)] = {
    def reader(p: String) = FastxCodec.open(p, FileSourceCommon.openStream(p))
    val q = qualOffset(options)
    val in1 = reader(part.path)
    val in2 = part.mate.map(reader)
    val it1 = new FastxCodec.RecordIterator(in1, q)
    val recs = in2 match {
      case Some(r) => FastxCodec.paired(it1, new FastxCodec.RecordIterator(r, q))
      case None => it1.map(a => (a, null))
    }
    Records(recs, () => { in1.close(); in2.foreach(_.close()) })
  }

  private def str(s: String): UTF8String = UTF8String.fromString(s)
  private def quals(q: Option[Array[Short]]): GenericArrayData =
    q.map(a => new GenericArrayData(a.map(_.asInstanceOf[Any]))).orNull

  override val column: PartialFunction[String, ColumnReader[(FastxRecord, FastxRecord)]] = {
    case "sequence_index" => (_, n) => n
    case "read_id" => (r, _) => str(FastxCodec.stripPairSuffix(r._1.readId))
    case "comment" => (r, _) => r._1.comment.map(str).orNull
    case "sequence1" => (r, _) => str(r._1.sequence)
    case "sequence2" => (r, _) => if (r._2 == null) null else str(r._2.sequence)
    case "qual1" => (r, _) => quals(r._1.qual)
    case "qual2" => (r, _) => if (r._2 == null) null else quals(r._2.qual)
  }
}
