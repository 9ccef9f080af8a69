package graft.sources

import graft.kernel.SamCodec
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** read_sequences_sam (`spark.read.format("sam_sequences")`): extract
  * SEQ/QUAL from SAM into the shared 7-col sequence-read schema
  * (reference: src/read_sequences_sam.cpp — uBAM-tolerant, comment
  * always NULL, sequence2/qual2 always NULL, per-file 1-based
  * sequence_index, Phred+33 qual decode). stdin accepted.
  */
class SamSequencesDataSource extends FileSource(SamSequencesFormat)

/** A record is a SAM line split on tabs. */
object SamSequencesFormat extends FileFormat[Array[String]] {
  override val name = "sam_sequences"
  override def stdin = true
  override def columns(options: CaseInsensitiveStringMap): StructType = FastxFormat.readSchema

  override def open(part: FilePartition, options: Map[String, String],
      required: StructType): Records[Array[String]] = {
    val reader = graft.kernel.FastxCodec.open(part.path, FileSourceCommon.openStream(part.path))
    val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null)
      .filter(l => l.nonEmpty && !SamCodec.isHeaderLine(l))
    Records(lines.map(_.split("\t", -1)), reader)
  }

  private def field(f: Array[String], i: Int): String = if (f.length > i) f(i) else "*"

  override val column: PartialFunction[String, ColumnReader[Array[String]]] = {
    case "sequence_index" => (_, n) => n
    case "read_id" => (f, _) => UTF8String.fromString(f(0))
    case "comment" | "sequence2" | "qual2" => (_, _) => null
    case "sequence1" => (f, _) =>
      val seq = field(f, 9)
      if (seq == "*") null else UTF8String.fromString(seq)
    case "qual1" => (f, _) =>
      val qual = field(f, 10)
      if (qual == "*") null
      else new GenericArrayData(qual.map(c => (c - 33).toShort.asInstanceOf[Any]).toArray)
  }
}
