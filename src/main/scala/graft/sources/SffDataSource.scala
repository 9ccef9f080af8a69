package graft.sources

import graft.kernel.SffCodec
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** read_sequences_sff (`spark.read.format("sff")`) — reference:
  * src/read_sequences_sff.cpp: 7-col sequence schema, `trim` option
  * (default true), per-file sequence_index, binary seeks (no stdin).
  * The whole file is buffered per task (SFF files are
  * single-machine-sized by format design).
  */
class SffDataSource extends FileSource(SffFormat)

object SffFormat extends FileFormat[SffCodec.SffRead] {
  override val name = "sff"
  override def columns(options: CaseInsensitiveStringMap): StructType = FastxFormat.readSchema

  override def open(part: FilePartition, options: Map[String, String],
      required: StructType): Records[SffCodec.SffRead] = {
    val in = FileSourceCommon.openStream(part.path)
    val bytes = try in.readAllBytes() finally in.close()
    val trim = options.getOrElse("trim", "true").toBoolean
    Records(SffCodec.parse(bytes, part.path, trim).iterator, () => ())
  }

  override val column: PartialFunction[String, ColumnReader[SffCodec.SffRead]] = {
    case "sequence_index" => (_, n) => n
    case "read_id" => (r, _) => UTF8String.fromString(r.name)
    case "comment" | "sequence2" | "qual2" => (_, _) => null
    case "sequence1" => (r, _) => UTF8String.fromString(r.bases)
    case "qual1" => (r, _) => new GenericArrayData(r.quals.map(_.asInstanceOf[Any]))
  }
}
