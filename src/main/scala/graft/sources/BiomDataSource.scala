package graft.sources

import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** BIOM v2.1 HDF5 (`spark.read.format("biom")`): sample_id, feature_id,
  * value COO rows, `include_filepath` source column.
  *
  * Scale: one partition per file, decoded EXECUTOR-side via the
  * pure-JVM Hdf5Biom codec — many BIOM files fan out across the
  * cluster instead of serializing through the driver (the reference
  * parallelizes the same way: one reader thread per file,
  * src/read_biom.cpp).
  */
class BiomDataSource extends FileSource(BiomFormat)

object BiomFormat extends FileFormat[(String, String, Double)] {
  override val name = "biom"
  override def columns(options: CaseInsensitiveStringMap): StructType = StructType(Seq(
    StructField("sample_id", StringType),
    StructField("feature_id", StringType),
    StructField("value", DoubleType)))

  override def open(part: FilePartition, options: Map[String, String],
      required: StructType): Records[(String, String, Double)] = {
    val in = FileSourceCommon.openStream(part.path)
    val bytes = try in.readAllBytes() finally in.close()
    Records(graft.kernel.Hdf5Biom.readCoo(bytes, part.path).iterator, () => ())
  }

  override val column: PartialFunction[String, ColumnReader[(String, String, Double)]] = {
    case "sample_id" => (r, _) => UTF8String.fromString(r._1)
    case "feature_id" => (r, _) => UTF8String.fromString(r._2)
    case "value" => (r, _) => r._3
  }
}
