package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** BIOM sparse-feature-table operators (reference: src/read_biom.cpp,
  * src/BIOMReader.cpp, src/copy_biom.cpp).
  *
  * `.biom` paths are BIOM v2.1 HDF5 files, read and written by the
  * pure-JVM subset codecs `kernel/Hdf5Biom` and `kernel/Hdf5BiomWriter`.
  * Any other path is a documented Parquet container (`.biomq`):
  * `sample_id VARCHAR, feature_id VARCHAR, value DOUBLE`, zeros never
  * materialized.
  */
object BiomOps {

  /** COPY ... (FORMAT BIOM) (reference: src/copy_biom.cpp,
    * README.md:2588-2594): duplicate (feature, sample) pairs are
    * SUMMED, zero values dropped, NULL in any column is an error.
    * `compression` ('gzip'/'gz'/'none', default gzip — reference
    * src/copy_biom.cpp:22,105-112) applies to the HDF5 (.biom)
    * container's datasets; it is checked for every path. The HDF5 id
    * tables are driver-sized (the reference collects them too); COO
    * rows stream through the driver.
    */
  def copyBiom(df: DataFrame, path: String, compression: String = "gzip"): Unit =
    if (path.endsWith(".biom")) Writers.biom(df, path, None, compression)
    else {
      val table = Writers.biomTable(df, compression)
      Writers.withPlannedRows(table) { rows =>
        Writers.checkBiomNulls(rows)
        df.sparkSession.createDataFrame(rows.map(r => Row(r(0), r(1), r(2))),
          StructType(table.schema.take(3))).write.mode("overwrite").parquet(path)
      }
    }

  /** read_biom: HDF5 BIOM v2.1 (.biom) via the pure-JVM subset codec,
    * or the documented parquet container → COO relation.
    */
  def readBiom(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".biom")) readBiomHdf5(spark, path)
    else spark.read.parquet(path).select("sample_id", "feature_id", "value")

  /** HDF5 BIOM v2.1 reader (kernel/Hdf5Biom; reference: src/BIOMReader
    * .cpp). Multiple comma-separated paths/globs concatenate. Files
    * decode EXECUTOR-side (DataSource V2 `biom`, one partition per
    * file) — many files fan out across the cluster instead of
    * serializing through the driver.
    */
  def readBiomHdf5(spark: SparkSession, path: String): DataFrame =
    spark.read.format("biom").load(path)
}
