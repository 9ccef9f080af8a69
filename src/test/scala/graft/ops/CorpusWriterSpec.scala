package graft.ops

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

class CorpusWriterSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("writes one file per shard, a consistent manifest, and round-trips") {
    import spark.implicits._
    val docs = (0 until 200).map(i => (i.toLong, s"doc $i has ${"w " * (i % 9)}"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val manifest = CorpusWriter.writeShards(docs, "doc_id", "text", dir, shards = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(manifest.keySet.subsetOf(Set(0L, 1L, 2L, 3L)))
    assert(manifest.values.map(_._1).sum == 200L)
    // exactly one data file per shard directory
    for (k <- manifest.keys) {
      val files = new java.io.File(s"$dir/shard=$k").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $k has ${files.length} files")
    }
    // round-trip: all docs, shard column restored from the directory
    // layout, assignment stable
    val back = spark.read.parquet(dir)
    assert(back.count() == 200L)
    val reassigned = back.select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val expected = docs.select(col("doc_id"),
        (Sampling.hashBucket(col("doc_id").cast("string")) % 4).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reassigned == expected)
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
