package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The materialization side of curation: write a document corpus as
  * deterministic training shards plus a manifest. Trainers consume
  * shards as the unit of parallelism/resume, so the contract is:
  * membership is content-independent and stable (the md5 id-hash
  * family — re-running after an upstream refresh moves only changed
  * docs), every shard lands as ONE parquet file under
  * `shard=K/`, and the manifest records per-shard document/token
  * counts so a loader can weight or skip shards without opening them.
  *
  * Scale shape: one `repartition(n, shard)` shuffle co-locates each
  * shard (partitionBy then writes one file per shard per partition —
  * with the shard column the partitioner key, that is one file per
  * shard); the manifest is a |shards|-row aggregate. At 100 TB you
  * raise `shards` so each file stays at a sane size (the usual
  * 100 MB–1 GB window) — nothing else changes.
  */
object CorpusWriter {

  /** Write `docs` as `shards` parquet shards under `path` and return
    * the manifest DataFrame (shard, n_docs, n_tokens) that was also
    * written to `path/_manifest`. `spark.read.parquet(path)` reads
    * the corpus back with `shard` restored from the directory layout.
    */
  def writeShards(docs: DataFrame, idCol: String, textCol: String,
      path: String, shards: Int): DataFrame = {
    require(shards > 0, "shards must be positive")
    val nTok = size(filter(split(lower(col(textCol)),
      graft.kernel.TextKernel.WsPlus), t => t =!= "")).cast("long")
    val withShard = docs
      .withColumn("shard",
        Sampling.hashBucket(col(idCol).cast("string")) % shards)
      .withColumn("n_tokens", nTok)
    withShard
      .repartition(shards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    val manifest = withShard.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$path/_manifest")
    manifest
  }
}
