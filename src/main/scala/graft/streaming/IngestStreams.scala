package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming ingestion guards for a training-data corpus:
  * the streaming twins of the batch curation ops, for the arrival
  * path where shards land continuously and duplicates should be
  * flagged BEFORE they reach the corpus.
  */
object IngestStreams {

  /** Streaming near-dup detection of arriving documents against a
    * PERSISTED MinHash index — the streaming twin of
    * [[Dedup.minhashNewVsPrebuiltIndex]]. Both sides band through
    * [[Dedup.minhashIndex]] + `explodeBanded` (the batch path's hash
    * family, so a key collides here iff it collides there); each
    * micro-batch computes its documents' band keys map-side and
    * stream-static joins the index's band buckets. Collisions are
    * verified with exact n-gram Jaccard on the text and emitted as
    * (new_id, matched_id, jaccard, ts) append-mode rows.
    *
    * State design: the stream-static join itself is STATELESS (the
    * static side is just re-read per micro-batch and broadcast/hash
    * joined), so the only state is the
    * `dropDuplicatesWithinWatermark` pair-emission guard — a doc
    * colliding with the same index entry in several bands (or across
    * restarts within the watermark horizon) emits once. State is
    * bounded by pairs per watermark horizon, the same contract as
    * [[EventStreams.dedupeWithinWatermark]].
    *
    * `newDocs` must be a streaming DataFrame with (idCol, textCol,
    * tsCol); `index` is a batch DataFrame (idCol, textCol) — in
    * production the banded form would be precomputed and persisted;
    * deriving it here keeps the two sides' hash family provably
    * identical.
    */
  def dedupAgainstIndex(
      newDocs: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      shingleN: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    def banded(docs: DataFrame, carry: Seq[String]): DataFrame =
      Dedup.explodeBanded(Dedup.minhashIndex(docs, idCol, textCol,
        shingleN, numHashes, bands, carryCols = carry))
    // static side: (band, band_hash, matched_id, text_b), resolved
    // once per micro-batch
    val indexSide = banded(
        index.select(col(idCol), col(textCol), col(textCol).as("text_b")),
        Seq("text_b"))
      .select(col("id").as("matched_id"), col("text_b"),
        col("band"), col("band_hash"))
    // stream side: band keys computed map-side with text and ts
    // CARRIED through the explode (a payload-free join-back by id
    // would be a stream-stream join and need its own watermark state)
    banded(
        newDocs.select(col(idCol), col(textCol), col(textCol).as("text_a"),
          col(tsCol).as("ts")),
        Seq("text_a", "ts"))
      .join(indexSide, Seq("band", "band_hash"))
      .select(col("id").as("new_id"), col("matched_id"),
        Dedup.ngramJaccard(col("text_a"), col("text_b"), shingleN)
          .as("jaccard"),
        col("ts"))
      .filter(col("jaccard") >= threshold)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("new_id", "matched_id")
  }

  /** Streaming as-of enrichment against a VERSIONED static dimension —
    * the streaming twin of `ScalableOps.asofJoinBackward`: each
    * arriving row picks up the dimension version in effect at its
    * event time (greatest `dimTimeCol` ≤ its `timeCol` per key);
    * rows before any version keep null dimension columns.
    *
    * Fully STATELESS: a broadcast (key → sorted version-times) lookup
    * resolves the effective version map-side, then a stream-static
    * broadcast left join on (key, version-time) attaches the dimension
    * payload generically — no streaming aggregation, no state store,
    * so it composes with any downstream watermark/window. The
    * dimension must be driver-collectable (it is a dimension — the
    * SCD2 contract; ~millions of versions fit comfortably). Time
    * columns must be integral (epoch micros, versions...) — cast
    * timestamps with `unix_micros` first; dimension payload names
    * must not collide with stream columns (keys excepted).
    */
  def asofEnrichStatic(
      stream: DataFrame,
      dim: DataFrame,
      keyCol: String,
      timeCol: String,
      dimTimeCol: String): DataFrame = {
    val spark = dim.sparkSession
    val collide = dim.columns.filterNot(c => c == keyCol || c == dimTimeCol)
      .filter(stream.columns.contains)
    require(collide.isEmpty, s"dim columns collide with stream: ${collide.toSeq}")
    val versionTimes: Map[Long, Array[Long]] = dim
      .select(col(keyCol).cast("long"), col(dimTimeCol).cast("long"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (k, rows) => k -> rows.map(_.getLong(1)).sorted }
    val bc = spark.sparkContext.broadcast(versionTimes)
    val pick = udf((k: Long, t: Long) => {
      val arr = bc.value.getOrElse(k, Array.emptyLongArray)
      // greatest version time <= t (binary search over the sorted arr)
      var lo = 0
      var hi = arr.length - 1
      var res = Long.MinValue
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (arr(mid) <= t) { res = arr(mid); lo = mid + 1 } else hi = mid - 1
      }
      if (res == Long.MinValue) None else Some(res)
    })
    stream
      .withColumn("__dim_t",
        pick(col(keyCol).cast("long"), col(timeCol).cast("long")))
      .join(
        broadcast(dim
          .withColumnRenamed(keyCol, "__dk")
          .withColumnRenamed(dimTimeCol, "__dt")),
        col(keyCol).cast("long") === col("__dk").cast("long")
          && col("__dim_t") === col("__dt").cast("long"),
        "left")
      .drop("__dim_t", "__dk", "__dt")
  }
}
