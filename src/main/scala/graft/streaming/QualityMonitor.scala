package graft.streaming

import graft.ops.Curation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming corpus-quality monitoring: the curation-rules gate
  * evaluated per document as it arrives, aggregated into event-time
  * windows — the pipeline-health dashboard a continuously-ingesting
  * training-data system watches to catch a crawler regression (pass
  * rate cliff) within minutes instead of at the next corpus audit.
  *
  * The SAME function runs in batch (the h04 oracle row value-compares
  * it against DuckDB) and in streaming (pass a readStream DataFrame
  * and a watermark): the rules gate is stateless per-row work
  * ([[Curation.gopherReason]] appends its verdict column), so the
  * only stateful operator is the windowed count — bounded state,
  * evicted as the watermark advances.
  *
  * Scale shape: map-only gate evaluation, then one aggregate keyed by
  * (window) — O(windows) state total, independent of document volume;
  * partial counts combine map-side. Document text never rides the
  * shuffle (only the boolean verdict does).
  */
object QualityMonitor {

  /** Per-window gate statistics: (window_start, n_docs, n_kept,
    * pass_rate_milli). `watermark` must be set for streaming use
    * (append mode needs closed windows); leave None in batch.
    */
  def windowedPassRate(docs: DataFrame, tsCol: String, textCol: String,
      langCol: String, windowDur: String = "60 seconds",
      minTokens: Int = 40,
      watermark: Option[String] = None): DataFrame = {
    val gated0 = Curation.gopherReason(docs, textCol, langCol,
        minTokens = minTokens)
      .select(col(tsCol).as("ts"), col("drop_reason").isNull.as("keep"))
    val gated = watermark.fold(gated0)(w => gated0.withWatermark("ts", w))
    gated
      .groupBy(window(col("ts"), windowDur))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      // integer milli-rate: exact cross-engine, no float division drift
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("n_docs"), col("n_kept"),
        expr("(n_kept * 1000) div n_docs").as("pass_rate_milli"))
  }

  /** Windowed out-of-vocabulary rate against a static reference
    * vocabulary — the STREAMING-FEASIBLE slice of token-distribution
    * drift (l61's full TVD needs per-token counts, i.e. vocab-sized
    * state per window; OOV rate needs only scalar counters). A rising
    * OOV rate against the accepted corpus's vocabulary is the online
    * tripwire for a crawler/source regression.
    *
    * The same function runs batch (the h05 oracle row) and streaming:
    * tokens explode statelessly, membership is a stream-static LEFT
    * join against the broadcast `refVocab` (one `word` column), and
    * the only stateful operator is the windowed scalar aggregate —
    * O(windows) state, evicted by the watermark. Output per window:
    * (window_start, n_docs, n_tokens, n_oov, oov_rate_milli), where
    * n_docs counts documents with ≥ 1 token.
    */
  def windowedOovRate(docs: DataFrame, tsCol: String, textCol: String,
      refVocab: DataFrame, windowDur: String = "60 seconds",
      watermark: Option[String] = None): DataFrame = {
    val toks0 = docs
      .select(col(tsCol).as("ts"),
        posexplode(graft.ops.TextCols.toks(col(textCol))))
      .select(col("ts"), (col("pos") === 0).as("first_tok"),
        col("col").as("tok"))
    val toks = watermark.fold(toks0)(w => toks0.withWatermark("ts", w))
    toks
      .join(broadcast(refVocab.select(col("word").as("tok"),
        lit(true).as("in_ref")).distinct()), Seq("tok"), "left")
      .groupBy(window(col("ts"), windowDur))
      .agg(
        sum(when(col("first_tok"), 1L).otherwise(0L)).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_ref").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("n_docs"), col("n_tokens"), col("n_oov"),
        expr("(n_oov * 1000) div n_tokens").as("oov_rate_milli"))
  }

  /** Windowed embedding-distribution drift against a static k-means
    * model: per arriving vector, the exact integer distance to its
    * nearest trained centroid (ops/Clustering.nearestCentroid — the
    * model rides the plan as ONE reference object, so scoring is a
    * stateless map: no join, no stream-side model state); per window,
    * the mean distance and the fraction beyond `farThreshold`. A
    * rising far-rate is the online tripwire for an embedding-space
    * regime change (new content domain, upstream encoder swap) —
    * the vector-side counterpart of the h05 OOV monitor.
    *
    * Same function runs batch (the h06 oracle row re-derives the
    * training AND the scoring in DuckDB) and streaming (only stateful
    * operator: the windowed scalar aggregate, O(windows) state).
    * All outputs integer-exact: mean_dist = sum div n,
    * far_rate_milli = 1000·n_far div n.
    */
  /** Windowed decontamination leak-rate against a static benchmark
    * fingerprint set (the ONLINE half of l74's span-excision family —
    * the ingest tripwire that fires when a new crawl slice suddenly
    * contains eval-suite text): per arriving document, the count of
    * ≥n-token windows whose md5 fingerprint appears in the benchmark
    * set; per event-time window, document/gram totals and the leak
    * rate in exact integer milli.
    *
    * The benchmark fingerprint set rides the plan as ONE broadcast
    * reference object (eval suites are model-sized — the centroid
    * contract, not a stream-stream join), so scoring is a stateless
    * map and the only stateful operator is the windowed scalar
    * aggregate: O(windows) state, watermark-safe in append mode.
    */
  def windowedLeakRate(docs: DataFrame, tsCol: String, textCol: String,
      benchmarkFps: Array[Long], n: Int,
      windowDur: String = "60 seconds",
      watermark: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val fpSetBc = spark.sparkContext.broadcast(benchmarkFps.toSet)
    val leakUdf = udf((text: String) => {
      val hs = graft.kernel.TextKernel.slidingWindowHashes(text, n)
      val set = fpSetBc.value
      var leaked = 0L
      var i = 0
      while (i < hs.length) { if (set.contains(hs(i))) leaked += 1; i += 1 }
      Array(hs.length.toLong, leaked)
    })
    val scored0 = docs.select(col(tsCol).as("ts"),
        leakUdf(col(textCol)).as("ln"))
      .select(col("ts"), col("ln")(0).as("n_grams"), col("ln")(1).as("n_leaked"))
    val scored = watermark.fold(scored0)(w => scored0.withWatermark("ts", w))
    scored
      .groupBy(window(col("ts"), windowDur))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_leaked") > 0, 1L).otherwise(0L)).as("n_docs_leaked"),
        sum(col("n_grams")).as("n_grams"),
        sum(col("n_leaked")).as("n_leaked"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("n_docs"), col("n_docs_leaked"), col("n_grams"), col("n_leaked"),
        when(col("n_grams") === 0, 0L)
          .otherwise(expr("(n_leaked * 1000) div n_grams"))
          .as("leak_rate_milli"))
  }

  def windowedEmbeddingDrift(vecs: DataFrame, tsCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Long])], farThreshold: Long,
      windowDur: String = "60 seconds", scale: Int = 1000,
      watermark: Option[String] = None): DataFrame = {
    val scored0 = vecs.select(col(tsCol).as("ts"),
      graft.ops.Clustering.nearestCentroid(col(vecCol), centroids, scale)
        .getField("dist").as("dist"))
    val scored = watermark.fold(scored0)(w => scored0.withWatermark("ts", w))
    scored
      .groupBy(window(col("ts"), windowDur))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dist")).as("sum_dist"),
        sum(when(col("dist") > farThreshold, 1L).otherwise(0L)).as("n_far"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("n_vecs"),
        expr("sum_dist div n_vecs").as("mean_dist"),
        expr("(n_far * 1000) div n_vecs").as("far_rate_milli"))
  }
}
