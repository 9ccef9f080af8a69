package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming operators over the events-stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference is batch-only (SURVEY §1.1: "streaming" there means
  * streaming I/O), so these are the Spark-native extension the brief
  * asks for: the SAME logical aggregations as the batch layer, run
  * incrementally with event-time watermarks. At scale the windowed
  * aggregate is a streaming shuffle keyed on (window, event_type) with
  * state bounded by the watermark horizon.
  *
  * Each operator also runs in batch over the static events table as a
  * Verify row (h01, h03, h08); `withWatermark` is a no-op there.
  */
object EventStreams {

  /** Tumbling-window per-type aggregate with a watermark: late events
    * beyond the delay are dropped, state is purged as the watermark
    * advances (bounded memory forever). `total_value` sums whole cents
    * (each value rounded to 2 dp, summed as a long), so the total is
    * exact whatever the summation order — the contract h01's DuckDB
    * oracle compares against.
    */
  def windowedTypeCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (sum(round(col("value") * 100, 0).cast("long")).cast("double") / 100.0)
          .as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Stream-stream event-time interval join: for every click, the
    * errors by the same user inside [click_ts, click_ts + gapSeconds)
    * — the "which errors followed this interaction" shape. Both sides
    * carry watermarks, so Spark's stream-stream join keeps state only
    * for the range-condition horizon plus the watermark delay and
    * evicts it as event time advances (bounded state forever). The
    * range comparison and the emitted lag are epoch-micros integer
    * arithmetic, so batch results compare exactly across engines.
    *
    * The same function runs unchanged in BATCH mode (`withWatermark`
    * is a no-op there): h03_interval_join registers it over the
    * static events table as the value-compared twin, and the
    * streaming spec drives it with MemoryStreams. At scale the join
    * is a user_id-keyed streaming shuffle on both sides — the same
    * partitioning a42's batch range join uses, with AQE handling
    * skewed users in batch and state-store partitioning in streams.
    */
  def intervalJoinPairs(clicks: DataFrame, errors: DataFrame,
      gapSeconds: Long = 300L,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds must be positive: $gapSeconds")
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermarkDelay)
    val e = errors.select(col("event_id").as("err_id"),
        col("user_id").as("e_user"), col("ts").as("e_ts"))
      .withWatermark("e_ts", watermarkDelay)
    c.join(e,
        col("c_user") === col("e_user")
          && col("e_ts") >= col("c_ts")
          && col("e_ts") < col("c_ts") + expr(s"INTERVAL '$gapSeconds' SECOND"))
      .select(col("click_id"), col("err_id"),
        (unix_micros(col("e_ts").cast("timestamp"))
          - unix_micros(col("c_ts").cast("timestamp"))).as("lag_us"))
  }

  /** Streaming exact dedup with BOUNDED state:
    * dropDuplicatesWithinWatermark holds a key only until the watermark
    * passes its event time + delay, so state is O(keys per watermark
    * horizon) — the streaming twin of the batch exact-dedup operator
    * (duplicates in a training-data feed usually arrive close together;
    * the horizon is the dedup window). Spark's analyzer rejects
    * `dropDuplicatesWithinWatermark` on a static frame, where a
    * watermark bounds nothing anyway, so a static frame gets
    * `dropDuplicates(keyCols)`; h08 runs it that way.
    */
  def dedupeWithinWatermark(
      events: DataFrame,
      keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events
        .withWatermark("ts", watermarkDelay)
        .dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)
}
