package graft.streaming

import graft.SparkFixture
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class EventStreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("windowed type counts aggregate incrementally across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val query = EventStreams.windowedTypeCounts(df, "1 minute", "30 seconds")
      .writeStream.format("memory").queryName("graft_stream_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      val t0 = Timestamp.valueOf("2026-01-01 10:00:10")
      val t1 = Timestamp.valueOf("2026-01-01 10:00:50")
      val t2 = Timestamp.valueOf("2026-01-01 10:01:10")
      input.addData((t0, "click", 1.0), (t1, "click", 2.0), (t1, "view", 5.0))
      query.processAllAvailable()
      input.addData((t2, "click", 10.0))
      query.processAllAvailable()
      val out = spark.sql("SELECT * FROM graft_stream_test")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2))
      assert(out.toSeq == Seq(
        ("2026-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2026-01-01 10:00:00.0", "view", 1L, 5.0),
        ("2026-01-01 10:01:00.0", "click", 1L, 10.0)))
    } finally query.stop()
  }

  test("batch events table runs through the same windowed aggregation") {
    import spark.implicits._
    // timestamps parse and format in the session time zone, so the
    // 1-day windows line up with the literal dates in any JVM time zone
    val events = Seq(
      ("2026-01-01 10:00:00", "click", 0.1),
      ("2026-01-01 23:59:59", "click", 0.2), // 0.1 + 0.2 as doubles is 0.30000000000000004
      ("2026-01-02 00:00:00", "click", 1.25), // next day's window
      ("2026-01-01 12:00:00", "view", 2.5))
      .toDF("ts", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts")))
    val out = EventStreams.windowedTypeCounts(events, "1 day")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"),
        col("event_type"), col("n"), col("total_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(out == Seq(
      ("2026-01-01 00:00:00", "click", 2L, 0.3),
      ("2026-01-01 00:00:00", "view", 1L, 2.5),
      ("2026-01-02 00:00:00", "click", 1L, 1.25)))
  }

  test("streaming dedup within watermark drops duplicates across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val df = input.toDF().toDF("event_id", "ts", "value")
    val query = EventStreams.dedupeWithinWatermark(df, Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("graft_dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData((1L, t("2026-01-01 10:00:00"), 1.0),
        (1L, t("2026-01-01 10:00:05"), 2.0), // in-batch dup
        (2L, t("2026-01-01 10:01:00"), 3.0))
      query.processAllAvailable()
      input.addData((1L, t("2026-01-01 10:02:00"), 4.0)) // cross-batch dup
      query.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM graft_dedup_test")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally query.stop()
  }

  test("dedupeWithinWatermark on a static frame keeps one row per key") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val events = Seq((1L, t("2026-01-01 10:00:00")), (1L, t("2026-01-01 10:00:00")),
        (2L, t("2026-01-01 10:01:00")))
      .toDF("event_id", "ts")
    val ids = EventStreams.dedupeWithinWatermark(events, Seq("event_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("interval join pairs clicks with in-window errors across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val errors = MemoryStream[(Long, Long, Timestamp)]
    def df(m: MemoryStream[(Long, Long, Timestamp)]) =
      m.toDF().toDF("event_id", "user_id", "ts")
    val query = EventStreams.intervalJoinPairs(df(clicks), df(errors),
        gapSeconds = 300L, watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("graft_ij_test")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      clicks.addData((1L, 10L, t("2026-01-01 10:00:00")))
      query.processAllAvailable()
      // errors arrive in a LATER micro-batch — the click is held in
      // join state and still pairs (the stateful point of the op)
      errors.addData(
        (100L, 10L, t("2026-01-01 10:03:00")), // in window
        (101L, 10L, t("2026-01-01 10:05:00")), // boundary: half-open, out
        (102L, 99L, t("2026-01-01 10:03:00"))) // other user
      query.processAllAvailable()
      val out = spark.sql("SELECT click_id, err_id, lag_us FROM graft_ij_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(out == Seq((1L, 100L, 180000000L)))
    } finally query.stop()
  }

  test("interval join batch twin matches a hand-derived pair set") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val clicks = Seq((1L, 10L, t("2026-01-01 10:00:00")),
      (2L, 10L, t("2026-01-01 10:10:00")),
      (3L, 20L, t("2026-01-01 10:00:00")))
      .toDF("event_id", "user_id", "ts")
    val errors = Seq((100L, 10L, t("2026-01-01 10:02:00")),
      (101L, 10L, t("2026-01-01 10:12:00")),
      (102L, 20L, t("2026-01-01 09:59:59")), // before the click
      (103L, 30L, t("2026-01-01 10:01:00")))
      .toDF("event_id", "user_id", "ts")
    val out = EventStreams.intervalJoinPairs(clicks, errors, gapSeconds = 300L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(out == Seq((1L, 100L, 120000000L), (2L, 101L, 120000000L)))
  }
}
