package graft.streaming

import java.sql.Timestamp

import graft.SparkFixture
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class QualityMonitorSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def t(s: String) = Timestamp.valueOf(s)

  // minTokens = 3: "the cat sat" passes every rule (stopword present,
  // all-alpha, mean len 3.0 on the >= boundary); "zz yy" is too_short
  private val passText = "the cat sat"
  private val failText = "zz yy"

  private val rows = Seq(
    (t("2026-01-01 10:00:05"), passText, "en"),
    (t("2026-01-01 10:00:40"), failText, "en"),
    (t("2026-01-01 10:00:59"), passText, "en"),
    (t("2026-01-01 10:01:10"), passText, "zz"), // lang-dropped
    (t("2026-01-01 10:01:30"), passText, "en"))

  private val expected = Set(
    ("2026-01-01 10:00:00", 3L, 2L, 666L),
    ("2026-01-01 10:01:00", 2L, 1L, 500L))

  test("batch windows: hand-computed pass rates") {
    import spark.implicits._
    val got = QualityMonitor.windowedPassRate(
        rows.toDF("ts", "text", "lang"), "ts", "text", "lang",
        windowDur = "60 seconds", minTokens = 3)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("the same function runs as a streaming query with identical output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, String)]
    val query = QualityMonitor.windowedPassRate(
        input.toDF().toDF("ts", "text", "lang"), "ts", "text", "lang",
        windowDur = "60 seconds", minTokens = 3)
      .writeStream.format("memory").queryName("graft_quality_monitor")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(rows.take(2))
      query.processAllAvailable()
      input.addData(rows.drop(2)) // second micro-batch updates windows
      query.processAllAvailable()
      val got = spark.sql(
          "SELECT * FROM graft_quality_monitor")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got == expected)
    } finally query.stop()
  }

  test("watermarked append mode emits closed windows only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, String)]
    val query = QualityMonitor.windowedPassRate(
        input.toDF().toDF("ts", "text", "lang"), "ts", "text", "lang",
        windowDur = "60 seconds", minTokens = 3,
        watermark = Some("30 seconds"))
      .writeStream.format("memory").queryName("graft_quality_monitor_wm")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows)
      query.processAllAvailable()
      // advance event time far enough to close both windows
      input.addData(Seq((t("2026-01-01 10:10:00"), passText, "en")))
      query.processAllAvailable()
      val got = spark.sql(
          "SELECT * FROM graft_quality_monitor_wm")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got == expected) // the 10:10 window is still open: absent
    } finally query.stop()
  }

  // OOV monitor fixtures: ref vocab = {the, cat, sat}; "zz yy" is 100%
  // OOV, "the cat zz" is 1/3 OOV; the empty doc contributes no tokens
  // and no doc count.
  private val oovRows = Seq(
    (t("2026-01-01 10:00:05"), "the cat sat"),
    (t("2026-01-01 10:00:40"), "zz yy"),
    (t("2026-01-01 10:01:10"), "the cat zz"),
    (t("2026-01-01 10:01:20"), ""))

  private val oovExpected = Set(
    ("2026-01-01 10:00:00", 2L, 5L, 2L, 400L),
    ("2026-01-01 10:01:00", 1L, 3L, 1L, 333L))

  private def refVocab = {
    import spark.implicits._
    Seq("the", "cat", "sat").toDF("word")
  }

  test("batch OOV windows: hand-computed rates, empty docs excluded") {
    import spark.implicits._
    val got = QualityMonitor.windowedOovRate(
        oovRows.toDF("ts", "text"), "ts", "text", refVocab,
        windowDur = "60 seconds")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == oovExpected)
  }

  test("OOV monitor runs as a streaming query with identical output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val query = QualityMonitor.windowedOovRate(
        input.toDF().toDF("ts", "text"), "ts", "text", refVocab,
        windowDur = "60 seconds")
      .writeStream.format("memory").queryName("graft_oov_monitor")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(oovRows.take(2))
      query.processAllAvailable()
      input.addData(oovRows.drop(2))
      query.processAllAvailable()
      val got = spark.sql("SELECT * FROM graft_oov_monitor")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(got == oovExpected)
    } finally query.stop()
  }

  // ---- embedding drift monitor (h06) ----

  // 2-dim model: centroids at (0,0) and (10,10) in code space (scale
  // 1000 → codes ±10000). Arrivals: near c0 (dist 2), near c1
  // (dist 8), far outlier (dist (5000-0)²·2 to c0 ... min over both).
  private val driftCentroids = Seq(
    0L -> Seq(0L, 0L), 1L -> Seq(10000L, 10000L))
  private val driftRows = Seq(
    (t("2026-01-01 10:00:05"), Seq(0.001f, 0.001f)),   // dist 2 to c0
    (t("2026-01-01 10:00:40"), Seq(10.002f, 10.002f)), // dist 2 to c1
    (t("2026-01-01 10:01:10"), Seq(5.0f, 5.0f)))       // dist 5e7 — far
  // codes: 0.001f widens ABOVE (1.000000047 → 1); 10.002f widens BELOW
  // (10001.99985 → 10001) — the same float-grid honesty the
  // ClusteringSpec iters=0 test pins. window 10:00: n=2, mean=(2+2)/2;
  // window 10:01: n=1, mean=5e7, far 1000‰
  private val driftExpected = Set(
    ("2026-01-01 10:00:00", 2L, 2L, 0L),
    ("2026-01-01 10:01:00", 1L, 50000000L, 1000L))

  test("batch drift windows: hand-computed mean distance and far rate") {
    import spark.implicits._
    val got = QualityMonitor.windowedEmbeddingDrift(
        driftRows.toDF("ts", "embedding"), "ts", "embedding",
        driftCentroids, farThreshold = 1000000L, windowDur = "60 seconds")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == driftExpected)
  }

  test("drift monitor runs as a streaming query with identical output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Seq[Float])]
    val query = QualityMonitor.windowedEmbeddingDrift(
        input.toDF().toDF("ts", "embedding"), "ts", "embedding",
        driftCentroids, farThreshold = 1000000L, windowDur = "60 seconds")
      .writeStream.format("memory").queryName("graft_drift_monitor")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(driftRows.take(1))
      query.processAllAvailable()
      input.addData(driftRows.drop(1))
      query.processAllAvailable()
      val got = spark.sql("SELECT * FROM graft_drift_monitor")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got == driftExpected)
    } finally query.stop()
  }

  // ---- decontamination leak-rate monitor (h07) ----

  // benchmark = the single 3-gram "eval question alpha" (n = 3).
  // doc A contains it once among 4 windows ("the eval question alpha
  // beta x" → 4 windows, 1 leaked); doc B is clean (3 windows); doc C
  // is the benchmark verbatim (1 window, 1 leaked); doc D is too short
  // for any window (0 grams, counted as a doc).
  private val leakFps: Array[Long] = Array(
    graft.kernel.TextKernel.slidingWindowHashes("eval question alpha", 3).head)
  private val leakRows = Seq(
    (t("2026-01-01 10:00:05"), "the eval question alpha beta x"),
    (t("2026-01-01 10:00:40"), "totally clean text here now"),
    (t("2026-01-01 10:01:10"), "eval question alpha"),
    (t("2026-01-01 10:01:30"), "tiny doc"))
  // window 10:00: docs 2, leaked docs 1, grams 4+3=7, leaked 1 → 142‰
  // window 10:01: docs 2, leaked docs 1, grams 1+0=1, leaked 1 → 1000‰
  private val leakExpected = Set(
    ("2026-01-01 10:00:00", 2L, 1L, 7L, 1L, 142L),
    ("2026-01-01 10:01:00", 2L, 1L, 1L, 1L, 1000L))

  test("batch leak-rate windows: hand-computed counts incl. a zero-gram doc") {
    import spark.implicits._
    val got = QualityMonitor.windowedLeakRate(
        leakRows.toDF("ts", "text"), "ts", "text", leakFps, n = 3,
        windowDur = "60 seconds")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == leakExpected)
  }

  test("leak-rate monitor runs as a streaming query with identical output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val query = QualityMonitor.windowedLeakRate(
        input.toDF().toDF("ts", "text"), "ts", "text", leakFps, n = 3,
        windowDur = "60 seconds")
      .writeStream.format("memory").queryName("graft_leak_monitor")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(leakRows.take(2))
      query.processAllAvailable()
      input.addData(leakRows.drop(2))
      query.processAllAvailable()
      val got = spark.sql("SELECT * FROM graft_leak_monitor")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      assert(got == leakExpected)
    } finally query.stop()
  }
}
