package graft.plans

import graft.SparkFixture
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** FramelessWindowStrategy's join form vs Spark's sorting WindowExec:
  * identical results on every aggregate/key shape, and the plan
  * actually takes the join form (no sort) exactly when the window is
  * frameless.
  */
class FramelessWindowSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  import spark.implicits._

  private def withHashWindow[T](enabled: Boolean)(f: => T): T = {
    val key = FramelessWindowStrategy.EnabledKey
    val forceKey = FramelessWindowStrategy.ForceKey
    val prev = spark.conf.getOption(key)
    val prevForce = spark.conf.getOption(forceKey)
    spark.conf.set(key, enabled.toString)
    // the spec's frames are tiny (and some key on primitives); force
    // past the size/key-type gates so plan-shape assertions exercise
    // the strategy rather than the fallback
    if (enabled) spark.conf.set(forceKey, "true")
    try f finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      prevForce match {
        case Some(v) => spark.conf.set(forceKey, v)
        case None => spark.conf.unset(forceKey)
      }
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Every operator in the FINAL (post-AQE) physical plan: unwraps
    * AdaptiveSparkPlanExec and descends into QueryStageExec, which is
    * a LeafExecNode hiding its stage plan from collect{}. */
  private def allOps(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allOps(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: allOps(q.plan)
    case other => other +: other.children.flatMap(allOps)
  }

  private def hashJoins(ops: Seq[org.apache.spark.sql.execution.SparkPlan]) =
    ops.collect { case j: ShuffledHashJoinExec => j }

  /** Run `q` with the strategy on and off; assert both agree, and that
    * the strategy's plan is the sort-free join form (or, when
    * `expectHash` is false, the WindowExec fallback). */
  private def check(q: => DataFrame, expectHash: Boolean = true): Unit = {
    val offRows = withHashWindow(false)(sortedRows(q))
    withHashWindow(true) {
      val df = q
      val rows = sortedRows(df)
      assert(rows == offRows, "results differ from WindowExec")
      val onPlan = df.queryExecution.executedPlan
      val onOps = allOps(onPlan)
      val windowExecs = onOps.collect { case w: WindowExec => w }
      if (expectHash) {
        assert(windowExecs.isEmpty, s"still has WindowExec:\n$onPlan")
        assert(onOps.collect { case s: SortExec => s }.isEmpty,
          s"plan must not sort:\n$onPlan")
        assert(hashJoins(onOps).nonEmpty, s"expected shuffled hash join:\n$onPlan")
      } else {
        assert(hashJoins(onOps).isEmpty)
        assert(windowExecs.nonEmpty, s"expected WindowExec fallback:\n$onPlan")
      }
    }
  }

  private lazy val df = Seq(
    ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0),
    ("b", 4, 5.5), ("b", 5, Double.NaN),
    ("c", 6, -7.25)
  ).toDF("k", "i", "x")

  test("count(*) over (partition by k) — the a16 shape") {
    check(df.select($"k", $"i", count(lit(1)).over(Window.partitionBy($"k")).as("cnt")))
  }

  test("join mode writes ONE shuffle, read twice (ReusedExchange / stage reuse)") {
    withHashWindow(true) {
      val d = df.select($"k", $"i", count(lit(1)).over(Window.partitionBy($"k")).as("cnt"))
      d.collect()
      val ops = allOps(d.queryExecution.executedPlan)
      val exchanges = ops.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // two plan positions, ONE distinct exchange: the second is either
      // the same (reused) stage instance or a ReusedExchange wrapper
      val distinct = exchanges.foldLeft(List.empty[AnyRef]) {
        case (acc, e) => if (acc.exists(_ eq e)) acc else e :: acc
      }
      assert(distinct.size == 1,
        s"expected one reused shuffle, got ${exchanges.size} occurrences / " +
          s"${distinct.size} distinct:\n${d.queryExecution.executedPlan}")
    }
  }

  test("sum/avg/min/max/stddev over the same partition in one window node") {
    val w = Window.partitionBy($"k")
    check(df.select($"k", $"i",
      sum($"i").over(w).as("s"), avg($"x").over(w).as("a"),
      min($"x").over(w).as("mn"), max($"x").over(w).as("mx"),
      stddev($"x").over(w).as("sd")))
  }

  test("null partition keys form their own group") {
    val d = Seq((Some("a"), 1), (None, 2), (None, 3), (Some("b"), 4))
      .toDF("k", "v")
    check(d.select($"k", $"v", sum($"v").over(Window.partitionBy($"k")).as("s")))
  }

  test("multi-column partition keys") {
    val d = Seq(("x", 1, 2L), ("x", 1, 3L), ("x", 2, 4L), ("y", 1, 5L))
      .toDF("k1", "k2", "v")
    check(d.select($"k1", $"k2", $"v",
      count(lit(1)).over(Window.partitionBy($"k1", $"k2")).as("c"),
      sum($"v").over(Window.partitionBy($"k1", $"k2")).as("s")))
  }

  test("floating-point partition keys: NaN and -0.0 normalize like GROUP BY") {
    val d = Seq(Double.NaN, Double.NaN, 0.0, -0.0, 1.5)
      .toDF("k")
    check(d.select($"k", count(lit(1)).over(Window.partitionBy($"k")).as("c")))
  }

  test("sf0.001 lineitem matches the oracle shape end-to-end") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    check(li.select($"l_orderkey", $"l_linenumber",
      count(lit(1)).over(Window.partitionBy($"l_orderkey")).as("cnt")))
  }

  test("ordered windows and ranking functions are NOT taken") {
    check(df.select($"k", $"i",
      row_number().over(Window.partitionBy($"k").orderBy($"i")).as("rn")),
      expectHash = false)
    check(df.select($"k", $"i",
      sum($"i").over(Window.partitionBy($"k").orderBy($"i")).as("run")),
      expectHash = false)
  }

  test("imperative aggregates (collect_list) are NOT taken") {
    check(df.select($"k", $"i",
      size(collect_list($"i").over(Window.partitionBy($"k"))).as("n")),
      expectHash = false)
  }

  test("small inputs fall back to WindowExec (size gate, default threshold)") {
    // strategy enabled but WITHOUT zeroing the size gate: a 6-row local
    // relation is far below the 64 MB default, so the sort-based
    // WindowExec must win — the join form's constant factor (second
    // exchange read + hash-join build) is a measured regression at
    // small scale (VERDICT r6, What's wrong #1).
    val d = df.select($"k", count(lit(1)).over(Window.partitionBy($"k")).as("c"))
    d.collect()
    val ops = allOps(d.queryExecution.executedPlan)
    assert(hashJoins(ops).isEmpty,
      s"size gate should have suppressed the join form:\n${d.queryExecution.executedPlan}")
    assert(ops.collect { case w: WindowExec => w }.nonEmpty)
  }

  test("key-type gate: primitive keys keep WindowExec, string keys take the join") {
    // zero the SIZE gate only (not force): the key-TYPE heuristic must
    // decide — radix-sortable primitive keys keep the sort (measured
    // faster at every probed scale), variable-width keys take the join
    // form (SCALE.md round 7: long vs md5-string key at 60M rows)
    val minKey = FramelessWindowStrategy.MinChildBytesKey
    val prevMin = spark.conf.getOption(minKey)
    spark.conf.set(minKey, "0")
    try {
      val numeric = df.select($"i", count(lit(1)).over(Window.partitionBy($"i")).as("c"))
      numeric.collect()
      assert(allOps(numeric.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }.nonEmpty,
        s"numeric key must keep WindowExec:\n${numeric.queryExecution.executedPlan}")
      val str = df.select($"k", count(lit(1)).over(Window.partitionBy($"k")).as("c"))
      str.collect()
      assert(allOps(str.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }.isEmpty,
        s"string key must take the join form:\n${str.queryExecution.executedPlan}")
    } finally prevMin match {
      case Some(v) => spark.conf.set(minKey, v)
      case None => spark.conf.unset(minKey)
    }
  }

  test("kill switch falls back to WindowExec") {
    withHashWindow(false) {
      val d = df.select($"k", count(lit(1)).over(Window.partitionBy($"k")).as("c"))
      d.collect()
      val ops = allOps(d.queryExecution.executedPlan)
      assert(hashJoins(ops).isEmpty)
      assert(ops.collect { case w: WindowExec => w }.nonEmpty)
    }
  }
}
