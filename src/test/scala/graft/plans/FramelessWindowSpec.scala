package graft.plans

import graft.SparkFixture
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Frameless window aggregates — `agg(x) OVER (PARTITION BY k)`, the
  * shape of a16 and of woltka_ogu's `1/COUNT(*) OVER (PARTITION BY
  * read, orientation)` — run on Spark's own WindowExec, in one window
  * node, and equal the GROUP BY k form joined back null-safely: NULL
  * keys form a group, and NaN and -0.0 keys group as GROUP BY groups
  * them, the semantics the DuckDB oracle compares against.
  */
class FramelessWindowSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  import spark.implicits._

  /** Every operator in the final (post-AQE) physical plan. */
  private def allOps(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allOps(a.executedPlan)
    case q: QueryStageExec => q +: allOps(q.plan)
    case other => other +: other.children.flatMap(allOps)
  }

  /** Sorted rows, doubles to 12 significant digits (a window and a
    * two-phase GROUP BY may add in different orders). */
  private def rows(d: DataFrame): Seq[String] = d.collect().toSeq.map(_.toSeq.map {
    case x: Double if !x.isNaN && !x.isInfinite =>
      BigDecimal(x).round(new java.math.MathContext(12)).toString
    case v => String.valueOf(v)
  }.mkString("|")).sorted

  /** `aggs` over (PARTITION BY `keys`) equal the GROUP BY `keys` form
    * joined back on `<=>`, and plan as exactly one WindowExec.
    */
  private def check(d: DataFrame, keys: Seq[String], aggs: (String, Column)*): Unit = {
    val w = Window.partitionBy(keys.map(col): _*)
    val windowed = d.select(d.columns.map(col) ++ aggs.map { case (n, a) => a.over(w).as(n) }: _*)
    val named = aggs.map { case (n, a) => a.as(n) }
    val grouped = d.groupBy(keys.map(col): _*).agg(named.head, named.tail: _*)
    val joinedBack = d.as("d")
      .join(grouped.as("g"), keys.map(k => col(s"d.$k") <=> col(s"g.$k")).reduce(_ && _))
      .select(d.columns.map(c => col(s"d.$c")) ++ aggs.map { case (n, _) => col(s"g.$n") }: _*)
    assert(rows(windowed) == rows(joinedBack))
    val plan = windowed.queryExecution.executedPlan
    assert(allOps(plan).count(_.isInstanceOf[WindowExec]) == 1, s"\n$plan")
  }

  private lazy val df = Seq(
    ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0),
    ("b", 4, 5.5), ("b", 5, Double.NaN),
    ("c", 6, -7.25)
  ).toDF("k", "i", "x")

  test("count(*) over (partition by k) — the a16 shape") {
    check(df, Seq("k"), "cnt" -> count(lit(1)))
  }

  test("sum/avg/min/max/stddev over the same partition in one window node") {
    check(df, Seq("k"), "s" -> sum($"i"), "a" -> avg($"x"), "mn" -> min($"x"),
      "mx" -> max($"x"), "sd" -> stddev($"x"))
  }

  test("null partition keys form their own group") {
    val d = Seq((Some("a"), 1), (None, 2), (None, 3), (Some("b"), 4)).toDF("k", "v")
    check(d, Seq("k"), "s" -> sum($"v"))
  }

  test("multi-column partition keys") {
    val d = Seq(("x", 1, 2L), ("x", 1, 3L), ("x", 2, 4L), ("y", 1, 5L)).toDF("k1", "k2", "v")
    check(d, Seq("k1", "k2"), "c" -> count(lit(1)), "s" -> sum($"v"))
  }

  test("floating-point partition keys: NaN and -0.0 normalize like GROUP BY") {
    val d = Seq(Double.NaN, Double.NaN, 0.0, -0.0, 1.5).toDF("k")
    check(d, Seq("k"), "c" -> count(lit(1)))
    assert(rows(d.select(count(lit(1)).over(Window.partitionBy($"k")))) ==
      Seq("1", "2", "2", "2", "2"))
  }

  test("sf0.001 lineitem matches the oracle shape end-to-end") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select($"l_orderkey", $"l_linenumber")
    check(li, Seq("l_orderkey"), "cnt" -> count(lit(1)))
  }
}
