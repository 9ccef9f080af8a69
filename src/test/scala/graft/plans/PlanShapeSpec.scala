package graft.plans

import graft.SparkFixture
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Pins the SCALE.md scan-pushdown claims as executable assertions:
  * filters and column pruning must REACH the parquet scan (a plan that
  * re-reads every column for a two-column projection, or filters above
  * the scan only, is a silent 100 TB regression even while every
  * correctness row stays green).
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = "/root/testdata/sf0.001"

  // descend through AQE wrappers — a plain collect stops at
  // AdaptiveSparkPlanExec, whose subtree is not in `children`
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }

  private def scans(name: String): Seq[FileSourceScanExec] =
    allScans(graft.SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan)

  test("a04: BETWEEN/IN/comparison predicates are pushed into the parquet scan") {
    val s = scans("a04_filter")
    assert(s.nonEmpty)
    val pushed = s.map(_.metadata.getOrElse("PushedFilters", "[]"))
    assert(pushed.exists(p => p != "[]" && p.contains("l_discount")),
      s"no pushed filters on the lineitem scan: $pushed")
    // projection pruning: the scan must not read the full 16-col row
    val readCols = s.head.requiredSchema.fieldNames.toSet
    assert(readCols.size <= 5 && readCols.contains("l_orderkey"),
      s"scan reads more than the query needs: $readCols")
  }

  test("a01: full-table aggregate still prunes to the aggregated columns") {
    val s = scans("a01_parquet_scan")
    assert(s.nonEmpty)
    val readCols = s.head.requiredSchema.fieldNames.toSet
    assert(readCols == Set("l_extendedprice"),
      s"count+sum needs only l_extendedprice, scan reads: $readCols")
  }

  test("a49: dims broadcast and only fact columns used in the join are read") {
    val df = graft.SparkEntry.queries("a49_q5_shape")(spark, sf)
    val plan = df.queryExecution.executedPlan
    val planStr = plan.toString
    assert(planStr.contains("BroadcastHashJoin"),
      s"nation/region must broadcast:\n$planStr")
    val lineitemScan = allScans(plan)
      .find(_.requiredSchema.fieldNames.exists(_.startsWith("l_")))
    assert(lineitemScan.isDefined)
    val cols = lineitemScan.get.requiredSchema.fieldNames.toSet
    assert(cols.subsetOf(Set("l_orderkey", "l_extendedprice", "l_discount")),
      s"lineitem scan reads beyond the join/revenue columns: $cols")
  }

  test("registry: names are unique and every benchQueries entry has an oracle") {
    // the benchmark's tpch_serving workload checks each benchQueries
    // result against its registered oracle (`oracle.get`), and every
    // by-name lookup (queries, oracleSql) assumes unique names
    val names = graft.SparkEntry.allQueryDefs.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).distinct}")
    val bench = graft.SparkEntry.benchQueries
    assert(bench.nonEmpty)
    assert(bench.forall(_.oracle.isDefined),
      s"bench queries without an oracle: ${bench.filter(_.oracle.isEmpty).map(_.name)}")
  }
}
