package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator registers here: the driver's correctness
  * gate iterates `queries` and compares each result against the DuckDB
  * oracle in `oracleSql` (same parquet tables, columns sorted by name,
  * value-hash compare). Unregistered work scores zero (round-1 lesson).
  */
object SparkEntry {
  /** All registered operator queries, in registration order. */
  def allQueryDefs: Seq[QueryDef] =
    LayerA1.queries ++ LayerA2.queries ++ LayerB.queries ++
      LlmPipeline.queries ++ LlmPipeline.semanticQueries ++
      LlmPipeline.bpeRoundTripQueries ++ LlmPipeline.copyQueries ++
      ProductionChecks.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    LayerA1.queries.head.impl(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueryDefs.map(q => q.name -> q.impl).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueryDefs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Curated benchmark subset (QueryDef.bench): the Layer-A queries
    * the `tpch_serving` workload of bench/run.py serves, each checked
    * against its oracle. */
  def benchQueries: Seq[QueryDef] = allQueryDefs.filter(_.bench)
}
