package graftbench

import graft.SparkEntry
import graft.queries.TpchSuite
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** tpch_serving: short relational jobs where planning, scheduling and
  * exchanges dominate and no domain kernel runs — the 22 TpchSuite
  * sub-queries (the suite split on UNION ALL) plus the Layer-A bench
  * queries.
  */
final class TpchServing(spark: SparkSession, dir: String, cores: Int) extends Workload {
  val clients: Int = math.min(2, cores)
  val shuffled = true

  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  private val subqueries: Seq[(String, String)] =
    TpchSuite.Sql.split("\nUNION ALL\n").toSeq.map { sql =>
      ("tpch_" + "'(q\\d\\d)'".r.findFirstMatchIn(sql).get.group(1), sql)
    }
  private val sqlOf = subqueries.toMap
  private val layerA = SparkEntry.benchQueries.map(q => q.name -> q).toMap

  val kinds: Seq[String] = subqueries.map(_._1) ++ SparkEntry.benchQueries.map(_.name)

  private var records: Map[String, Long] = Map.empty

  /** The SQL DuckDB runs for `kind`: the same text for suite
    * sub-queries, the registered oracle for Layer-A queries.
    */
  def oracleSql(kind: String): String = sqlOf.getOrElse(kind, layerA(kind).oracle.get)

  def setup(): Unit = {
    // the table views the suite's SQL reads
    tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))
    val rows = MiintFileQueries.tsv(s"$dir/rows.tsv").map(r => r("table") -> r("rows").toLong).toMap
    // input records of an op: rows of every table its SQL names
    records = kinds.map { k =>
      k -> tables.filter(t => s"\\b$t\\b".r.findFirstIn(oracleSql(k)).isDefined).map(rows).sum
    }.toMap
  }

  private def frame(kind: String): DataFrame = sqlOf.get(kind) match {
    case Some(sql) => Trace.span("queries.sql")(spark.sql(sql))
    case None => Trace.span(s"queries.$kind")(layerA(kind).impl(spark, dir))
  }

  /** Executes the query under an aggregate that folds every output
    * column into one exact integer (see [[fold]]); the folded row is
    * checked against the same fold of the DuckDB oracle after the run.
    */
  def run(kind: String, round: Int): Outcome = {
    val df = frame(kind)
    val folds = df.schema.fields.toSeq.map(f => fold(f.name, f.dataType)._1)
    val row = Trace.span("spark.action")(df.agg(count(lit(1)), folds: _*).head())
    Outcome(records(kind), ok = true, signature = (0 until row.length).map(row.getLong))
  }

  /** Per kind, the DuckDB SQL computing the same fold over the oracle query. */
  def oracleSignatureSql(): Map[String, String] = kinds.map { kind =>
    val folds = frame(kind).schema.fields.toSeq.map(f => fold(f.name, f.dataType)._2)
    kind -> s"SELECT COUNT(*), ${folds.mkString(", ")} FROM (${oracleSql(kind)}) t"
  }.toMap

  /** One exact integer per column, in Spark and in DuckDB SQL: integer
    * sums, doubles summed as rounded 1e-4 units, string lengths,
    * true counts, and non-null counts for anything else.
    */
  private def fold(c: String, t: DataType): (Column, String) = {
    val q = "\"" + c + "\""
    t match {
      case ByteType | ShortType | IntegerType | LongType =>
        (coalesce(sum(col(c).cast("long")), lit(0L)), s"COALESCE(SUM(CAST($q AS BIGINT)), 0)")
      case FloatType | DoubleType | _: DecimalType =>
        (coalesce(sum(round(col(c).cast("double") * 10000).cast("long")), lit(0L)),
          s"COALESCE(SUM(CAST(ROUND(CAST($q AS DOUBLE) * 10000) AS BIGINT)), 0)")
      case StringType =>
        (coalesce(sum(length(col(c)).cast("long")), lit(0L)), s"COALESCE(SUM(LENGTH($q)), 0)")
      case BooleanType =>
        (coalesce(sum(when(col(c), 1L).otherwise(0L)), lit(0L)), s"COALESCE(SUM(CASE WHEN $q THEN 1 ELSE 0 END), 0)")
      case _ => (count(col(c)), s"COUNT($q)")
    }
  }
}
