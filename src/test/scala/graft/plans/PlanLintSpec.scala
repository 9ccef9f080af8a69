package graft.plans

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, SparkFixture}
import graft.ops.{Curation, Decontaminate, Dedup, LmScore, Retrieval}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runs [[PlanLint]] over every registered query and over the
  * `corpus_curation` benchmark's op calls, and pins that a filter after
  * a kernel still reaches the parquet scan.
  */
class PlanLintSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = "/root/testdata/sf0.001"

  /** A parquet-written corpus with planted near-duplicates: over a
    * LocalRelation the optimizer evaluates projections before any plan
    * shape shows.
    */
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val words = Vector("the", "spark", "data", "of", "table", "query", "and",
      "join", "scan", "filter", "batch", "window", "hash", "merge", "sort")
    val bases = (0 until 40).map { i =>
      (i.toLong, Seq.fill(60)(words(rnd.nextInt(words.size))).mkString(" "),
        if (i % 7 == 0) "zh" else "en")
    }
    val dups = (0 until 4).map { i =>
      (100L + i, bases(i)._2.split(" ").updated(5, "mutated").mkString(" "), "en")
    }
    val dir = Files.createTempDirectory("graft_plan_lint").resolve("docs").toString
    (bases ++ dups).toDF("doc_id", "text", "lang").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def assertClean(name: String, df: DataFrame): Unit = {
    val found = PlanLint.violations(df)
    assert(found.isEmpty, s"$name:\n${found.mkString("\n")}")
  }

  test("every registered query whose inputs exist runs each kernel once per row") {
    assume(Files.isDirectory(Paths.get(sf)), s"$sf absent")
    val found = try {
      for {
        q <- SparkEntry.allQueryDefs
        if q.inputs.forall(p => Files.exists(Paths.get(p)))
        v <- PlanLint.violations(q.impl(spark, sf))
      } yield s"${q.name}: $v"
    } finally spark.catalog.clearCache()
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("corpus_curation op plans run each kernel once per row") {
    import spark.implicits._
    assertClean("gopherRules", Curation.gopherRules(corpus, "doc_id", "text", "lang"))
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", shingleN = 5,
      numHashes = 64, bands = 16, threshold = 0.7)
    assertClean("minhashPairs", pairs)
    val found = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(found.nonEmpty)
    val components = Dedup.connectedComponents(found.toDF("id_a", "id_b"))
    assertClean("connectedComponents", components)
    assertClean("keepBest", Dedup.keepBest(
      corpus.withColumn("score", length(col("text")).cast("long")),
      components.toDF("id", "component"), "doc_id", "score"))
    assertClean("bm25Index", Retrieval.bm25Index(corpus, "doc_id", "text"))
    val dir = Files.createTempDirectory("graft_plan_lint_bm25").resolve("idx").toString
    Retrieval.bm25Index(corpus, "doc_id", "text").write.parquet(dir)
    val prebuilt = spark.read.parquet(dir)
    val s = Retrieval.bm25IndexStats(prebuilt).head()
    val stats = Seq((s.getLong(0), s.getDouble(1))).toDF("n_docs", "avgdl")
    val queries = Seq((0L, "spark join filter"), (1L, "hash merge sort"))
      .toDF("query_id", "query_text")
    assertClean("bm25TopKFromIndex", Retrieval.bm25TopKFromIndex(prebuilt,
      queries, 10, precomputedStats = Some(stats)))
  }

  // descend through AQE wrappers: their subtree is not in `children`
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  test("a filter on a pass-through column after a kernel reaches the parquet scan") {
    val model = LmScore.trainStupidBackoff(corpus, "text")
    val kernels = Seq(
      "gopherRules" -> Curation.gopherRules(corpus, "doc_id", "text", "lang"),
      "scoreWithBroadcastModel" ->
        LmScore.scoreWithBroadcastModel(corpus, model, "doc_id", "text"),
      "decontaminateExcise (fused)" -> Decontaminate.decontaminateExcise(
        corpus, corpus.filter(col("doc_id") === 1L), "doc_id", "text", n = 8))
    val notPushed = for {
      (name, df) <- kernels
      pushed = scans(df.filter(col("doc_id") < 5L).queryExecution.executedPlan)
        .map(_.metadata.getOrElse("PushedFilters", "[]"))
      if !pushed.exists(_.contains("LessThan(doc_id,5)"))
    } yield s"$name: PushedFilters ${pushed.mkString(", ")}"
    assert(notPushed.isEmpty, notPushed.mkString("\n"))
  }
}
