package graftbench

import java.io.File

import graft.ops.{Curation, Dedup, Retrieval}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** corpus_curation: one full pass per op over a corpus shard with
  * planted near-duplicate clusters, in pipeline order — rule gate,
  * MinHash pairs, connected components, best-of-cluster, BM25 index
  * build, BM25 top-k serving from a prebuilt index.
  */
final class CorpusCuration(spark: SparkSession, dir: String, work: String) extends Workload {
  import MiintFileQueries.{deleteTree, tsv}
  import spark.implicits._

  val clients = 1
  val shuffled = false
  // one pipeline pass outlasts a short run; two give every kind two samples
  override val minRounds = 2
  val kinds: Seq[String] = Seq("gopher_rules", "minhash_pairs", "connected_components", "keep_best",
    "bm25_index", "bm25_topk")

  private val docTruth = tsv(s"$dir/truth_docs.tsv")
  private val nDocs = docTruth.size.toLong
  private val reasonCounts = docTruth.groupBy(_("drop_reason")).map { case (r, rs) => r -> rs.size.toLong }
  private val chars = docTruth.map(r => r("doc_id").toLong -> r("n_chars").toLong).toMap
  private val clusters = tsv(s"$dir/truth_clusters.tsv").groupBy(_("cluster")).values
    .map(_.map(_("doc_id").toLong).sorted).toSeq
  private val planted: Set[(Long, Long)] =
    clusters.flatMap(c => for (a <- c; b <- c if a < b) yield (a, b)).toSet
  private val bm25Truth = tsv(s"$dir/truth_bm25.tsv").head
  private val queries = tsv(s"$dir/queries.tsv")
  private val prebuiltPath = s"$work/corpus/bm25_prebuilt"
  private var prebuilt: DataFrame = _
  private var prebuiltStats: DataFrame = _
  private var prebuiltPostings = 0L
  private var pairs: Seq[(Long, Long)] = Seq.empty
  private var components: Seq[(Long, Long)] = Seq.empty

  private def docs: DataFrame = Trace.span("sources.parquet")(spark.read.parquet(s"$dir/docs.parquet"))

  private def action[T](body: => T): T = Trace.span("spark.action")(body)

  def setup(): Unit = {
    Retrieval.bm25Index(docs, "doc_id", "text").write.mode("overwrite").parquet(prebuiltPath)
    prebuilt = spark.read.parquet(prebuiltPath)
    prebuiltPostings = prebuilt.count()
    val s = Retrieval.bm25IndexStats(prebuilt).head()
    prebuiltStats = Seq((s.getLong(0), s.getDouble(1))).toDF("n_docs", "avgdl")
  }

  def run(kind: String, round: Int): Outcome = kind match {
    case "gopher_rules" =>
      val df = Trace.span("ops.Curation.gopherRules")(Curation.gopherRules(docs, "doc_id", "text", "lang"))
      val got = action(df.groupBy("drop_reason").count().collect())
        .map(r => Option(r.getString(0)).getOrElse("") -> r.getLong(1)).toMap
      val ok = Trace.span("verify")(got == reasonCounts)
      Outcome(nDocs, ok, if (ok) "" else s"rule verdicts $got vs $reasonCounts")

    case "minhash_pairs" =>
      val df = Trace.span("ops.Dedup.minhashPairs") {
        Dedup.minhashPairs(docs, "doc_id", "text", shingleN = 5, numHashes = 64, bands = 16, threshold = 0.7)
      }
      pairs = action(df.select("id_a", "id_b").collect()).map(r => (r.getLong(0), r.getLong(1))).toSeq
      val found = pairs.toSet
      val ok = Trace.span("verify")(found.subsetOf(planted) && found.size >= 0.98 * planted.size)
      Outcome(nDocs, ok, if (ok) "" else s"${found.size} pairs, ${(found -- planted).size} unplanted",
        ratios = Map("minhash.pairs_per_planted" -> found.size.toDouble / planted.size))

    case "connected_components" =>
      val df = Trace.span("ops.Dedup.connectedComponents")(Dedup.connectedComponents(pairs.toDF("id_a", "id_b")))
      components = action(df.collect()).map(r => (r.getLong(0), r.getLong(1))).toSeq
      val label = components.toMap
      val ok = Trace.span("verify") {
        label.size == clusters.map(_.size).sum && clusters.forall(c => c.forall(id => label.get(id).contains(c.head)))
      }
      Outcome(pairs.size.toLong, ok, if (ok) "" else "components differ from the planted clusters")

    case "keep_best" =>
      val scored = docs.withColumn("score", length(col("text")).cast("long"))
      val df = Trace.span("ops.Dedup.keepBest") {
        Dedup.keepBest(scored, components.toDF("id", "component"), "doc_id", "score")
      }
      val rows = action(df.select("component", "n_members", "keep_id").collect())
      val kept = rows.filter(_.getLong(1) > 1).map(r => r.getLong(0) -> r.getLong(2)).toMap
      val ok = Trace.span("verify") {
        rows.length == nDocs - clusters.map(_.size - 1).sum &&
          clusters.forall(c => kept.get(c.head).contains(c.maxBy(id => (chars(id), -id))))
      }
      Outcome(nDocs, ok, if (ok) "" else "best-of-cluster choice differs")

    case "bm25_index" =>
      val path = new File(s"$work/corpus/bm25-$round")
      deleteTree(path)
      val df = Trace.span("ops.Retrieval.bm25Index")(Retrieval.bm25Index(docs, "doc_id", "text"))
      action(df.write.parquet(path.toString))
      val back = spark.read.parquet(path.toString)
      val n = action(back.count())
      val sumTf = action(back.agg(sum("tf")).head().getLong(0))
      val bytes = path.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      deleteTree(path)
      val ok = n == bm25Truth("n_postings").toLong && sumTf == bm25Truth("sum_tf").toLong
      Outcome(nDocs, ok, if (ok) "" else s"index $n postings / $sumTf tf vs $bm25Truth", bytes, n)

    case "bm25_topk" =>
      val q = queries.map(r => (r("query_id").toLong, r("query_text"))).toDF("query_id", "query_text")
      val df = Trace.span("ops.Retrieval.bm25TopKFromIndex") {
        Retrieval.bm25TopKFromIndex(prebuilt, q, 10, precomputedStats = Some(prebuiltStats))
      }
      val top = action(df.filter(col("rank") === 1).select("query_id", "doc_id").collect())
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hits = queries.count(r => top.get(r("query_id").toLong).contains(r("doc_id").toLong))
      val ok = hits == queries.size
      Outcome(prebuiltPostings, ok, if (ok) "" else s"self-retrieval $hits/${queries.size}")
  }
}
