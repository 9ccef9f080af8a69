package graft.queries

import graft.{QueryDef, Tables}
import graft.ops._
import org.apache.spark.sql.functions._

/** Driver-gate rows for the SERVING strategies behind the bench-only
  * x/y-rows: each runs a path that production picks over the plain
  * l-row operator (a size-gated kernel, a persisted index, a pruned
  * read) at gate scale and shares the l-row's DuckDB oracle
  * verbatim. The strategy cannot change the result, only how it is
  * computed, so the shared oracle holds; what each row proves is that
  * the serving chain production runs still returns it. Each stays
  * because its chain runs in no l-row:
  *
  *  - x07: scoreAuto's broadcast-kernel branch (the l38 row runs the
  *    join path) — same integer counts and the same double arithmetic
  *    per transition (the kernel sums in token order exactly like the
  *    join-then-AVG plan's partial aggregate).
  *  - x09: BM25 served from the persisted flat index (postings and
  *    corpus stats written as parquet, read back, served with the
  *    stats supplied — the `bm25_topk` bench op's call), the same
  *    floor-quantized score expressions as l54's bm25TopK.
  *  - x16: full-probe serving from the partitioned at-rest IVF index
  *    is exact brute force by construction (every list probed), so
  *    l11's brute-force oracle applies; the row proves the persist →
  *    driver-resolved probe literal → pruned read → serve chain.
  *
  * The dedup kernels have one implementation each, run by their
  * l-rows directly (l03/l36/l40/l68/l79).
  */
object ProductionChecks {

  private def oracleOf(name: String): String =
    LlmPipeline.queries.find(_.name == name).flatMap(_.oracle)
      .getOrElse(sys.error(s"ProductionChecks: no oracle registered for $name"))

  /** Deterministic per-sfDir artifact dir with build-once reuse (r14
    * review: a fresh
    * createTempDirectory per invocation accumulated an index copy in
    * tmpdir every Verify round). The parquet _SUCCESS marker gates
    * reuse; contents are deterministic in (testdata, code).
    */
  private def cachedDir(d: String, name: String)(
      build: String => Unit): String = {
    val tag = new java.io.File(d).getAbsolutePath.replaceAll("[^A-Za-z0-9]", "_")
    val out = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_check_$name$tag.parquet")
    this.synchronized {
      if (!new java.io.File(out, "_SUCCESS").exists())
        build(out.getAbsolutePath)
    }
    out.getAbsolutePath
  }

  val queries: Seq[QueryDef] = Seq(

    // Size-gated scoreAuto serving (the x07/y07 path; broadcast-kernel
    // branch at gate scale) — l38's oracle.
    QueryDef(
      "x07_lm_check",
      (s, d) => {
        val docs = Tables.documents(s, d)
        LmScore.scoreAuto(docs,
          LmScore.trainStupidBackoff(Sampling.hashSample(docs, "text", 0.5),
            "text"), "doc_id", "text")
      },
      Some(oracleOf("l38_lm_score"))),

    // Persisted-postings BM25 serving (the bm25_topk path: parquet
    // postings + stats sidecar, stats supplied) — l54's oracle.
    QueryDef(
      "x09_bm25_check",
      (s, d) => {
        import s.implicits._
        val q = Seq(
          (0L, "spark window agg"),
          (1L, "vector stream join"),
          (2L, "customer query filter table"))
          .toDF("query_id", "query_text")
        val idx = cachedDir(d, "bm25idx") { out =>
          Retrieval.bm25Index(Tables.documents(s, d), "doc_id", "text")
            .write.mode("overwrite").parquet(out)
        }
        val stats = cachedDir(d, "bm25stats") { out =>
          Retrieval.bm25IndexStats(s.read.parquet(idx))
            .write.mode("overwrite").parquet(out)
        }
        Retrieval.bm25TopKFromIndex(s.read.parquet(idx), q, 10,
          precomputedStats = Some(s.read.parquet(stats)))
      },
      Some(oracleOf("l54_bm25_topk"))),

    // Partitioned at-rest IVF serving at full probe (the x16 chain:
    // persist partitioned by list_id → driver-resolved probe literal →
    // pruned read → serve) — l11's brute-force oracle.
    QueryDef(
      "x16_ivf_serve_check",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cents = Similarity.ivfCentroids(emb, dim = 64, nLists = 8, iters = 2)
        val idx = cachedDir(d, "ivfidx") { out =>
          Similarity.ivfAssignWithModel(emb, cents)
            .write.mode("overwrite").partitionBy("list_id").parquet(out)
        }
        Similarity.ivfTopKFromPartitionedIndex(s, idx,
            cents, emb.filter(col("vec_id") < 10), k = 5, nProbe = 8)
          .select(col("query_id"), col("vec_id"),
            round(col("cos"), 6).as("cos"), col("rank"))
      },
      Some(oracleOf("l11_ivf_topk")))
  )
}
