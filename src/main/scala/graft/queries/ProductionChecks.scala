package graft.queries

import graft.{QueryDef, Tables}
import graft.ops._
import org.apache.spark.sql.functions._

/** Driver-gate rows for the PRODUCTION kernels behind the bench-only
  * x-rows (r13 verdict #3): until r14 the fast-hash/persisted-index/
  * size-gated paths benched as x03/x06/x07/x08/x09/x13/x16 were
  * correctness-covered by ScalaTest agreement specs only — the driver
  * verified their md5-oracle twins (l03/l36/l38/l40/l54/l68), not the
  * kernels production runs. Each row here runs the PRODUCTION path at
  * gate scale and shares its twin's DuckDB oracle verbatim, which is
  * sound because the production output is hash-family-independent:
  *
  *  - x03/x08: LSH banding recall at the corpus's Jaccard levels is
  *    ~1 for BOTH families (J^4-per-band collision, 16 bands), and
  *    the bucket-local verify computes EXACT shingle Jaccard — so the
  *    verified pair set is {pairs with J ≥ threshold}, identical
  *    whichever family proposed the candidates. Measured equal on
  *    sf0.01 AND sf0.1 (XTwinProbe, r14: 25/25 and 256/256
  *    pairs, zero asymmetric rows).
  *  - x06/x13: duplicate-chunk / duplicate-window detection is
  *    hash-EQUALITY of chunk text; absent collisions (64-bit space,
  *    ≤ ~1M chunks at gate scale) FNV equality ⇔ md5 equality ⇔ text
  *    equality, and no hash value reaches the output schema.
  *  - x07: scoreAuto's broadcast-kernel path vs the join path is an
  *    execution-strategy split over the same integer counts and the
  *    same double arithmetic per transition (kernel sums in token
  *    order exactly like the join-then-AVG plan's partial aggregate).
  *  - x09: bm25TopKFromIndex executes the same floor-quantized score
  *    expression shapes as bm25TopK (l54's scaladoc pins this).
  *  - x16: full-probe serving from the partitioned at-rest index is
  *    exact brute force by construction (every list probed), so the
  *    l11 brute-force oracle applies; what the row proves is the
  *    persist → driver-resolved probe literal → pruned read → serve
  *    CHAIN, the standing-deployment path x16 benches.
  *
  * If a future testdata refresh plants boundary-Jaccard pairs where
  * the families' banding recall could split, the x03/x08 rows go red
  * at the driver gate — that is the point of registering them.
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

  /** Catalog-safe per-data-dir tag for the bucketed-index check tables
    * (hive lowercases table names).
    */
  private def checkTag(d: String): String =
    new java.io.File(d).getAbsolutePath
      .replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  val queries: Seq[QueryDef] = Seq(

    // Production CW/FNV minhash LSH pairs (the x03 kernel) — l03's oracle.
    QueryDef(
      "x03_minhash_check",
      (s, d) => Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text",
          shingleN = 5, numHashes = 64, bands = 16, threshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      Some(oracleOf("l03_minhash_lsh"))),

    // Production FNV chunk fingerprints (the x06 kernel) — l36's oracle.
    QueryDef(
      "x06_dup_spans_check",
      (s, d) => CorpusStats.dupChunkFraction(Tables.documents(s, d),
        "doc_id", "text", chunkTokens = 5, minDocs = 2, exactHash = false),
      Some(oracleOf("l36_dup_spans"))),

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

    // Production persisted-index incremental dedup (the x08 kernel:
    // minhashIndex + cross-side bucket-local verify) — l40's oracle.
    QueryDef(
      "x08_incremental_check",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bkt = Sampling.hashBucket(col("text"))
        Dedup.minhashNewVsPrebuiltIndex(docs.filter(bkt >= 5000),
            Dedup.minhashIndex(docs.filter(bkt < 5000), "doc_id", "text"),
            "doc_id", "text", threshold = 0.4)
          .select(col("new_id"), col("n_matches"),
            round(col("best_jaccard"), 6).as("best_jaccard"),
            col("best_match_id"))
      },
      Some(oracleOf("l40_dedup_against_index"))),

    // Persisted-postings BM25 serving (the x09/y09 path) — l54's oracle.
    QueryDef(
      "x09_bm25_check",
      (s, d) => {
        import s.implicits._
        val q = Seq(
          (0L, "spark window agg"),
          (1L, "vector stream join"),
          (2L, "customer query filter table"))
          .toDF("query_id", "query_text")
        // persist the index like the deployment the path serves — the
        // r15 doc_id-bucketed catalog layout the x09/y09 bench rows
        // use, so the zero-exchange serving chain (bucketed scan →
        // score agg riding the bucket partitioning → top-k) runs under
        // the driver's DuckDB gate every round
        val t = s"bm25bk_check_${checkTag(d)}"
        this.synchronized {
          Retrieval.ensureBm25BucketedIndex(s, t,
            Retrieval.bm25Index(Tables.documents(s, d), "doc_id", "text"))
        }
        Retrieval.bm25TopKFromBucketedIndex(s, t, q, 10)
      },
      Some(oracleOf("l54_bm25_topk"))),

    // Term-bucket-partitioned BM25 serving (the y10 path) — l54's
    // oracle again: the bucket filter is a superset of the exact
    // vocabulary join inside, so the layout cannot change the result;
    // what this row proves every round is the write-partitioned →
    // sidecar-stats → resolve-buckets → pruned-read → serve CHAIN.
    QueryDef(
      "y10_bm25_partitioned_check",
      (s, d) => {
        import s.implicits._
        val q = Seq(
          (0L, "spark window agg"),
          (1L, "vector stream join"),
          (2L, "customer query filter table"))
          .toDF("query_id", "query_text")
        // the y10 bench layout at gate scale: term_bucket partition
        // pruning composed with doc_id bucketing (r15) — proves the
        // resolve-buckets → pruned-bucketed-read → zero-exchange-serve
        // chain under the oracle
        val t = s"bm25pbk_check_${checkTag(d)}"
        this.synchronized {
          Retrieval.ensureBm25BucketedIndex(s, t,
            Retrieval.bm25Index(Tables.documents(s, d), "doc_id", "text"),
            termBuckets = 64)
        }
        Retrieval.bm25TopKFromBucketedIndex(s, t, q, 10)
      },
      Some(oracleOf("l54_bm25_topk"))),

    // Production FNV window fingerprints (the x13 kernel) — l68's oracle.
    QueryDef(
      "x13_substr_check",
      (s, d) => CorpusStats.exactSubstrSpans(Tables.documents(s, d),
        "doc_id", "text", minTokens = 8, minCount = 2, exactHash = false),
      Some(oracleOf("l68_exact_substr_spans"))),

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
