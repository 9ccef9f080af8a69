package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval over a document corpus (Robertson/Spärck
  * Jones probabilistic ranking, the Lucene-style `ln(1 + (N-df+0.5)/
  * (df+0.5))` idf variant so scores are always non-negative).
  *
  * This is the keyword-side complement of [[Similarity]]'s embedding
  * ANN: a training-data pipeline uses it for contamination hunting
  * ("which corpus docs score high against eval-set queries"), targeted
  * corpus audits, and hybrid (BM25 + cosine) retrieval.
  *
  * Scale shape (the 100 TB contract):
  *  - the query set is tiny and BROADCAST everywhere it meets corpus
  *    data; corpus postings are filtered map-side to the query
  *    vocabulary BEFORE the only corpus-keyed shuffles, so shuffle
  *    volume is O(matching postings), never O(corpus tokens);
  *  - document frequency is a map-side-combinable `groupBy(term)` of
  *    the vocab-filtered postings (one row per term per map partition
  *    reaches the reducers — no per-term hot reducer, unlike a
  *    `count(*) OVER (PARTITION BY term)` window, which would funnel
  *    every posting of a common term into one task);
  *  - per-query top-k rides the O(k)-state [[graft.functions.TopKAgg]]
  *    so the final shuffle carries k rows per (query, partition).
  *
  * A one-shot [[bm25TopK]] pays three corpus passes (postings, doc
  * frequency, corpus stats). A standing deployment tokenizes ONCE:
  * [[bm25Index]] materializes the postings table (the inverted index
  * in relational form) and [[bm25IndexStats]] its 1-row corpus stats;
  * both are written as plain parquet, and [[bm25TopKFromIndex]] serves
  * queries from the two read back (`precomputedStats`) without
  * touching the raw text again — the same persist-once-serve-many
  * contract as `Dedup.minhashIndex`.
  */
object Retrieval {

  // codegen'd tokenizer (no UDF barrier on the corpus hot path); null
  // text → null array → explode drops the row instead of an NPE
  private def toks(text: org.apache.spark.sql.Column) = TextCols.toks(text)

  /** Postings in relational form: one row per (doc, term) with the
    * term frequency and the document's token length. `docs` needs
    * (`idCol`, `textCol`). Tokenization is `TextKernel.tokens` (the
    * repo-wide lowercase + `WsChars` whitespace split, shared with the
    * quality/dedup ops so one tokenizer governs the whole pipeline).
    */
  def bm25Index(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"), toks(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  /** The 1-row (n_docs, avgdl) corpus-stats table a standing BM25
    * deployment persists ALONGSIDE the postings: deriving it inline
    * is a postings-wide `distinct(doc_id, dl)` pass — O(index) per
    * serving batch, which at corpus scale dwarfs the actual query
    * work. Compute once at index-build time, write next to the index,
    * and hand it to [[bm25TopKFromIndex]].
    */
  def bm25IndexStats(postings: DataFrame): DataFrame =
    postings.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))

  /** BM25 top-k per query against a prebuilt postings index
    * (schema of [[bm25Index]]). `queries` needs (query_id,
    * query_text) and is assumed small (broadcast).
    *
    * `precomputedStats`: the persisted [[bm25IndexStats]] 1-row table.
    * When absent, corpus stats (N, avgdl) are re-derived from the
    * index via a `distinct(doc_id, dl)` — a map-side-combinable
    * two-long-column pass over the persisted postings, no text
    * re-tokenization; fine for one-shot use, an O(index) tax per
    * batch for serve-many deployments.
    */
  def bm25TopKFromIndex(
      postings: DataFrame,
      queries: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      precomputedStats: Option[DataFrame] = None): DataFrame = {
    val qterms = queries
      .select(col("query_id").cast("long").as("query_id"),
        explode(toks(col("query_text"))).as("term"))
      .distinct()
    // Size-gate the query-side broadcasts (the IvfScaleProbe lesson:
    // scale every dimension the deployment scales). A serving batch is
    // tiny and broadcasts; but when the "query set" is itself a corpus
    // — contamination hunting an entire eval suite — forcing a multi-GB
    // broadcast would OOM the driver, so large query sets fall through
    // to plain term-keyed shuffle joins (the postings are already
    // flowing through a term shuffle; AQE still broadcasts if runtime
    // stats allow).
    val qSmall = queries.queryExecution.optimizedPlan.stats.sizeInBytes < (64L << 20)
    def qSide(df: DataFrame): DataFrame = if (qSmall) broadcast(df) else df
    val vocab = qterms.select("term").distinct()
    // map-side posting filter: only query-vocabulary postings survive
    // into any shuffle below
    val tf = postings.join(qSide(vocab), "term")
    // df(term): aggregated from the vocab-filtered postings, so the
    // relation entering the join is ≤ |query vocab| rows
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = precomputedStats
      .map(_.select(col("n_docs").cast("long").as("n_docs"),
        col("avgdl").cast("double").as("avgdl")))
      .getOrElse(bm25IndexStats(postings))
    val scored = tf
      .join(qSide(qterms), "term")
      // docFreq has query-vocab cardinality — rides the same gate
      .join(qSide(docFreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      // per-doc score = exact LONG sum of 1e-12-quantized per-term
      // contributions (the repo's exact-cents discipline): a raw
      // double SUM's value depends on aggregation arrival order, so
      // two engines can disagree in the last ulp even when every
      // per-term op is pinned. Contributions are non-negative and
      // bounded (~15), so 4-term sums stay far from Long range.
      .withColumn("contrib_fp",
        floor(col("contrib") * 1e12 + 0.5).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg((sum(col("contrib_fp")).cast("double") / 1e12).as("score"))
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topKBy(col("score"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** One-shot BM25 top-k: tokenize, index, score in a single plan. */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25TopKFromIndex(bm25Index(docs, idCol, textCol), queries, k, k1, b)

  /** Reciprocal Rank Fusion over per-query ranked lists — the
    * standard hybrid-retrieval combiner (BM25 ∪ embedding-cosine):
    * each system contributes `1/(c + rank)` for every (query, doc) it
    * ranked; fused score = the sum, top-k under (score DESC, doc_id).
    * Rank-based fusion needs no score calibration between systems,
    * which is why it is the robust default for keyword+vector hybrid.
    *
    * Each input needs (query_id, doc_id, rank). With two systems the
    * fused sum has at most two addends, so IEEE addition is exact and
    * engine-order-independent — an external oracle reproduces scores
    * bit-for-bit. Scale shape: inputs are already top-k lists
    * (O(k · queries) rows), so the fuse is a trivially small
    * hash aggregate; the heavy lifting happened inside the systems
    * being fused, each with its own scale-correct plan.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val unioned = rankings
      .map(_.select(col("query_id").cast("long").as("query_id"),
        col("doc_id").cast("long").as("doc_id"),
        col("rank").cast("long").as("rank")))
      .reduce(_ union _)
    unioned
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(lit(1.0) / (lit(c) + col("rank"))).as("rrf"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topKBy(col("rrf"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").as("rrf"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Hard-negative mining for retrieval-model training: for each
    * (query, positive-doc) pair, the top BM25 hits that are NOT the
    * labeled positives — the classic contrastive-training negatives
    * (high lexical overlap, wrong answer). `positives` needs
    * (query_id, doc_id); output (query_id, doc_id, score, rank) with
    * rank re-numbered 1..k over the surviving negatives.
    *
    * Scale shape: mine with a k-budget of `k + positives-per-query`
    * (caller-tuned via `overfetch`) so the anti-join never forces a
    * re-query; the anti join is a broadcast of the (tiny) positives
    * label set; re-ranking is per-query over ≤ overfetch rows.
    */
  def hardNegatives(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      positives: DataFrame,
      k: Int,
      overfetch: Int = 8,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val mined = bm25TopK(docs, idCol, textCol, queries, k + overfetch, k1, b)
    val pos = positives.select(col("query_id").cast("long").as("query_id"),
      col("doc_id").cast("long").as("doc_id"))
    // labels scale with the query set — same gate as the bm25 query side
    val posSmall =
      positives.queryExecution.optimizedPlan.stats.sizeInBytes < (64L << 20)
    mined
      .join(if (posSmall) broadcast(pos) else pos,
        Seq("query_id", "doc_id"), "left_anti")
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topKBy(col("score"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Overlapping token-window chunking with provenance — the
    * RAG/pretraining chunker: each document becomes
    * `ceil(max(dl - chunk, 0) / stride) + 1` windows of up to `chunk`
    * tokens starting every `stride` tokens. Output: (doc_id, chunk_id,
    * start_tok, n_tok, chunk_text). Unlike `Packing.packSequences`
    * (which concatenates documents into fixed training sequences),
    * chunks here never cross document boundaries and OVERLAP by
    * `chunk - stride` tokens, preserving retrieval context.
    *
    * Scale shape: pure map-side — tokenize, generate chunk ordinals
    * with `sequence` + `posexplode`, slice; no shuffle at all, so it
    * composes with any downstream partitioning (e.g. feed straight
    * into [[bm25Index]] or an embedding UDF).
    */
  def chunkTokens(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunk: Int,
      stride: Int): DataFrame = {
    require(chunk > 0 && stride > 0 && stride <= chunk,
      s"need 0 < stride <= chunk, got chunk=$chunk stride=$stride")
    val nChunks = (ceil(greatest(col("dl") - chunk, lit(0)).cast("double") / stride)
      + 1).cast("int")
    docs
      .select(col(idCol).cast("long").as("doc_id"), toks(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
      .filter(col("dl") > 0)
      .select(col("doc_id"), col("dl"), col("toks"),
        posexplode(sequence(lit(0), nChunks - 1)))
      .select(
        col("doc_id"),
        col("col").cast("long").as("chunk_id"),
        (col("col").cast("long") * stride).as("start_tok"),
        least(lit(chunk).cast("long"), col("dl") - col("col") * stride).as("n_tok"),
        concat_ws(" ",
          slice(col("toks"), (col("col") * stride + 1).cast("int"), lit(chunk)))
          .as("chunk_text"))
  }

  /** Maximal Marginal Relevance diversification (Carbonell &
    * Goldstein 1998): greedily select k candidates maximizing
    * λ·rel − (1−λ)·max_{s∈selected} cos(d, s) — the re-ranker that
    * keeps a RAG context window or a labeling batch from filling with
    * near-duplicates of the single best hit.
    *
    * Shape: k argmax passes over the candidate pool (persisted once);
    * each pass is one distributed TakeOrdered with the selected
    * vectors riding the plan as literals (selected state is k·dim —
    * bounded, like the Lloyd's centroids). Candidates are a
    * RETRIEVER'S top-m output (compose with bm25TopK / ivfTopK), so
    * the pool is small by construction — and ENFORCED: pools over
    * 100,000 rows are rejected with an error naming the contract
    * rather than silently running k corpus-wide jobs. MMR's sequential greed is inherent to the
    * algorithm, and each pass is corpus-free. Zero-norm / NaN
    * candidates are unscorable and excluded up front (NaN sorts first
    * under desc — one degenerate vector would otherwise win every
    * argmax pass).
    *
    * Determinism: rel and cos are the bit-pinned left-fold doubles
    * (Similarity.dot); ties break on vec_id; λ·rel − (1−λ)·maxSim is
    * the same expression tree the DuckDB oracle evaluates. Step 1's
    * score is λ·rel (empty selected set — no sim term).
    *
    * Returns exactly k rows (rank, vec_id, score), score rounded 6dp
    * for display (selection uses the raw doubles).
    */
  def mmrDiversify(
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      relCol: String,
      k: Int,
      lambda: Double): DataFrame = {
    val spark = candidates.sparkSession
    val cand = candidates.select(
        col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<float>").as("emb"),
        col(relCol).cast("double").as("rel"))
      .withColumn("nrm", Similarity.norm(col("emb")))
      // a null embedding/rel can't be scored; without this filter a
      // null-score row becomes pickable once real candidates run out
      // (desc ordering is nulls-LAST, but exhaustion reaches them).
      // Zero-norm / NaN vectors are equally unscorable, and WORSE than
      // null: sim = dot/0 = NaN makes score NaN, and NaN sorts FIRST
      // under Spark's desc ordering (NaN > everything), so a single
      // degenerate vector would win every argmax pass after the first
      // (r9 ADVICE). isNotNull does not catch NaN — the explicit
      // guards are load-bearing.
      .filter(col("rel").isNotNull && !isnan(col("rel")) &&
        col("nrm").isNotNull && !isnan(col("nrm")) && col("nrm") > 0)
      .persist()
    // The candidate pool is a RETRIEVER'S top-m output — bounded by
    // construction, and the k argmax passes below are priced for that
    // bound. Enforce it loudly (the temperatureMix contract pattern):
    // a caller passing a corpus-sized frame would otherwise get k
    // corpus-wide jobs with a k-literal isin filter instead of an
    // error naming the misuse.
    val maxPool = 100000
    try {
      // inside the try so a rejected pool still unpersists `cand`
      val poolProbe = cand.limit(maxPool + 1).count()
      require(poolProbe <= maxPool,
        s"mmrDiversify: candidate pool exceeds $maxPool rows — MMR is a " +
          "re-ranker over a retriever's top-m output, not a corpus scan; " +
          "pre-select candidates (bm25TopK / ivfTopK)")
      var selected = Vector.empty[(Long, Double, Seq[Float], Double)]
      var step = 1
      while (step <= k) {
        val base = cand.filter(!col("vec_id")
          .isin(selected.map(_._1): _*))
        val scored =
          if (selected.isEmpty)
            base.withColumn("score", lit(lambda) * col("rel"))
          else {
            val sims = selected.map { case (_, _, e, n) =>
              Similarity.dot(col("emb"), typedLit(e)) / (col("nrm") * lit(n))
            }
            val msim = if (sims.size == 1) sims.head else greatest(sims: _*)
            base.withColumn("score",
              lit(lambda) * col("rel") - lit(1.0 - lambda) * msim)
          }
        val top = scored.orderBy(col("score").desc, col("vec_id"))
          .select(col("vec_id"), col("score"), col("emb"), col("nrm"))
          .limit(1).collect()
        if (top.isEmpty) step = k + 1 // pool exhausted
        else {
          val r = top.head
          selected :+= ((r.getLong(0), r.getDouble(1),
            r.getSeq[Float](2), r.getDouble(3)))
          step += 1
        }
      }
      import spark.implicits._
      selected.zipWithIndex
        .map { case ((id, sc, _, _), i) =>
          ((i + 1).toLong, id,
            // HALF_UP at 6dp — the same convention as Spark's round()
            // and DuckDB's ROUND on the oracle side
            BigDecimal(sc).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble) }
        .toDF("rank", "vec_id", "score")
    } finally cand.unpersist()
  }
}
