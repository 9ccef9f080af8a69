package graft.ops

import graft.kernel.TextKernel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share any
  * word-level n-gram with an evaluation/benchmark set — the published
  * GPT-3 / Pile-style overlap check that every serious training-data
  * pipeline runs before a model sees the corpus.
  *
  * Scale design (the 100 TB shape): both sides reduce to DISTINCT
  * n-gram fingerprints. The benchmark side is small by nature (eval
  * suites are MBs against a corpus of TBs) — its distinct fingerprint
  * set flows into the join's build side, which Catalyst/AQE broadcasts
  * at runtime; the corpus side is a map-only explode (the kernel emits
  * per-doc-distinct grams, so no within-doc duplicate rows exist to
  * shuffle). Only MATCHED (doc, fingerprint) pairs — a sliver of the
  * corpus — reach the final per-doc count shuffle. Nothing in the
  * plan is ever all-pairs or corpus×benchmark.
  *
  * Fingerprint = 60-bit md5-prefix of the space-joined gram
  * ([[Dedup.md5Hash60]]'s cross-engine-exact hash family), so the
  * oracle re-derives every fingerprint; at 8 bytes it shuffles ~10×
  * fewer bytes than the gram strings it stands for, and a collision
  * needs ~2^30 distinct grams PER benchmark (birthday bound) before it
  * mislabels a single doc.
  */
object Decontaminate {

  private val ngramsUdf = udf((text: String, n: Int) =>
    TextKernel.wordNgrams(text, n))

  /** Embedding-space (semantic) decontamination: flag corpus vectors
    * whose cosine to ANY benchmark vector reaches `tau` — the check
    * n-gram overlap misses when the leak is a paraphrase (SemDeDup /
    * Phi-style decontamination). Returns every corpus row as
    * (id, max_cos, contaminated).
    *
    * Scale shape: the benchmark side is model-sized (eval suites) and
    * is BROADCAST; the corpus side streams map-only through the
    * broadcast nested-loop scoring, and the per-vector max folds in
    * the partial (map-side) aggregate — the exchange carries one
    * partial row per corpus vector, never the corpus×benchmark
    * cross product.
    */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, embCol: String, tau: Double): DataFrame = {
    val bench = broadcast(
      benchmark.select(col(embCol).as("__bench_emb")))
    corpus.select(col(idCol).as("id"), col(embCol).as("__emb"))
      .join(bench)
      .groupBy(col("id"))
      .agg(max(Similarity.cosine(col("__emb"), col("__bench_emb"))).as("max_cos"))
      .select(col("id"), col("max_cos"),
        (col("max_cos") >= tau).as("contaminated"))
  }

  /** (doc_id, fp): per-document distinct n-gram fingerprints. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(ngramsUdf(col(textCol), lit(n))).as("ngram"))
      .select(col("doc_id"), Dedup.md5Hash60(col("ngram")).as("fp"))

  /** Contaminated corpus docs: every document sharing ≥1 n-gram with
    * the benchmark set, with the count of distinct leaked grams (the
    * triage signal: 1 hit = likely boilerplate, hundreds = the
    * benchmark is verbatim inside the doc). Clean documents do not
    * appear — the output is the drop/review list.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val corpusFps = fingerprints(corpus, idCol, textCol, n)
    val benchFps = fingerprints(benchmark, idCol, textCol, n)
      .select("fp").distinct()
    corpusFps.join(benchFps, "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_leaked_ngrams"))
  }

  /** Per-document n-gram NOVELTY against a previous corpus snapshot:
    * the fraction (integer milli, exact) of each new doc's distinct
    * n-gram fingerprints unseen in the old snapshot — the freshness /
    * memorization-risk triage between generations (a near-zero score
    * means the "new" doc is recombined old content; near-1000 means
    * genuinely new text). Same machinery as [[decontaminate]] with
    * the membership inverted; keys-only fp shuffle, text never moves.
    * Docs with zero windows (shorter than n tokens) are omitted —
    * they have no grams to be novel.
    */
  def ngramNovelty(newDocs: DataFrame, oldDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val newFps = fingerprints(newDocs, idCol, textCol, n)
    val oldFps = fingerprints(oldDocs, idCol, textCol, n)
      .select(col("fp")).distinct().withColumn("seen", lit(true))
    newFps.join(oldFps, Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("(n_novel * 1000) div n_grams").as("novelty_milli"))
  }

  /** Decontamination by SPAN EXCISION (the removal step of Lee et al.
    * 2022's dedup/decontamination recipe, and what production
    * pipelines actually do with a leaked benchmark: cut the span, keep
    * the document). Every ≥`n`-token window of a corpus doc whose
    * fingerprint appears ANYWHERE in the benchmark marks its token
    * range; ranges island-merge to maximal spans (the l68 machinery —
    * CorpusStats.mergeTokenSpans); the spans are then excised from the
    * original text token-exactly.
    *
    * Contract: docs with no hits return their ORIGINAL text untouched;
    * excised docs re-join surviving tokens with single spaces
    * (excision canonicalizes whitespace — kernel scaladoc). Case is
    * preserved (fingerprints are over lowercased tokens, excision over
    * the raw split; the WsPlus tokenization makes indexes line up).
    *
    * Scale shape: benchmark fingerprints are a distinct set (broadcast
    * by AQE when small — the common case; decontaminateBloom's
    * prefilter composes in front when it is not); corpus windows
    * shuffle KEYS ONLY on fp for the membership join; the span table
    * that joins back onto the text is rows-per-contaminated-doc —
    * tiny in practice, so the text-side join broadcasts and document
    * text never rides an exchange (the l45 line-dedup lesson; no
    * broadcast HINT, per the r8-advice gated-broadcast rule — AQE
    * decides from measured size).
    *
    * Output: (doc_id, n_spans, n_removed_tokens, cleaned_text).
    *
    * When the benchmark's distinct fingerprint set is under
    * [[LocalGate]]'s cap, the ENTIRE chain fuses into one map pass
    * (r15, guide §2.4/§8): the gate's own collect delivers the set,
    * which is sorted, broadcast, and each document
    * windows/matches/island-merges/excises locally in
    * [[TextKernel.exciseByFpSet]], one call per row ([[KernelOnce]]: a
    * filter on `doc_id` or a carried column still reaches the scan) —
    * no posexplode, no membership join, no span aggregate, no
    * text-side join, and `corpus` is consumed ONCE, so upstream
    * materialization (the localCheckpoint the r14 x15 pipeline paid
    * before this function) is unnecessary. Above the cap the r14
    * shuffled-membership-join plan stands — compose
    * decontaminateBloom's prefilter in front for that regime; there
    * `corpus` is consumed twice, so materialize upstream. It keys its
    * spans per row, by (doc_id, [[Dedup.md5Hash60]] of the text), so
    * rows that share an id are excised one by one as in the fused
    * pass, and text still never rides an exchange.
    *
    * `carryCols`: corpus columns appended verbatim to the output
    * (after `cleaned_text`) — lets a composed pipeline keep, say, its
    * `lang` column without a full-corpus re-join on doc_id (the r14
    * x15 chain paid a 500k×500k join, both sides exchanged, for
    * exactly that re-attach).
    */
  def decontaminateExcise(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int,
      carryCols: Seq[String] = Nil): DataFrame =
    decontaminateExciseGated(corpus, benchmark, idCol, textCol, n,
      carryCols, LocalGate.MaxRows)

  /** [[decontaminateExcise]] with its cap as an argument. */
  private[ops] def decontaminateExciseGated(corpus: DataFrame,
      benchmark: DataFrame, idCol: String, textCol: String, n: Int,
      carryCols: Seq[String], cap: Int): DataFrame = {
    val winUdf = udf((t: String) =>
      TextKernel.slidingWindowHashes(t, n))
    val benchFps = benchmark
      .select(explode(winUdf(col(textCol))).as("fp")).distinct()
    LocalGate.rows(benchFps, cap) match {
      case Some(rows) =>
        val fps = rows.map(_.getLong(0))
        java.util.Arrays.sort(fps)
        val bc = corpus.sparkSession.sparkContext.broadcast(fps)
        val fusedUdf = udf((text: String) =>
          TextKernel.exciseByFpSet(text, n, bc.value))
        corpus
          .select((col(idCol).as("doc_id")
            +: KernelOnce(fusedUdf(col(textCol))).as("__x")
            +: carryCols.map(col)): _*)
          .select((Seq(col("doc_id"),
            col("__x._1").as("n_spans"),
            col("__x._2").as("n_removed_tokens"),
            col("__x._3").as("cleaned_text")) ++ carryCols.map(col)): _*)
      case None =>
        // Above-cap regime (a benchmark union too big to broadcast):
        // the r14 shuffled membership join stands; AQE broadcasts the
        // fp set when its runtime size allows, the corpus windows
        // otherwise ride one keys-only exchange. The span key is the
        // row's (id, text hash) struct under the name mergeTokenSpans
        // partitions by.
        val rowKey = struct(col(idCol), Dedup.md5Hash60(col(textCol)))
        val hits = corpus
          .select(rowKey.as("doc_id"), posexplode(winUdf(col(textCol))))
          .select(col("doc_id"), (col("pos") + 1).cast("long").as("s"),
            col("col").as("fp"))
          .join(benchFps, "fp")
          .select(col("doc_id"), col("s"), (col("s") + (n - 1)).as("e"))
        val spansPerRow = CorpusStats.mergeTokenSpans(hits)
          .groupBy(col("doc_id").as("__key"))
          .agg(count(lit(1)).as("n_spans"),
            sum(col("se") - col("ss") + 1).as("n_removed_tokens"),
            array_sort(collect_list(struct(col("ss"), col("se")))).as("sp"))
        val exciseUdf = udf((text: String, sp: Seq[org.apache.spark.sql.Row]) =>
          if (sp == null) text
          else TextKernel.exciseTokenRanges(text,
            sp.map(_.getLong(0).toInt).toArray,
            sp.map(_.getLong(1).toInt).toArray))
        corpus.select((col(idCol).as("doc_id") +: rowKey.as("__row")
            +: col(textCol).as("text") +: carryCols.map(col)): _*)
          .join(spansPerRow, col("__row") <=> col("__key"), "left")
          .select((Seq(col("doc_id"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("n_removed_tokens"), lit(0L)).as("n_removed_tokens"),
            exciseUdf(col("text"), col("sp")).as("cleaned_text"))
            ++ carryCols.map(col)): _*)
    }
  }

  /** Bloom-prefiltered decontamination — the shape for when the
    * benchmark fingerprint set itself is large (a full eval-suite
    * union can reach 10^8 distinct grams: too big to broadcast as an
    * exact hash relation, still trivial as a bloom).
    *
    * Two stages, exact final result:
    *  1. a Bloom filter over the benchmark fingerprints (~1.2 bytes
    *     per element at 1% fpp — 100x smaller than the fingerprints)
    *     is broadcast and applied MAP-SIDE to the corpus explode, so
    *     ~99%+ of corpus fingerprints die before any shuffle;
    *  2. the survivors — bloom hits, a sliver containing all true
    *     matches plus ~fpp false positives — go through the same
    *     exact join as [[decontaminate]], which removes the false
    *     positives. The bloom only prunes; it never decides.
    *
    * Output is row-for-row identical to [[decontaminate]] (the oracle
    * pins this), with the corpus-side shuffle cut by ~1/fpp.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 13,
      fpp: Double = 0.01): DataFrame = {
    val benchFps = fingerprints(benchmark, idCol, textCol, n)
      .select("fp").distinct()
    // one pass over the (small-by-nature) benchmark side builds the
    // bloom on the driver; expected count from a cheap exact count —
    // still benchmark-side-only work, never touching the corpus
    val expected = math.max(benchFps.count(), 1L)
    val bloom = benchFps.stat.bloomFilter("fp", expected, fpp)
    val bloomBc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((fp: Long) => bloomBc.value.mightContainLong(fp))
      .withName("bloom_might_contain")
    // the test is projected once per row: as a Filter on `fp`,
    // constraint inference would copy it across the exact join onto
    // the benchmark side, where it always passes
    fingerprints(corpus, idCol, textCol, n)
      .select(col("doc_id"), col("fp"),
        KernelOnce(mightContain(col("fp"))).as("__maybe"))
      .filter(col("__maybe"))
      .join(benchFps, "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_leaked_ngrams"))
  }
}
