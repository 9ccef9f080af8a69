package graft.ops

import graft.kernel.TextKernel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rule-based document curation — the Gopher/C4-style quality gate
  * that decides keep/drop per document and names the first failing
  * rule (the "tagger → mixer" decision record a pipeline audits and
  * tunes). Deliberately built from EXACT-RATIONAL signals only —
  * token counts, single-division ratios — so the decision is
  * bit-reproducible across engines and runs: no entropy/log
  * aggregates whose summation order could flip a threshold.
  *
  * The four signals come from one kernel UDF per document
  * ([[gopherStats]], projected once per row through [[KernelOnce]])
  * and the cascade is native column expressions over it (map-only):
  * at 100 TB this runs at scan speed with column pruning — only (id,
  * text, lang) are read. Rules, in cascade order
  * (first failure wins): too_short, too_long, token_len (mean token
  * length outside [minMeanLen, maxMeanLen]), alpha (alphabetic-token
  * fraction below minAlphaFrac), stopwords (no common function word —
  * Gopher's "symbol soup" guard), lang (metadata language not
  * allowed).
  */
object Curation {

  /** The four gate signals in ONE compiled kernel pass per document:
    * (n_tokens, sum_chars, n_alpha, has_stop), NULL struct for NULL
    * text (matching the expression form's null flow field-for-field).
    *
    * r14 (guide §1.2 step 2 / §4): the original derivation built four
    * higher-order expressions over the token array —
    * `aggregate(transform(...))` for char sums, `filter(x.rlike(...))`
    * for the alpha count, `arrays_overlap` for stopwords. HOF lambdas
    * are NOT whole-stage-codegen'd (interpreted per element), and the
    * per-token regex rode the x15 pipeline's hottest map stage (the
    * 500k-doc rules gate). One tight char-loop over
    * [[TextKernel.tokens]] computes all four signals; measured
    * same-JVM interleaved at 500k docs: 3.2–3.8 s → 2.4–3.0 s on the
    * gate count (~1.3× — tokenization itself dominates both forms and
    * is attacked separately in TextKernel.splitWsNonEmpty), identical
    * keep counts every cycle, outputs spec-pinned against the
    * expression form incl. the null/empty/unicode edges; the
    * l41/l43/l44/x15-chain oracle rows re-verified green.
    * Semantics preserved exactly: token class is the repo-wide
    * lowercase WsPlus split; char counts are CODE POINTS
    * (`length()`/UTF8String.numChars counts code points, so the twin
    * is codePointCount, not String.length); the alpha predicate
    * `rlike "^[a-z]+$"` means non-empty and all-ASCII-lowercase
    * (tokens cannot contain the line terminators that would make the
    * anchors diverge from a full match).
    */
  private def gopherStats(textCol: Column,
      stopwords: Seq[String]): Column = {
    val stopSet = stopwords.toSet
    val statsUdf = udf((text: String) =>
      if (text == null) null
      else {
        val t = TextKernel.tokens(text)
        var sumChars = 0L
        var nAlpha = 0L
        var hasStop = false
        var i = 0
        while (i < t.length) {
          val w = t(i)
          sumChars += w.codePointCount(0, w.length).toLong
          var alpha = w.length > 0
          var j = 0
          while (alpha && j < w.length) {
            val c = w.charAt(j)
            alpha = c >= 'a' && c <= 'z'
            j += 1
          }
          if (alpha) nAlpha += 1
          if (!hasStop && stopSet.contains(w)) hasStop = true
          i += 1
        }
        (t.length.toLong, sumChars, nAlpha, hasStop)
      })
    statsUdf(textCol)
  }

  /** Appends `drop_reason` to `docs`: the first failing rule, or NULL
    * to keep the document. Every input column passes through, so the
    * verdict composes with a downstream filter, join or windowed
    * aggregate, in batch and in streaming (the pass-rate monitor).
    */
  def gopherReason(docs: DataFrame, textCol: String, langCol: String,
      minTokens: Int = 50, maxTokens: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8,
      stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in"),
      allowedLangs: Seq[String] = Seq("en", "es", "de", "fr")): DataFrame =
    gate(docs, textCol, langCol, minTokens, maxTokens, minMeanLen,
      maxMeanLen, minAlphaFrac, stopwords, allowedLangs).drop(StatsCol)

  /** Per-document rule evaluation. Output: (doc_id, n_tokens,
    * mean_token_len, alpha_frac, keep, drop_reason) — ratio columns
    * are NULL for token-less documents (which fail too_short anyway).
    */
  def gopherRules(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      minTokens: Int = 50,
      maxTokens: Int = 100000,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8,
      stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in"),
      allowedLangs: Seq[String] = Seq("en", "es", "de", "fr")): DataFrame = {
    val (n, meanLen, alphaFrac, _) = signals(col(StatsCol))
    gate(docs, textCol, langCol, minTokens, maxTokens, minMeanLen,
        maxMeanLen, minAlphaFrac, stopwords, allowedLangs)
      .select(col(idCol).as("doc_id"), n.as("n_tokens"),
        meanLen.as("mean_token_len"), alphaFrac.as("alpha_frac"),
        col("drop_reason").isNull.as("keep"), col("drop_reason"))
  }

  private val StatsCol = "__gopher_stats"

  /** `docs` plus the [[gopherStats]] struct, projected once per row
    * ([[KernelOnce]]), and the rule cascade over it as `drop_reason`.
    */
  private def gate(docs: DataFrame, textCol: String, langCol: String,
      minTokens: Int, maxTokens: Int, minMeanLen: Double,
      maxMeanLen: Double, minAlphaFrac: Double, stopwords: Seq[String],
      allowedLangs: Seq[String]): DataFrame = {
    val (n, meanLen, alphaFrac, hasStop) = signals(col(StatsCol))
    docs.select(col("*"),
        KernelOnce(gopherStats(col(textCol), stopwords)).as(StatsCol))
      .withColumn("drop_reason", when(n < minTokens, "too_short")
        .when(n > maxTokens, "too_long")
        .when(meanLen < minMeanLen || meanLen > maxMeanLen, "token_len")
        .when(alphaFrac < minAlphaFrac, "alpha")
        .when(!hasStop, "stopwords")
        .when(!col(langCol).isin(allowedLangs.map(lit(_)): _*), "lang"))
  }

  /** (n_tokens, mean token length, alphabetic fraction, has_stop) from
    * a [[gopherStats]] struct; the ratios are NULL without tokens.
    */
  private def signals(gs: Column): (Column, Column, Column, Column) = {
    val n = gs.getField("_1")
    (n, when(n > 0, gs.getField("_2").cast("double") / n),
      when(n > 0, gs.getField("_3").cast("double") / n), gs.getField("_4"))
  }

  /** End-to-end curation pipeline — the composition a real corpus
    * build runs as ONE job: rule gate ([[gopherRules]]) → corpus-level
    * line dedup ([[CorpusStats.dedupLines]]) → exact dedup keep-one
    * (md5 of the cleaned text, smallest id is canonical — the l01
    * convention). Documents emptied by line removal are dropped.
    * Output, one row per surviving canonical document:
    * (doc_id, clean_len, n_dupes — how many kept docs collapsed into
    * this canonical text).
    *
    * Scale shape: each stage is individually scale-audited (map-only
    * rules; wordcount-shaped line df + anti-join; one hash aggregate
    * on a 32-char md5 key, never on the full text). Composing them
    * adds no new shuffle class — Catalyst pipelines the rule filter
    * into the line-dedup scan.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, minTokens: Int = 50, lineMinDocs: Int = 3): DataFrame = {
    val kept = gopherRules(docs, idCol, textCol, langCol,
        minTokens = minTokens)
      .filter(col("keep")).select(col("doc_id"))
    val keptDocs = docs.join(kept, docs(idCol) === kept("doc_id"))
      .select(docs(idCol), docs(textCol))
    val cleaned = CorpusStats
      .dedupLines(keptDocs, idCol, textCol, minDocs = lineMinDocs)
      .filter(col("clean_text") =!= "")
    cleaned
      .groupBy(md5(col("clean_text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(length(col("clean_text")).cast("long")).as("clean_len"),
        count(lit(1)).as("n_dupes"))
      .select("doc_id", "clean_len", "n_dupes")
  }

  /** Adaptive per-group quality cutoff — thresholds that FOLLOW the
    * data instead of a global constant (a fixed length floor that is
    * right for English drops half of Chinese): per group (language,
    * source, …), the q-quantile of `valueCol` is estimated with the
    * mergeable KLL sketch and rows below their group's cutoff are
    * dropped. Output: the surviving rows as (doc_id, group, value,
    * cutoff).
    *
    * Scale shape: the sketch aggregate is mergeable (map-side partial
    * sketches, one k-bounded state per group), the cutoff table is
    * |groups| rows and broadcasts into a map-side filter — the corpus
    * is scanned twice but shuffled never. In the exact regime
    * (group ≤ k) the cutoff equals quantile_disc, which is what the
    * oracle checks; past k the sketch guarantee (≈O(1/k) rank error)
    * takes over, property-tested in SketchesSpec.
    */
  def adaptiveQuantileCut(docs: DataFrame, idCol: String, valueCol: String,
      groupCol: String, q: Double = 0.1, k: Int = 1024): DataFrame = {
    val cuts = docs.groupBy(col(groupCol))
      .agg(Sketches.kllSketch(col(valueCol), k).as("sk"))
      .select(col(groupCol),
        Sketches.kllQuantile(col("sk"), lit(q)).cast("long").as("cutoff"))
    docs.join(broadcast(cuts), groupCol)
      .filter(col(valueCol) >= col("cutoff"))
      .select(col(idCol).as("doc_id"), col(groupCol), col(valueCol),
        col("cutoff"))
  }
}
