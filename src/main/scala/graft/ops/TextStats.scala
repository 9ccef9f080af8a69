package graft.ops

import graft.kernel.TextKernel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-quality analysis operators for training-data curation.
  * Everything except language-ID is pure column expressions (codegen'd,
  * oracle-expressible); language-ID wraps the kernel heuristic.
  */
object TextStats {

  /** Whitespace token count. Splits on TextKernel.WsPlus — an explicit
    * character class identical in Java regex and RE2 (Java's bare `\s`
    * includes U+000B, RE2's does not), so the DuckDB oracle tokenizer
    * is the same automaton by construction. */
  def tokenCount(text: Column): Column =
    size(filter(split(text, TextKernel.WsPlus), t => length(t) > 0)).cast("long")

  /** BPE-ish token estimate: word pieces + standalone punctuation
    * (regexp count of `\w+|[^\w<ws>]`, explicit whitespace class).
    */
  def bpeishTokenCount(text: Column): Column =
    (size(split(text, "\\w+|[^\\w" + TextKernel.WsChars + "]")) - 1).cast("long")

  /** Punctuation-to-character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double")
        / length(text).cast("double"))

  /** Fraction of tokens that are English stopwords (quality signal). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = filter(split(lower(text), TextKernel.WsPlus), t => length(t) > 0)
    when(size(toks) === 0, 0.0).otherwise(
      size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
        .cast("double") / size(toks).cast("double"))
  }

  /** Mean word length. */
  def meanWordLen(text: Column): Column = {
    val toks = filter(split(text, TextKernel.WsPlus), t => length(t) > 0)
    when(size(toks) === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long")).cast("double")
        / size(toks).cast("double"))
  }

  private val charEntropyUdf = udf((text: String) =>
    if (text == null) null
    else {
      // Shannon entropy (bits) of the codepoint distribution — the
      // classic cheap gibberish/low-quality signal: near-zero for
      // repeated-char spam, ~4.1 for English prose, higher for CJK.
      val counts = new java.util.HashMap[Integer, Long]()
      var i = 0
      while (i < text.length) {
        val cp = text.codePointAt(i)
        counts.merge(cp, 1L, (a, b) => java.lang.Long.valueOf(a + b))
        i += Character.charCount(cp)
      }
      var n = 0L
      val vit = counts.values().iterator()
      while (vit.hasNext) n += vit.next()
      if (n == 0L) java.lang.Double.valueOf(0.0)
      else {
        var h = 0.0
        val it = counts.values().iterator()
        while (it.hasNext) {
          val p = it.next().doubleValue / n
          h -= p * (math.log(p) / math.log(2.0))
        }
        java.lang.Double.valueOf(h)
      }
    })

  /** Character-distribution Shannon entropy in bits (codepoint-level;
    * matches DuckDB's base-2 `entropy()` aggregate over split chars).
    */
  def charEntropy(text: Column): Column = charEntropyUdf(text)

  private val langIdUdf = udf((text: String) =>
    if (text == null) null else TextKernel.langId(text))

  /** Heuristic language-ID (stopword profiles + CJK script share). */
  def langId(text: Column): Column = langIdUdf(text)

  private val repetitionUdf = udf((text: String) =>
    if (text == null) null else TextKernel.repetitionStats(text))

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, adapted
    * to word n-grams): documents dominated by a few repeated phrases
    * (boilerplate, SEO spam, template text) show a high top-bigram /
    * top-trigram fraction and a high duplicate-5-gram fraction; the
    * standard Gopher cut is e.g. top-2-gram > 0.20, dup-5-gram > 0.15.
    *
    * One single-pass kernel UDF per document rather than column
    * expressions: building word n-gram arrays with interpreted
    * higher-order functions measured ~6 ms/doc (L18Probe — the
    * HOF lambda interpreter pays ~7 µs per element, and the naive
    * count-per-distinct topRatio was another 25× over that); the
    * hash-map kernel is ~0.1 ms/doc with identical semantics. Still
    * map-only — no shuffle at any corpus size.
    */
  def repetitionReport(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      KernelOnce(repetitionUdf(col(textCol))).as("r"))
      .select(
        col("doc_id"),
        col("r._1").as("n_words"),
        round(col("r._2"), 6).as("top_bigram_ratio"),
        round(col("r._3"), 6).as("top_trigram_ratio"),
        round(col("r._4"), 6).as("dup_5gram_ratio"))

  /** PII patterns — ASCII-only constructs with identical semantics in
    * Java regex and RE2, so the DuckDB oracle applies the exact same
    * automata. Redaction order matters (emails contain dots/digits):
    * email → IPv4 → phone.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Redact emails / IPv4s / phone numbers to typed placeholders — the
    * standard pre-training scrub pass. Global replace, codegen'd. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** Luhn checksum over a digit string: double every second digit
    * from the RIGHT, subtract 9 when doubling exceeds 9, valid iff
    * the sum ≡ 0 (mod 10). Pure positional integer arithmetic — any
    * engine folds the identical expression, so the PAN-vs-order-id
    * decision (l80) is bit-exact across engines. Non-digit input
    * yields null casts and a null verdict (callers pre-match digit
    * runs by regex).
    */
  def luhnValid(digits: Column): Column = {
    val n = length(digits)
    val total = aggregate(
      transform(sequence(lit(1), n), i => {
        val d = digits.substr(n - i + lit(1), lit(1)).cast("int")
        when(pmod(i, lit(2)) === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
          .otherwise(d)
      }),
      lit(0), (a, v) => a + v)
    pmod(total, lit(10)) === 0
  }

  private val nfcUdf = udf((text: String) =>
    if (text == null) null
    else java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFC))

  /** Unicode/whitespace canonicalization — the cleaning pass every
    * pipeline runs before hashing or tokenizing (without it, NFC-vs-
    * NFD twins of the same string dodge exact dedup): NFC
    * normalization, control characters stripped (except \n and \t),
    * space/tab runs collapsed to one space, outer whitespace trimmed.
    * The regex steps are engine-portable patterns (the oracle runs
    * the identical replacements on DuckDB's nfc_normalize); NFC
    * itself is the JDK normalizer, spec-tested on combining-mark and
    * compatibility cases.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfcUdf(text), "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "[ \\t]+", " "))

  /** Composite quality report per document. */
  def qualityReport(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val en = Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "a", "with")
    docs.select(
      col(idCol).as("doc_id"),
      length(col(textCol)).cast("long").as("n_chars"),
      tokenCount(col(textCol)).as("n_tokens"),
      bpeishTokenCount(col(textCol)).as("n_bpeish"),
      punctRatio(col(textCol)).as("punct_ratio"),
      stopwordRatio(col(textCol), en).as("stopword_ratio"),
      meanWordLen(col(textCol)).as("mean_word_len"),
      langId(col(textCol)).as("lang_pred"))
  }
}
