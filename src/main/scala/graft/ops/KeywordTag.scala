package graft.ops

import graft.kernel.AhoCorasick
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-keyword tagging for curation blocklists/taxonomies: every
  * document scanned ONCE against the whole term list (Aho–Corasick,
  * O(|text|) per doc) instead of a regex pass per term — the
  * difference between a flat map-only stage and O(|terms|) passes
  * when the list is thousands of NSFW/spam/PII trigger terms.
  *
  * Scale shape: the automaton is built once on the driver from the
  * model-sized term list and ships inside the task binary (same
  * broadcast contract as the LM/centroid kernels); the scan is
  * map-only; only (doc_id, term, n) hit rows — a sliver of the
  * corpus — leave the stage.
  */
object KeywordTag {

  // public: Catalyst's generated (de)serializer code must access it
  case class TermHit(term: String, n: Long)

  /** (doc_id, term, n) for every term with ≥1 (case-insensitive,
    * substring) occurrence. All end positions count — for borderless
    * terms this equals the non-overlapping count SQL `replace`
    * arithmetic derives.
    */
  def tagKeywords(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "term list must be non-empty")
    val ac = AhoCorasick.build(terms)
    val hitsUdf = udf((t: String) => {
      val c = ac.countMatches(t)
      ac.terms.indices.iterator.collect {
        case i if c(i) > 0 => TermHit(ac.terms(i), c(i).toLong)
      }.toSeq
    })
    docs.select(col(idCol).as("doc_id"), explode(hitsUdf(col(textCol))).as("h"))
      .select(col("doc_id"), col("h.term").as("term"), col("h.n").as("n"))
  }
}
