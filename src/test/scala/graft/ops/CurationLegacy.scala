package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Test oracle for [[Curation]]'s gate kernel. */
object CurationLegacy {

  /** The pre-r14 expression form of `Curation.gopherStats`'s signals —
    * the readable definition of the semantics that CurationSpec pins
    * the kernel to. Not on any query path.
    */
  def gopherStatsExprLegacy(textCol: Column,
      stopwords: Seq[String]): Column = {
    val t = TextCols.toks(textCol)
    val n = size(t).cast("long")
    val sumChars = aggregate(transform(t, x => length(x).cast("long")),
      lit(0L), (a, x) => a + x)
    val nAlpha = size(filter(t, x => x.rlike("^[a-z]+$"))).cast("long")
    val hasStop = arrays_overlap(t, array(stopwords.map(lit): _*))
    when(textCol.isNotNull, struct(n.as("_1"), sumChars.as("_2"),
      nAlpha.as("_3"), hasStop.as("_4")))
  }
}
