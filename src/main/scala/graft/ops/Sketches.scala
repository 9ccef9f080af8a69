package graft.ops

import graft.functions.{FreqItemsAgg, KllMergeAgg, KllSketchAgg, ThetaSketchAgg, ThetaUnionAgg}
import graft.kernel.{Sketches => K}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** DataFrame-level sketch API (kernel/Sketches.scala + the Catalyst
  * aggregates in functions/SketchAggs.scala).
  *
  * The workflow these enable at 100 TB: at ingest, each shard/day/
  * source writes `thetaSketch(col, k)` (O(k) bytes) next to its data;
  * later, cross-shard distinct counts, overlap sizes ("how many users
  * appear in BOTH crawls") and heavy-hitter tables come from merging
  * kilobyte sketches — no rescan of the corpus, no COUNT(DISTINCT)
  * shuffle of the raw column. Estimates are EXACT while a sketch holds
  * fewer than k values (the regime the oracle rows pin); above k the
  * KMV estimator's relative error is ~1/sqrt(k-2) (k=4096 → ~1.6%).
  *
  * The scalar helpers (estimate / intersect) run once per RESULT row —
  * per group, not per input row — so plain udfs cost nothing
  * measurable; the per-input-row hot path is the codegen'd aggregate
  * update above.
  */
object Sketches {
  import org.apache.spark.sql.graft.ColumnBridge._

  /** BINARY theta sketch of the distinct values of `c` (string,
    * integral, or binary column).
    */
  def thetaSketch(c: Column, k: Int = 4096): Column =
    column(ThetaSketchAgg(expression(c), k).toAggregateExpression())

  /** Union of serialized theta sketches (aggregate over a BINARY
    * sketch column) → BINARY.
    */
  def thetaUnion(c: Column, k: Int = 4096): Column =
    column(ThetaUnionAgg(expression(c), k).toAggregateExpression())

  private val estimateUdf = udf((sk: Array[Byte]) =>
    if (sk == null) null.asInstanceOf[java.lang.Double]
    else java.lang.Double.valueOf(K.ThetaSketch.deserialize(sk).estimate))

  private val intersectUdf = udf((a: Array[Byte], b: Array[Byte]) =>
    if (a == null || b == null) null.asInstanceOf[java.lang.Double]
    else java.lang.Double.valueOf(K.ThetaSketch.intersectEstimate(
      K.ThetaSketch.deserialize(a), K.ThetaSketch.deserialize(b))))

  /** Distinct-count estimate of a serialized sketch (exact below k). */
  def thetaEstimate(sketch: Column): Column = estimateUdf(sketch)

  /** Distinct-count estimate of the INTERSECTION of two serialized
    * sketches (exact when both are below k) — the set operation
    * COUNT(DISTINCT) fundamentally cannot give you without a join of
    * the raw data.
    */
  def thetaIntersect(a: Column, b: Column): Column = intersectUdf(a, b)

  /** Misra-Gries heavy hitters over a STRING column: at most k
    * counters; ARRAY<STRUCT<item, count_min, count_max>> sorted by
    * count_min desc, item asc. Exact when distinct items <= k; always
    * guarantees count_min <= true <= count_max and that any item with
    * true count > (total decrements) is present.
    */
  def freqItems(c: Column, k: Int = 256): Column =
    column(FreqItemsAgg(expression(c), k).toAggregateExpression())

  /** BINARY KLL quantile sketch of a numeric column: quantiles exact
    * (= quantile_disc) while the group holds <= k values, additive
    * rank error ~O(1/k) past that.
    */
  def kllSketch(c: Column, k: Int = 1024): Column =
    column(KllSketchAgg(expression(c), k).toAggregateExpression())

  /** Merge of serialized KLL sketches (aggregate over a BINARY sketch
    * column) → BINARY.
    */
  def kllMerge(c: Column, k: Int = 1024): Column =
    column(KllMergeAgg(expression(c), k).toAggregateExpression())

  private val kllQuantileUdf = udf((sk: Array[Byte], q: Double) =>
    if (sk == null) null.asInstanceOf[java.lang.Double]
    else java.lang.Double.valueOf(
      K.QuantileSketch.deserialize(sk).quantile(q)))

  private val kllNUdf = udf((sk: Array[Byte]) =>
    if (sk == null) null.asInstanceOf[java.lang.Long]
    else java.lang.Long.valueOf(K.QuantileSketch.deserialize(sk).n))

  /** Discrete-quantile estimate from a serialized KLL sketch (exact
    * below k; DuckDB quantile_disc convention: sorted[ceil(q*n)-1]).
    */
  def kllQuantile(sketch: Column, q: Column): Column = kllQuantileUdf(sketch, q)

  /** Stream length recorded in a serialized KLL sketch. */
  def kllN(sketch: Column): Column = kllNUdf(sketch)
}
