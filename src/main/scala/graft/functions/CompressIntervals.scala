package graft.functions

import org.apache.spark.sql.Column

/** compress_intervals(start, stop) → LIST<STRUCT(start, stop)> — the
  * reference's only custom aggregate.
  *
  * Reference: src/compress_intervals.cpp:1-165, src/IntervalCompressor
  * .cpp:1-65. Semantics: inverted pairs swapped; overlapping-or-touching
  * intervals merged; NULL starts/stops skipped; empty state → NULL;
  * output sorted by start. State auto-compresses at 1M buffered
  * intervals (reduce) and after every merge (combine), so executor
  * memory stays bounded no matter how many raw alignments a group has —
  * this is what makes the aggregate safe under Spark's partial
  * (map-side) aggregation at 100 TB.
  */
object CompressIntervals {

  /** Catalyst-native aggregate (TypedImperativeAggregate): primitive
    * per-row updates, live object buffer, compact compressed-state
    * serialization at shuffle boundaries. `CompressIntervalsAggSpec`
    * keeps an `Aggregator` over the same kernel as its oracle.
    */
  def compressIntervals(start: Column, stop: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge._
    column(CompressIntervalsAgg(expression(start), expression(stop))
      .toAggregateExpression())
  }
}
