package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array, explode_outer}

/** A kernel's result, materialized once per row.
  *
  * Catalyst treats a UDF as a free expression (Spark SQL, SIGMOD 2015):
  * it copies the call wherever that saves a projection. Alias
  * substitution copies it into a Filter pushed below its projection
  * (an `isNotNull` on the result, a verdict, an inferred join-key
  * filter), and CollapseProject copies it into each field read of a
  * struct it returns, so one kernel runs many times per row. Projected
  * as `explode_outer(array(kernel))`, the call sits in a `Generate`,
  * which no rule inlines or collapses: a filter on its output stays
  * above it, while a filter on a pass-through column is still pushed
  * below it into the scan. The one-element array emits exactly one row
  * per input row, NULL results included; the outer form keeps that row
  * whatever the array holds, and the optimizer infers no filter from
  * it. Marking the UDF nondeterministic also
  * stops the copies, but it stops every pushdown through the projection
  * with them, so a filter after the kernel no longer reaches the scan.
  *
  * Use it as one `select` item: `df.select(col("id"),
  * KernelOnce(kernel(col("text"))).as("k"))`, then read `k` or its
  * fields. The test-side `graft.plans.PlanLint` checks every registered
  * query for copied kernels.
  */
private[ops] object KernelOnce {
  def apply(kernel: Column): Column = explode_outer(array(kernel))
}
