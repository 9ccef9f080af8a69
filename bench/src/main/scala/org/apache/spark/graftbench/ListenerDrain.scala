package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so the
  * benchmark's per-op Spark metrics are complete before they are read.
  * The bus is only reachable from inside the `org.apache.spark` package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
