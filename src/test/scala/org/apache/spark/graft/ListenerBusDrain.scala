package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so a
  * test listener has seen all events of the actions it watched. The bus
  * is only reachable from inside the `org.apache.spark` package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
