package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. Counters read at the end
  * of an operation must first wait for the bus to drain, and the hook for
  * that is private to the `org.apache.spark` package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
