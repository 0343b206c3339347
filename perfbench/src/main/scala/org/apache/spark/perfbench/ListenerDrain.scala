package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far reached the registered
  * listeners, so per-operation counts read after an operation are complete.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
