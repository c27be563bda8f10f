package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so
  * listener totals read after an action include all of its tasks. The bus
  * is private to Spark; this shim lives in Spark's package to reach it.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
