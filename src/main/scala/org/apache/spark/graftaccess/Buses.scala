package org.apache.spark.graftaccess

import org.apache.spark.SparkContext

/** Compile-time access shim for `SparkContext.listenerBus` (private[spark]):
  * lets the chain profiler drain the async listener bus so that
  * job counters observed around a plan construction are exact, not
  * racing event delivery.
  */
object Buses {
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
