package org.apache.spark.graftaccess

import org.apache.spark.SparkContext

/** Compile-time access shim for `SparkContext.listenerBus` (private[spark]):
  * lets profiling tools drain the async listener bus so that the
  * job events observed around a query run are complete, not racing event
  * delivery.
  */
object Buses {
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
