package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to `SparkContext.listenerBus` (private[spark]): the tracer
  * drains the asynchronous bus at each span boundary so that the events
  * of a span's jobs are counted in that span.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
