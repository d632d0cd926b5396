package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the benchmark drains it
  * after every traced operation so each listener event is attributed to
  * the operation that caused it before the next one starts.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
