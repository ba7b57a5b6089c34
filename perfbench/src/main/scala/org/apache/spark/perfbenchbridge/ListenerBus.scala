package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is private to the spark package. The
  * traced run drains the bus at every op boundary, so each listener event
  * is attributed to the op that caused it.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
