package org.apache.spark

/** Test access to `LiveListenerBus.waitUntilEmpty`, which is private to
  * the spark package: listener events are delivered asynchronously, so
  * a listener's counts are only complete once the bus has drained.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
