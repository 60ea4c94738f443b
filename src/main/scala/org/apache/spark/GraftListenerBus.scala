package org.apache.spark

/** The listener bus is private to Spark; callers that count listener events
  * wait for it to empty before they read their counts, instead of sleeping
  * and hoping every event has arrived. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
