package org.apache.spark

/** The listener bus is private to Spark; the traced run waits for it to
  * empty before it reads what its listeners collected. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
