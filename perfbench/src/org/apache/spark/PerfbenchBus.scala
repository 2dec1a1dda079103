package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for it
  * to drain before it reads what its listener recorded.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
