package org.apache.spark

/** The listener bus is private to Spark; a spec that reads what a listener
  * recorded waits for it to drain first.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
