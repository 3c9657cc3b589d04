package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so span
  * totals read afterwards are complete (the bus is private to Spark). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
