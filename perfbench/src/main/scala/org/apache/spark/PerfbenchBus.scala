package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for
  * it to drain before it charges listener events to spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
