package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete when the benchmark reads them. The
  * bus is internal to Spark, hence this one-line shim in its package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
