package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counts are complete when read. The bus is internal to
  * Spark, hence this one-line shim in its package. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
