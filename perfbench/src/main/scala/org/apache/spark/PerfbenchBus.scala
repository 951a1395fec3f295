package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * listener totals read after a job are complete. The bus is private to
  * Spark; this object lives in Spark's package to reach it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
