package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run's counters are complete before they are read. The bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
