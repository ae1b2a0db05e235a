package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * pass's listener-side totals are complete before they are read. The
  * listener bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
