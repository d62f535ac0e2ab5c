package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark reads complete totals after a timed window. The bus is
  * package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
