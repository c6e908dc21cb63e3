package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-op counters are complete when read. The listener
  * bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
