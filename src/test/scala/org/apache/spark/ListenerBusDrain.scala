package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * spec reads complete listener records. The listener bus is private
  * to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
