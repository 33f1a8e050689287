package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's counters are complete before they are read. The bus is
  * private to Spark; this accessor lives in Spark's package for that. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
