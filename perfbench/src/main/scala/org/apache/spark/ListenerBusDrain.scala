package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * tracer's counters are complete before they are read. The listener
  * bus is Spark-private; this object lives in Spark's package for that
  * one call. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
