package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * tracer's records are complete before it summarizes them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
