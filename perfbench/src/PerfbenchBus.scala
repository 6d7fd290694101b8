package org.apache.spark

/** Wait until every queued listener event has been delivered, so the
  * tracer's counts are complete before the run writes them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
