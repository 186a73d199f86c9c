package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so the
  * tracer's per-span counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
