package org.apache.spark

/** Blocks until every listener has seen every event posted so far, so a
  * spec can read the status tracker without racing the async listener
  * bus (the bus is private to Spark, hence this package). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
