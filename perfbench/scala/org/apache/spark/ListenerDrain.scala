package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so counters read right after an operation include all its events.
  * (The listener bus is package-private to Spark.) */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
