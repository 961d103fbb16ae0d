package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * Spark keeps the listener bus package-private; the benchmark needs it
  * so counters read after a query include all of that query's tasks. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
