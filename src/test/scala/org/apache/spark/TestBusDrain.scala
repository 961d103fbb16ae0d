package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * Spark keeps the listener bus package-private; job-counting specs
  * need it so a count read after a query includes all of its jobs. */
object TestBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
