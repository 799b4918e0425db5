package org.apache.spark

/** The listener bus is private to Spark; the benchmark lives in this
  * package only to wait for it to drain, so counts read at a span
  * boundary include every event posted before that boundary. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
