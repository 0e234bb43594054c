package org.apache.spark

/** Blocks until every queued listener event has been delivered, so counters
  * read right after an action include that action's jobs and tasks. The
  * listener bus is private to Spark, hence this accessor's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
