package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so counters
  * read right after an action include that action's jobs and stages. The
  * listener bus is private to Spark, hence this accessor's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
