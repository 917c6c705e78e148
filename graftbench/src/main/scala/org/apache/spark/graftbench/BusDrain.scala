package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so that a
  * listener's view of a finished call is complete before it is read. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
