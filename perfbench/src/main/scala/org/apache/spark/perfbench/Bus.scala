package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package to reach the listener bus, which has no public
  * way to wait for delivered events.
  */
object Bus {
  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
