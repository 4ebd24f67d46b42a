package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private to Spark. */
object Bus {
  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
