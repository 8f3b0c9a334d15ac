package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, whose drain call is Spark-private. */
object Bus {
  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
