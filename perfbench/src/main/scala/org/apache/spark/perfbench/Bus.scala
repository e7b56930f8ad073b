package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; a traced span waits on it so that
  * every event its work posted is delivered before the span closes. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
