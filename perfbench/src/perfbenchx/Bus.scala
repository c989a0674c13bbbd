package org.apache.spark.perfbenchx

import org.apache.spark.SparkContext

/** Access to the listener bus, which only the spark package may drain. */
object Bus {
  /** Block until every posted event has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
