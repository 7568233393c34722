package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the listener bus, so a traced run can wait until every
  * job event has reached its listener before reading it. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
