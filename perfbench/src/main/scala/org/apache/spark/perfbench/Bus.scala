package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to core's `private[spark]` listener bus: listener-fed counters
  * are read only after every event posted so far has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
