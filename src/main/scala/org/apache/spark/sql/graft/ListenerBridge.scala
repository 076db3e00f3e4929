package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to core's `private[spark]` listener bus.
  *
  * Anything that samples listener-fed counters right after an action —
  * SpillSpec's spill bytes, ClusterPostureSpec's speculative-task /
  * job-end / executor-removed marks — races the async event queues:
  * the event may not be processed yet, shifting attribution to the next
  * sample or reading a stale timestamp. Draining the bus first makes the sample complete
  * up to everything posted before the action finished.
  */
object ListenerBridge {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        // a wedged bus degrades to the pre-drain behavior (possibly
        // stale counters) rather than failing an otherwise-healthy run
        System.err.println(s"[ListenerBridge] bus not empty after ${timeoutMs} ms")
    }
}
