package org.apache.spark

/** Bridge to Spark's package-private listener bus: a bounded wait until
  * every posted event has been delivered, so a listener's counters are
  * complete when read. False when the bus is still busy after `timeoutMs`. */
object GraftBus {
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
