package org.apache.spark

/** Bridge to the listener bus, which Spark keeps package-private. The
  * benchmark's tracer drains it after every op so that each job, stage,
  * task, plan and streaming event of that op has been delivered before the
  * op's numbers are read: a bounded wait on the real queue, not a sleep. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
