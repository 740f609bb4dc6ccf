package org.apache.spark

/** Test access to Spark's package-private listener list: how many
  * listeners are registered on `sc`'s bus. */
object ListenerCount {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
