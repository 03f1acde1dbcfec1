package org.apache.spark

/** The listener bus is package-private; the traced run must read its
  * counters only after every queued event has been delivered. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
