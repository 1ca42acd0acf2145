package org.apache.spark

/** The listener bus is package-private; the trace needs to wait for it to
  * drain before reading counters.
  */
object BusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
