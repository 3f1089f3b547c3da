package org.apache.spark

/** The listener bus is asynchronous and its drain is private[spark]: the
  * traced run drains it before reading job and task counts, so counts
  * never depend on how far the bus happened to lag.
  */
object PerfShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
