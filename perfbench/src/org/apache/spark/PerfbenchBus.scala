package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * trace counters read after an operation include its own events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
