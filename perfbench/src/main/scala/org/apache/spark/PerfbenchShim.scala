package org.apache.spark

/** Access to the `private[spark]` listener bus, so the benchmark can wait
  * for listener events of a timed section before it reads its counters. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
