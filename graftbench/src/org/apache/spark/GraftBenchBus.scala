package org.apache.spark

/** Listener-bus access for the benchmark: the bus is package-private, and
  * counters read before it drains miss the events still queued.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
