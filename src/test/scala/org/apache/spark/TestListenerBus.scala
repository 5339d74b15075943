package org.apache.spark

/** The session's listener bus is private to Spark; tests drain it before
  * reading a SparkListener's tally, so no posted event is still in flight.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
