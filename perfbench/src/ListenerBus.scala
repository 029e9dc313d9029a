package org.apache.spark

/** Waits until every listener has seen every event posted so far, so a
  * probe reads complete job and trigger records (the bus is private to
  * Spark's package). */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
