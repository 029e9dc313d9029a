package org.apache.spark

/** Waits until every listener has seen every event posted so far, so a
  * test's job counter reads complete records (the bus is private to
  * Spark's package). */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
