package org.apache.spark

/** Blocks until every event posted so far has reached the registered
  * listeners. Listener callbacks run on Spark's asynchronous bus, and the
  * benchmark reads their records only after the bus is empty. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
