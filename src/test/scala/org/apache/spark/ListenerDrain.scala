package org.apache.spark

/** Test access to the listener bus, which is private to Spark: blocks until
  * every posted event has reached every listener. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
