package org.apache.spark

/** Reaches the one listener-bus call the benchmark needs that Spark keeps
  * package-private: waiting until every posted event has been delivered,
  * so counter snapshots at a span boundary include the span's own tasks. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
