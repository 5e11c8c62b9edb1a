package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * tracer reads its counters only after every posted event is delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
