package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: counters
  * read at a phase boundary must include every event posted before it. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
