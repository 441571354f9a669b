package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run waits for queued listener events before it reads counters.
  */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
