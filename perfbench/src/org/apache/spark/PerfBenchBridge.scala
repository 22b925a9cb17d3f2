package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private. */
object PerfBenchBridge {
  /** Block until every event posted so far has reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
