package org.apache.spark

/** Access to the listener bus, which is package-private to Spark: the
  * benchmark reads its listener's counters only after every event of the
  * measured work has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
