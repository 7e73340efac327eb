package org.apache.spark

/** Access to the listener bus, which is package-private to Spark: the
  * harness drains it before reading its listener's counters, so every
  * event of a finished span has been delivered without a settle sleep. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
