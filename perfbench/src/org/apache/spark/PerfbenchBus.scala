package org.apache.spark

/** Access to the listener bus, which is private to Spark: the traced run
  * drains it before reading a span's counters. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
