package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * Listener counts are read only after the bus is empty, never after a
  * fixed sleep. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
