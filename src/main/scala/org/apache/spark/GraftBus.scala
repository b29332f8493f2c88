package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * Listener-derived counts are read only after the bus is empty, never
  * after a fixed sleep. Throws a TimeoutException if the bus does not
  * drain within a minute. */
object GraftBus {
  def drain(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
