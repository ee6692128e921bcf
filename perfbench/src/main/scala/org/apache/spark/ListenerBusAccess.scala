package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private:
  * the benchmark's tracer drains it before reading its counters instead of
  * sleeping for an arbitrary time. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
