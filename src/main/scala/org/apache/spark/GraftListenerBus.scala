package org.apache.spark

/** Spark keeps the driver's listener bus package-private; `graft.Harness`
  * drains it here before reading a listener, instead of sleeping. */
object GraftListenerBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
