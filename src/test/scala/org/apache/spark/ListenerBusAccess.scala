package org.apache.spark

/** Spark keeps the driver's listener bus package-private; specs that count
  * jobs drain it here before reading their listener, instead of sleeping. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
