package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for
  * it to deliver every queued event before it reads listener counters. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
