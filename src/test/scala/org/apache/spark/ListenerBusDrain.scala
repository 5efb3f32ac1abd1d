package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so a listener's counts are complete when a measured body returns. The
  * bus is private to Spark; this object lives in its package to reach it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
