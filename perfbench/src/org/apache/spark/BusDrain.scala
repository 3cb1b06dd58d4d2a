package org.apache.spark

/** The listener bus is private to Spark; a traced run needs every posted
  * event delivered before it reads its listener's counters. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
