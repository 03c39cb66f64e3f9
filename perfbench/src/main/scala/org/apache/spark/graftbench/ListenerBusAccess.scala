package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; counters read at an
  * interval's end must first let queued events drain. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
