package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark keeps its listener bus package-private; the benchmark needs to
  * wait for queued listener events before reading its counters. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
