package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; this file lives
  * in Spark's package so the benchmark can wait for every posted event
  * to reach its listeners before it reads their counters. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
