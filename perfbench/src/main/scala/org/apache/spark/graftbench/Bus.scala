package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus drain is private to Spark; this file sits in Spark's
  * package so the harness can wait for every queued listener event
  * (jobs, plans, stream progress) before it reads a pass's totals. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
