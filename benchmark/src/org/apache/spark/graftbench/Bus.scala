package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the benchmark reads its
  * listener totals only after the bus has delivered every queued
  * event. `waitUntilEmpty` is package-private to Spark, hence this
  * one-line shim in Spark's namespace. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
