package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered. The
  * listener bus is asynchronous and Spark-internal; this object lives in
  * Spark's package space only to reach it.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
