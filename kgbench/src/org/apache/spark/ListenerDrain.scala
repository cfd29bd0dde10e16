package org.apache.spark

/** Blocks until every queued listener event has been delivered, so the
  * benchmark's task records are complete before a span's metrics are read.
  * The bus is Spark-internal; this object lives in Spark's package only to
  * reach it.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
