package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's task-metric attribution is complete before it is read.
  * The listener bus is package-private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
