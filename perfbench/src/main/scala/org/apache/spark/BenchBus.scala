package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark reads its probes only after the jobs and micro-batches
  * they describe have been reported. The bus is package-private to
  * Spark, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
