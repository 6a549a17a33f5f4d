package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the benchmark's listeners have seen all jobs and progress events before
  * metrics are computed. The bus is package-private to Spark.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
