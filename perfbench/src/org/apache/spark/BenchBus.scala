package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait until
  * every event of a traced call has reached its listener before reading
  * the metrics.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
