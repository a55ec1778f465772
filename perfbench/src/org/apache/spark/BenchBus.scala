package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * phase's task metrics are complete before the benchmark reads them. The
  * live listener bus is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
