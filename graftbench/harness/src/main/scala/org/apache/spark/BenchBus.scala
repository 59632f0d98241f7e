package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so totals read after a pass include the last op's tasks. The bus is
  * package-private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
