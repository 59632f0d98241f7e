package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so a spec's listener has seen all the jobs it is about to count. The
  * bus is package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
