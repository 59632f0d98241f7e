package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so a listener has seen every job and query execution it is about to
  * report (graft.PlanDump's capture, job-counting specs). The bus is
  * package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
