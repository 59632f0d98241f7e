package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.storage.BroadcastBlockId

/** Frees the block-store copy of a query's broadcast relations when the
  * query ends, instead of when a later GC happens to find the query's
  * plan dead.
  *
  * A broadcast join's relation is deserialized once per executor and kept
  * in the block store under `broadcast_<id>` until Spark's ContextCleaner
  * removes it, which it does only after a GC has collected the broadcast
  * handle. A hashed relation on a non-integral key (e.g. `join_dpp`'s
  * string `event_type`) holds a whole Tungsten page (32 MB on a 3 GB
  * local[2] driver) however few rows it has, so each such query pins that
  * page until the next GC, and how much of it is live at any point
  * depends on when the JVM last collected.
  *
  * Only the deserialized value is removed. The serialized pieces stay
  * until the ContextCleaner drops them as before, so a re-execution of
  * the same physical plan reads them and deserializes the relation again.
  * Relations inside a cached relation's plan are not touched. */
object BroadcastRelease extends AdaptiveSparkPlanHelper {
  private val installed = new java.util.WeakHashMap[SparkContext, java.lang.Boolean]()

  /** Registers the release listener on `sc`, once per context. */
  def install(sc: SparkContext): Unit = installed.synchronized {
    if (!installed.containsKey(sc)) {
      sc.addSparkListener(new SparkListener {
        override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
          case end: SparkListenerSQLExecutionEnd
              if end.qe != null && end.executionFailure.isEmpty =>
            release(end.qe.executedPlan)
          case _ =>
        }
      })
      installed.put(sc, true)
    }
  }

  /** Removes the block-store value of every broadcast `plan` (with its
    * subqueries and adaptive stages) completed. A failed query's are left
    * to the ContextCleaner. */
  def release(plan: SparkPlan): Unit = Option(org.apache.spark.SparkEnv.get).foreach { env =>
    val blocks = env.blockManager
    collectWithSubqueries(plan) {
      case b: BroadcastExchangeLike => b
      case ReusedExchangeExec(_, b: BroadcastExchangeLike) => b
    }.flatMap(completed).map(bc => BroadcastBlockId(bc.id)).distinct
      .filter(blocks.getStatus(_).isDefined)
      .foreach(blocks.removeBlock(_, tellMaster = false))
  }

  // the exchange's broadcast, if it has finished building; Scala-protected
  // (public in bytecode), and unlike `relationFuture` reading it starts no job
  private def completed(b: BroadcastExchangeLike): Option[Broadcast[_]] =
    b.getClass.getMethod("completionFuture").invoke(b) match {
      case f: scala.concurrent.Future[_] =>
        f.value.flatMap(_.toOption).collect { case bc: Broadcast[_] => bc }
      case _ => None
    }
}
