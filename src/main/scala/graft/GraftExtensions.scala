package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarity, DotProduct}

/** SparkSessionExtensions entry point — the deployment-time hook that
  * injects graft's native expressions into any session:
  *
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)          // programmatic
  *   // or spark.sql.extensions=graft.GraftExtensions (config)
  * }}}
  *
  * Registers `cosine_sim`/`dot_product` (codegen'd vector kernels)
  * and the planner strategy for the whole-operator plans in
  * `graft.plans` (native as-of join). The declared-SQL parity surface
  * needs no custom rules (SURVEY.md §4.1) — Catalyst covers it; the
  * strategy exists for the operator Spark genuinely lacks.
  *
  * It also installs [[org.apache.spark.sql.BroadcastRelease]] on the
  * session's context, so a query's broadcast relations leave the block
  * store when the query ends, and names the NIO local filesystem
  * ([[graft.store.NioLocalFs]]) for the context's `file:` paths, so local
  * writes, renames and checkpoint commits start no `chmod`/`readlink`
  * process. `apply` runs inside `getOrCreate`, after the context exists
  * and before the session's shared state asks for the JVM's first
  * `file:` FileSystem, which Hadoop then caches; the check-rule builder
  * below runs only once a query is analyzed, too late for that.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.ActiveContext.get.foreach(sc =>
      graft.store.NioLocalFs.install(sc.hadoopConfiguration))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsofJoinPushDown)
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
    ext.injectOptimizerRule(_ => graft.plans.ApproxRewrite)
    ext.injectCheckRule { session =>
      org.apache.spark.sql.BroadcastRelease.install(session.sparkContext)
      _ => ()
    }
  }
}
