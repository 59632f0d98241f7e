package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter,
  QueryExecution, RDDScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Executed-plan capture, and the dev tool built on it: dump the
  * physical plans gate queries actually RAN — every action, internal
  * eager checkpoint and command a gate executes, each as its final
  * (AQE-resolved) plan. `PLANS.md` is the in-repo record of the
  * plan-quality claims in SCALE.md (pushdown reaching scans, broadcast
  * vs shuffle joins, WholeStageCodegen spans, no nested-loop
  * operators); PlanAuditSpec asserts them over the same capture.
  *
  * Usage: `runMain graft.PlanDump <sfDir> [gate ...]` prints the named
  * gates' executed plans; with no gate names it rewrites `PLANS.md`
  * from the curated [[picks]]. Streaming gates show their memory-sink
  * reads: micro-batches run in a cloned session the capture does not
  * listen to (StreamingSpec pins those shapes instead).
  */
object PlanDump extends AdaptiveSparkPlanHelper {

  /** Plain facts about one executed query (no `QueryExecution` is
    * kept, so a capture pins none of the blocks its plans reference):
    * the action (`collect`, `localCheckpoint`, `command`, ...); the
    * final physical plan, AQE unwrapped through its query stages; the
    * distinct operator names (class name without `Exec`) of that plan,
    * its subqueries and cached relations; the first partition-less
    * `Window` of the analyzed plan; the ids of the RDDs its `Scan
    * ExistingRDD` leaves read (what an eager checkpoint leaves behind);
    * and the file scans whose rows no generated code consumes. */
  final case class Executed(funcName: String, plan: String,
      operators: Seq[String], globalWindow: Option[String],
      rddScans: Set[Int], interpretedScans: Seq[String])

  /** Run `body` and return, with its result, one [[Executed]] per query
    * execution it completed in `spark`, in completion order. Listener
    * events arrive asynchronously, so the bus is drained before the
    * listener goes up (earlier queries stay out) and again after
    * `body` (its own queries are all in). */
  def executed[T](spark: SparkSession)(body: => T): (T, Seq[Executed]) = {
    val sc = spark.sparkContext
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Executed]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = out.add(facts(funcName, qe))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusDrain(sc)
    spark.listenerManager.register(listener)
    try {
      val result = body
      org.apache.spark.ListenerBusDrain(sc)
      (result, out.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  private def facts(funcName: String, qe: QueryExecution): Executed = {
    val ops = Seq.newBuilder[String]
    val rdds = Set.newBuilder[Int]
    val interpreted = Seq.newBuilder[String]
    // inStage: `p` runs inside a WholeStageCodegen stage; fed: its
    // consumer does (a stage reads it through an InputAdapter). Descends
    // AQE plans and query stages (the helper's `allChildren`),
    // subqueries and the plans behind cached relations.
    def walk(p: SparkPlan, inStage: Boolean, fed: Boolean): Unit = {
      ops += p.getClass.getSimpleName.stripSuffix("Exec")
      p match {
        case s: RDDScanExec => rdds += s.rdd.id
        case s: FileSourceScanExec if !inStage && !fed => interpreted +=
          s"${s.nodeName.trim} ${s.relation.location.rootPaths.mkString(",")}"
        case _ =>
      }
      val (kidIn, kidFed) = p match {
        case _: WholeStageCodegenExec => (true, true)
        case _: InputAdapter => (false, inStage)
        case _ => (inStage, inStage)
      }
      allChildren(p).foreach(walk(_, kidIn, kidFed))
      val cached = p match {
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case _ => Nil
      }
      (cached ++ p.subqueries).foreach(walk(_, inStage = false, fed = false))
    }
    val root = stripAQEPlan(qe.executedPlan)
    walk(root, inStage = false, fed = false)
    val window = qe.analyzed.collectFirst {
      case w: Window if w.partitionSpec.isEmpty => w.simpleString(25)
    }
    Executed(funcName, root.treeString, ops.result().distinct, window,
      rdds.result(), interpreted.result())
  }

  /** Queries whose plans carry the main scale arguments: the most
    * expensive valid bench entries plus one representative per
    * plan-shape family (pushdown, broadcast star, bucketed join,
    * salted skew join, native as-of plan, LSH banding, IVF probe). */
  val picks: Seq[String] = Seq(
    "core_retention_filter", // pushed-down time predicate on the scan
    "join_agg",              // broadcast dim + shuffled fact-fact
    "join_bucketed",         // exchange-free bucketed join
    "skew_salted_join",      // salt-exploded skew join
    "asof_join_native",      // custom LogicalPlan + SparkStrategy
    "yearly_revenue",        // decimal-exact aggregation
    "window_running_sum",    // keyed window, no global sort
    "ts_holt",               // truncated-recursion smoothing as lags
    "ts_seasonal",           // bounded-frame marginal windows
    "behavior_rfm",          // percentile-edge buckets, no sort/window
    "agg_approx_percentile", // sketch vs exact percentile
    "stats_analyze",         // melt profile: Expand-free multi-NDV
    "stats_cuped",           // per-user agg + scalar-literal readout
    "dedup_minhash_bands",   // shuffle-free shingles -> band buckets
    "dedup_simhash_pairs",   // broadcast bucket stats + map-side pairs
    "dedup_setsim",          // PPJoin prefix filter + merge verify
    "knn_ivf",               // cell-probed ANN
    "text_tfidf",            // tf/df aggregation + broadcast join
    "train_pipeline",        // curation capstone
    "train_token_budget",    // two-level banded prefix sum
    "behavior_attribution_linear", // banded x2 interval join
    "ts_interpolate",        // bounded-frame neighbor windows
    "train_upsample",        // map-side sequence/explode schedule
    "agg_percentile_banded", // domain-bounded exact quantiles
    "stats_mannwhitney",     // rank-free rank-sum over value cells
    "funnel_sessionized",    // one-exchange session windows chain
    "sql_lateral",           // decorrelated LIMIT -> WindowGroupLimit
    "join_null_aware_anti",  // single-key NAAJ, no nested loop
    "join_incremental",      // delta-join quadrant union
    "curate_joint",          // cross-modal join + bounded stats
    "dedup_rewrite",         // block window + ordered reassembly
    "ts_concurrency",        // chunked sweep-line prefix sum
    "join_point_in_time",    // SCD2 interval residual on one exchange
    "graph_link_predict",    // degree-capped wedge join + anti-join
    "ts_rolling_slope",      // five integer moments, one window pass
    "behavior_seq_support",  // min-ts pre-agg before alphabet fan-out
    "asof_join_nearest",     // two merge scans + row-wise argmin
    "graph_pagerank",        // edge build + degree checkpoints, then
                             // the unrolled iteration over them
    "multimodal_phash_pairs", // real aHash + 16-bit band equi-join
    "stats_bcast_decision",  // engine-profile broadcast decision
    "stats_spearman",        // ranks from bounded dictionaries, no sort
    "train_eval",            // margin-dictionary confusion + AUC over
                             // the checkpointed perceptron rounds
    "dedup_canonical_incremental", // staged-index delta fold: prefix
                             // join + verify + contracted star solve
    "sketch_hll_distinct",   // register build: one partial-agg shuffle
    "sketch_kmv_union",      // flagged min-k via TakeOrderedAndProject
    "aqp_uniform_sum",       // one-scan HT estimate + truth eval
    "agg_q1_pricing",        // the canon: pushed scan + one hash agg
    "join_q5_volume",        // 6-table: one fact shuffle, dims broadcast
    "agg_q6_forecast",       // all three predicates in PushedFilters
    "join_q19_disjunctive",  // branch-union prefilters push per side
    "dp_sum_clipped",        // DP release: noise on group rows only
    "ts_twa")                // one lead() window pass per type

  /** Markdown of each gate's executed plans: the gate runs once, its
    * result materialized by [[Bench.materialize]] (so the last
    * `collect` is that hash aggregate over the gate's result). */
  def render(spark: SparkSession, sfDir: String, names: Seq[String]): String =
    names.map { name =>
      val body = SparkEntry.queries.get(name) match {
        case None => "(no such gate)\n"
        case Some(fn) =>
          try {
            val (_, ex) = executed(spark)(Bench.materialize(fn(spark, sfDir)))
            ex.zipWithIndex.map { case (e, i) =>
              // the heavies' plans run to hundreds of lines of
              // per-column detail; the operator tree carries the shape
              val lines = e.plan.linesIterator.toSeq
              val shown = if (lines.length > 150) lines.take(150) :+
                s"... (${lines.length - 150} more lines)" else lines
              s"### ${i + 1}. `${e.funcName}`\n\n```\n${shown.mkString("\n")}\n```\n"
            }.mkString("\n")
          } catch { case e: Throwable => s"(failed: ${e.getMessage})\n" }
          finally {
            spark.catalog.clearCache()
            graft.streaming.EventStream.purgeStaging()
          }
      }
      s"\n## $name\n\n$body"
    }.mkString

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.error("usage: graft.PlanDump <sfDir> [gate ...]"))
    val named = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Conf.session(cpus)
    if (named.nonEmpty) print(render(spark, sfDir, named))
    else {
      val header = s"""# PLANS — executed physical plans of headline gate queries
        |
        |Generated by `graft.PlanDump` at `$sfDir` on `${Conf.master(cpus)}`.
        |Regenerate: `sbt "runMain graft.PlanDump <sfDir>"`. Each gate lists
        |every query it executed, in completion order, as its final adaptive
        |plan: internal eager checkpoints are their own `localCheckpoint`
        |executions, and the last `collect` materializes the gate's result.
        |PlanAuditSpec audits the same capture over the WHOLE surface.
        |""".stripMargin
      java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"),
        header + render(spark, sfDir, picks))
    }
    spark.stop()
  }
}
