package graft

import org.scalatest.funsuite.AnyFunSuite

/** Surface-wide audit of EXECUTED physical plans: every gate query in
  * [[SparkEntry.queries]] must run without a nested-loop or cartesian
  * operator. Local plan-shape asserts exist where a query was built
  * specifically to avoid one (RangeJoinSpec, SimilaritySpec,
  * BucketingSpec); this spec closes the gap for everything else, so an
  * accidental BNLJ from a refactored non-equi condition can't land
  * silently anywhere on the surface.
  *
  * The plans come from [[SurfacePass]]: each gate runs once at sf0.001
  * under [[PlanDump.executed]], which records every query it executed
  * — its actions, each internal eager checkpoint as its own
  * `localCheckpoint` execution, and the materializing aggregate over
  * its result — as the final adaptive plan, with AQE's runtime join
  * choices. Nothing is hidden behind `Scan ExistingRDD`: the subtree a
  * checkpoint cuts off is the plan of the checkpoint's own execution.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Queries allowed to contain a nested-loop/cartesian operator.
    * Additions require a justifying comment.
    *
    * embed_norm_outliers: attaches a corpus-global scalar (mean norm)
    * to every row. The build side is ONE aggregate row, so the
    * "nested loop" is a single broadcast lookup per row — O(n), the
    * canonical scalar-attach plan (Spark plans uncorrelated scalar
    * subqueries the same way). The code even constructs a constant-key
    * equi-join, but Catalyst constant-folds the key away and plans the
    * BNLJ regardless; banning it would just force a worse shape
    * (corpus-wide single-partition window). */
  private val allow: Set[String] = Set("embed_norm_outliers")

  private val banned = Seq("BroadcastNestedLoopJoin", "CartesianProduct")

  /** Gates whose ANALYZED plan contains a truly partition-less window.
    * The discipline: every intentional bounded-global window goes
    * through `Tables.boundedGlobalWindow`/`boundedGlobalFrame` (a
    * constant partition key that documents the bound and keeps the
    * analyzed spec non-empty — Spark 4's optimizer folds it away
    * later, which is also why the audit reads `analyzed`, not
    * `optimizedPlan`: analyzed is pre-fold AND pre-cache-substitution,
    * so the check is deterministic regardless of what other suites
    * left in the cache manager). Only windows written as raw SQL
    * strings (no helper available) may land here, each with its bound.
    * Additions require the same justifying comment as `allow`. */
  private val boundedGlobalWindow: Set[String] = Set.empty

  private def executedBy(name: String): Seq[PlanDump.Executed] = {
    val g = SurfacePass.gates(name)
    assert(g.error.isEmpty, s"$name failed: ${g.error.getOrElse("")}")
    assert(g.executed.nonEmpty, s"$name executed no query")
    g.executed
  }

  for ((name, _) <- SparkEntry.queries.toSeq.sortBy(_._1)
       if !allow.contains(name)) {
    test(s"$name plans without nested-loop or cartesian operators") {
      val ex = executedBy(name)
      for (op <- banned; e <- ex.find(_.operators.contains(op)))
        fail(s"$name ${e.funcName} plan contains $op:\n${e.plan}")
      // global-window audit on every executed ANALYZED plan (see
      // whitelist doc)
      val global = ex.flatMap(_.globalWindow)
      if (global.nonEmpty)
        assert(boundedGlobalWindow.contains(name),
          s"$name grew an unaudited GLOBAL window (bounded? add to " +
            s"whitelist with its bound):\n${global.head}")
      else
        assert(!boundedGlobalWindow.contains(name),
          s"$name no longer has a global window; remove it from the " +
            "whitelist so the audit stays tight")
    }
  }

  private def isCheckpoint(e: PlanDump.Executed): Boolean =
    e.funcName == "localCheckpoint" || e.funcName == "checkpoint"

  /** Gates whose heaviest join stages run behind internal eager
    * checkpoints: some executed query must show a real join, and every
    * checkpointed frame their plans read back (a `Scan ExistingRDD`
    * leaf) must be matched by a captured checkpoint execution — the
    * plan that computed it. */
  private val deepAuditVisible = Seq(
    "dedup_canonical_incremental", "train_eval", "train_perceptron",
    "graph_pagerank", "sketch_kmv_union")

  for (name <- deepAuditVisible) {
    test(s"$name exposes its internal join stages to the audit") {
      val ex = executedBy(name)
      def listing = ex.map(e =>
        s"${e.funcName}: ${e.operators.mkString(" ")}").mkString("\n")
      assert(ex.exists(_.operators.exists(_.contains("Join"))),
        s"$name executed no join stage — blind spot regressed:\n$listing")
      val checkpoints = ex.count(isCheckpoint)
      val readBack = ex.flatMap(_.rddScans).distinct
      assert(checkpoints > 0,
        s"$name took no internal checkpoint the capture saw:\n$listing")
      assert(readBack.size <= checkpoints,
        s"$name reads ${readBack.size} checkpointed frames but only " +
          s"$checkpoints checkpoint executions were captured:\n$listing")
    }
  }

  test("graph_pagerank's executed plans include the edge build behind " +
      "its checkpoint") {
    val edgeBuild = executedBy("graph_pagerank").filter(e =>
      isCheckpoint(e) && e.operators.contains("Generate"))
    assert(edgeBuild.nonEmpty, "no checkpoint execution ran the explode")
    val plan = edgeBuild.head.plan
    assert(plan.contains("explode("), plan)
    assert(plan.contains("Exchange hashpartitioning(u#"), plan)
  }

  /** Codegen audit: the hot scan→filter→aggregate path of the headline
    * batch gates must sit inside WholeStageCodegen spans (`*(n)` marks
    * in the simple plan string). This is the brief's "widen the codegen
    * spans" requirement pinned as a regression test — a change that
    * drops an operator out of codegen (an interpreted Expression, a
    * non-codegen UDF) fails here, not in a bench diff three rounds
    * later. Streaming/iterative gates are exercised by the main audit
    * above; this list is scan-heavy batch representatives. */
  private val codegenHeadline = Seq(
    "agg_q1_pricing", "agg_q6_forecast", "join_q5_volume",
    "join_q19_disjunctive", "core_records_per_group", "text_tfidf",
    "dedup_exact", "join_q3_shipping", "ts_twa", "dp_sum_clipped")

  for (name <- codegenHeadline) {
    test(s"$name keeps its hot path inside WholeStageCodegen") {
      // AQE wraps the plan in AdaptiveSparkPlan and only materializes
      // codegen spans as stages execute; disabling it exposes the
      // static codegen'd plan (the codegen decision per operator is
      // AQE-independent). Only the gate's OWN plans are inspected: the
      // queries its constructor executed plus its result frame, run
      // as-is by a collect — never a wrapping aggregate, whose own
      // codegen'd HashAggregate would pass this audit vacuously.
      spark.catalog.clearCache()
      val (_, ex) = try Conf.withConf(spark, "spark.sql.adaptive.enabled", "false") {
        PlanDump.executed(spark) {
          SparkEntry.queries(name)(spark, SparkTestSession.sf).collect()
        }
      } finally spark.catalog.clearCache()
      val plan = ex.map(_.plan).mkString("\n")
      assert(plan.contains("*("),
        s"$name has NO WholeStageCodegen span:\n$plan")
      // the parquet scan's consumer must be code-generated: a columnar
      // scan feeding an interpreted operator pays per-row boxing
      assert(plan.linesIterator.exists(l =>
          l.contains("*(") && (l.contains("HashAggregate")
            || l.contains("Project") || l.contains("Filter"))),
        s"$name: no codegen'd HashAggregate/Project/Filter:\n$plan")
      assert(ex.exists(_.operators.contains("FileSourceScan")),
        s"$name executed no file scan:\n$plan")
      val interpreted = ex.flatMap(_.interpretedScans)
      assert(interpreted.isEmpty,
        s"$name: scans feeding interpreted operators: " +
          s"${interpreted.mkString(", ")}\n$plan")
    }
  }
}
