package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Count, HyperLogLogPlusPlus, Percentile}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count_distinct, expr}

/** Opt-in approximate-query mode for distinct counts — the BlinkDB /
  * "approximation knob" idea (Agarwal et al., EuroSys 2013) applied at
  * the OPTIMIZER layer rather than the API: with
  * `spark.graft.approx.countDistinct=true`, every `count(DISTINCT x)`
  * in a logical Aggregate is rewritten to the mergeable HyperLogLog++
  * estimator (Heule et al. 2013 — Spark's own `approx_count_distinct`
  * function) before physical planning.
  *
  * Why this is a 100 TB lever: an exact distinct count must shuffle
  * every distinct VALUE (the expand + two-phase distinct-agg plan —
  * O(ndv) exchange bytes and a skew hazard when one group dominates),
  * while HLL++ shuffles a fixed few-KB register blob per group
  * regardless of cardinality — the same fixed-state contract as the
  * [[graft.analytics.Sketches]] gates, here reached without changing
  * a line of query code. Dashboards and data-profiling sweeps opt in
  * per session; money paths simply leave the flag off (default).
  *
  * Mechanics: only the aggregate FUNCTION is swapped
  * (`Count(child), isDistinct=true` → `HyperLogLogPlusPlus(child)`);
  * the enclosing Alias keeps its exprId and the result type is
  * LongType either way, so downstream operators and column names are
  * untouched. Multi-argument `count(DISTINCT a, b)` and filtered
  * variants keep their filter/argument shape or are left exact —
  * fire only when provably drop-in (the [[MvRewrite]] discipline).
  * The rewrite output contains no distinct Count, so the rule is a
  * fixed-point no-op on its own output.
  */
object ApproxRewrite extends Rule[LogicalPlan] with graft.GateModule {

  val Flag = "spark.graft.approx.countDistinct"

  /** HLL++ relative standard deviation of the rewritten distinct count. */
  private val Rsd = 0.05

  /** Second rewrite under its OWN flag: exact `percentile(x, p)` →
    * `approx_percentile` (Greenwald–Khanna quantile summaries). The
    * exact form buffers EVERY value per group (O(rows) aggregation
    * state — the one built-in aggregate that cannot stream at 100 TB);
    * the summary is fixed-size and mergeable. The child is cast to
    * double so the approx result type matches exact percentile's
    * DOUBLE (resp. array) exactly — drop-in at the schema level.
    * Fires only for numeric children with the default frequency of 1
    * (weighted percentiles have no approx twin). Separate key so a
    * session opting in to approximate distinct counts does not
    * silently also get approximate percentiles — each flag's name
    * matches its blast radius exactly. */
  val PercentileFlag = "spark.graft.approx.percentile"

  /** GK summary accuracy of the rewritten percentile (rank error
    * 1/accuracy). */
  private val Accuracy = 10000

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val doDistinct = conf.getConfString(Flag, "false").toBoolean
    val doPct = conf.getConfString(PercentileFlag, "false").toBoolean
    if (!doDistinct && !doPct) plan
    else plan.transform {
      case agg: Aggregate =>
        agg.copy(aggregateExpressions = agg.aggregateExpressions
          .map(rewriteNamed(_, doDistinct, doPct)))
    }
  }

  private def rewriteNamed(e: NamedExpression, doDistinct: Boolean,
      doPct: Boolean): NamedExpression =
    e.transformUp {
      case ae @ AggregateExpression(Count(Seq(child)), mode, true, filter, _)
          if doDistinct && child.deterministic =>
        AggregateExpression(HyperLogLogPlusPlus(child, Rsd), mode,
          isDistinct = false, filter, NamedExpression.newExprId)
      case ae @ AggregateExpression(p: Percentile, mode, false, filter, _)
          if doPct
            && p.child.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
            && p.frequencyExpression == Literal(1L)
            && !p.reverse && p.child.deterministic =>
        AggregateExpression(
          ApproximatePercentile(Cast(p.child, DoubleType),
            p.percentageExpression, Literal(Accuracy, IntegerType), 0, 0),
          mode, isDistinct = false, filter, NamedExpression.newExprId)
    }.asInstanceOf[NamedExpression]

  // --- accuracy-readout gate (r8 verdict #3) -----------------------------

  /** HLL error budget for the gate: 3x [[Rsd]] (0.05), in ppm.
    * HLL++'s relative standard deviation makes a 3-sigma miss a
    * ~0.3% event; the gate publishes err DIV budget, so staying inside
    * the budget is hash-checked against the oracle's literal 0. */
  val HllBudgetPpm = 150000L

  /** Rank half-width for the percentile check: +-0.5% of rank, vs the
    * GK summary's deterministic guarantee of 1/accuracy = 0.01% —
    * 50x headroom, so the gate is stable across partitionings while
    * still catching a broken rewrite (a wrong quantile lands far
    * outside +-0.5% on this corpus). */
  val PctlRankEps = 0.005

  /** Oracle-checked ACCURACY readout for the rewrite (the r7/r8 plan-
    * shape tests prove the rule fires; this proves what it produces is
    * within budget). The estimates are computed through the REWRITE
    * PATH — exact `count(DISTINCT)` / `percentile` syntax with both
    * flags on, materialized inside the conf scope because the rule
    * fires at action planning — then checked against lazily-recomputed
    * exact values. Published schema is engine-portable: the exact NDVs
    * (DuckDB recomputes them), `ok` booleans, and `err_band` =
    * err_ppm DIV budget_ppm (the oracle's literal 0 — any budget
    * violation hash-fails the gate). Two marker rows assert the plan
    * actually rewrote (guards against the flags silently not firing,
    * which would make the accuracy rows trivially green). */
  def approxErrorBudget(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") * 100).cast("long").as("cents"))
    val (est, plan) = graft.Conf.withConf(spark, Flag, "true") {
      graft.Conf.withConf(spark, PercentileFlag, "true") {
        val q = li.agg(
          count_distinct(col("l_partkey")).as("d_part"),
          count_distinct(col("l_suppkey")).as("d_supp"),
          expr("percentile(cents, 0.5)").as("p50"),
          expr("percentile(cents, 0.95)").as("p95"))
        (q.head(), q.queryExecution.optimizedPlan.toString)
      }
    }
    // exact references: both NDVs in ONE job (two-distinct Expand —
    // one corpus pass instead of the former two separate
    // distinct+count actions), and the exact percentile sweep via the
    // codegen sorted form (ExactPercentiles — the built-in Percentile
    // aggregate was this gate's hot path: a ~2 s single-task boxed-map
    // merge at sf0.1); all bounded collects (single-row aggregates)
    val exactRow = li.agg(count_distinct(col("l_partkey")).as("dp"),
      count_distinct(col("l_suppkey")).as("ds")).head()
    val (exactPart, exactSupp) = (exactRow.getLong(0), exactRow.getLong(1))
    val boundsRow = graft.analytics.ExactPercentiles.groupPercentiles(
      li, Seq.empty, col("cents"),
      Seq("b0" -> (0.5 - PctlRankEps), "b1" -> (0.5 + PctlRankEps),
        "b2" -> (0.95 - PctlRankEps), "b3" -> (0.95 + PctlRankEps))).head()
    val bounds = (0 to 3).map(boundsRow.getDouble)
    def hllRow(name: String, estV: Long, exactV: Long) = {
      val errPpm = math.abs(estV - exactV) * 1000000L / math.max(exactV, 1L)
      (name, exactV, errPpm <= HllBudgetPpm, errPpm / HllBudgetPpm)
    }
    def pctlRow(name: String, estV: Double, lo: Double, hi: Double) = {
      val ok = estV >= lo - 1.0 && estV <= hi + 1.0 // 1-cent slack
      (name, -1L, ok, if (ok) 0L else 1L)
    }
    val rows = Seq(
      hllRow("hll_partkey", est.getLong(0), exactPart),
      hllRow("hll_suppkey", est.getLong(1), exactSupp),
      pctlRow("gk_p50_rank_eps", est.getDouble(2), bounds(0), bounds(1)),
      pctlRow("gk_p95_rank_eps", est.getDouble(3), bounds(2), bounds(3)),
      ("rewrite_count_distinct", -1L,
        plan.contains("approx_count_distinct"), 0L),
      ("rewrite_percentile", -1L, plan.contains("percentile_approx"), 0L))
    import spark.implicits._
    rows.toDF("metric", "exact_value", "ok", "err_band")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "approx_error_budget" -> approxErrorBudget _)

  val oracles: Map[String, String] = Map(
    // The oracle recomputes the exact NDVs and pins every ok/err_band
    // to TRUE/0 — the CLAIM "estimates stay in budget and the rewrite
    // fired" is what hashing checks.
    "approx_error_budget" ->
      """SELECT 'hll_partkey' AS metric,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_value,
        |  TRUE AS ok, CAST(0 AS BIGINT) AS err_band FROM lineitem
        |UNION ALL SELECT 'hll_suppkey',
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT), TRUE, 0 FROM lineitem
        |UNION ALL SELECT 'gk_p50_rank_eps', -1, TRUE, 0
        |UNION ALL SELECT 'gk_p95_rank_eps', -1, TRUE, 0
        |UNION ALL SELECT 'rewrite_count_distinct', -1, TRUE, 0
        |UNION ALL SELECT 'rewrite_percentile', -1, TRUE, 0""".stripMargin)
}
