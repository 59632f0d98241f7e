package graft.analytics

import graft.Tables
import graft.Tables.{dec, dsum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OLAP-surface extensions beyond the reference's declared queries:
  * rollup (multi-level totals), pivot (conditional aggregation),
  * exact percentiles, and sketch-based approximate distinct counts.
  * All algebraic or single-pass; rollup/pivot stay partial-agg
  * friendly, percentiles use Spark's single-shuffle exact `percentile`
  * (at 100 TB the approx_percentile sketch is the drop-in), and HLL
  * (approx_count_distinct) is the designated cardinality sketch from
  * SURVEY.md §2.4. */
object OlapQueries extends graft.GateModule {

  /** TPC-H Q1 shape (pricing summary report) — the single most-quoted
    * OLAP aggregation, rendered in this engine's integer-exact money
    * convention: prices as cents, discount/tax as integral percents
    * (the corpus grid is centesimal: d ∈ {0..10}%, t ∈ {0..8}%), so the
    * discounted amount is `p_cents·(100−d)` (10⁻⁴ dollars) and the
    * charge `p_cents·(100−d)·(100+t)` (10⁻⁶ dollars) — per-row ≤ 1.1e11
    * in a long, summed in DECIMAL(38,0)/HUGEINT, bitwise identical on
    * every engine, partitioning, and retry (float folds are run-order
    * dependent at 1000 executors). Averages publish as integral DIV
    * quotients. One partial+final hash agg over a pushed-down scan — the
    * plan every columnar engine is measured by. */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .selectExpr("l_returnflag", "l_linestatus",
        "CAST(round(l_quantity) AS BIGINT) AS qty",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS p_cents",
        "CAST(round(l_discount * 100) AS BIGINT) AS d_pct",
        "CAST(round(l_tax * 100) AS BIGINT) AS t_pct")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("qty")).as("sum_qty"),
        sum(col("p_cents")).as("sum_base_cents"),
        sum(expr("CAST(p_cents * (100 - d_pct) AS DECIMAL(38,0))"))
          .as("sum_disc_c4"),
        sum(expr("CAST(p_cents * (100 - d_pct) * (100 + t_pct)" +
          " AS DECIMAL(38,0))")).as("sum_charge_c6"),
        sum(col("d_pct")).as("sum_d_pct"),
        count(lit(1)).as("n"))
      .selectExpr("l_returnflag", "l_linestatus", "sum_qty",
        "sum_base_cents",
        // Published as BIGINT: max ~4.4e15 at sf0.1 fits comfortably, and
        // DECIMAL(38,0) finals render as float64 through DuckDB's pandas
        // bridge, hash-mismatching the driver even when values are equal.
        "CAST(sum_disc_c4 AS BIGINT) AS sum_disc_c4",
        "CAST(sum_charge_c6 AS BIGINT) AS sum_charge_c6",
        "CAST(100 * sum_qty DIV n AS BIGINT) AS avg_qty_q2",
        "CAST(sum_base_cents DIV n AS BIGINT) AS avg_price_cents",
        "CAST(100 * sum_d_pct DIV n AS BIGINT) AS avg_disc_q4",
        "n")

  /** TPC-H Q6 shape ("forecasting revenue change"): the revenue that
    * would have been gained by eliminating small discounts on
    * small-quantity lines in one year — a pure scan-and-sum with THREE
    * stacked scan predicates and zero joins, the canon for predicate
    * pushdown + row-group pruning (every predicate lands in
    * PushedFilters; a year of shipdate prunes whole row groups when
    * the table is date-sorted). Revenue = Σ cents·discount-% — exact
    * c4 integers like [[q1Pricing]], so the single published scalar is
    * bitwise stable under any partitioning. */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1999-01-01").cast("timestamp")
        // redundant RAW-column prefilter with half-grid slack: the exact
        // predicate below is on the rounded integers (engine-portable),
        // which can't push to the scan — this one can (PushedFilters +
        // row-group pruning), and the slack guarantees no boundary value
        // is lost to float representation before the exact test runs.
        && col("l_discount") >= 0.045 && col("l_discount") <= 0.075
        && col("l_quantity") < 24.5)
      .selectExpr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS p_cents",
        "CAST(round(l_discount * 100) AS BIGINT) AS d_pct",
        "CAST(round(l_quantity) AS BIGINT) AS qty")
      .filter(col("d_pct").between(5, 7) && col("qty") < 24)
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(col("p_cents") * col("d_pct")), lit(0L))
          .as("revenue_c4"))

  /** ROLLUP: revenue at (flag, status), (flag), and grand-total levels.
    * Grouping-set nulls are coalesced to 'ALL' to keep the hash
    * comparison unambiguous. */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("revenue"),
        count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("revenue"), col("cnt"))

  /** CUBE: all grouping-set combinations of (returnflag, linestatus). */
  def cubeCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("cnt"))

  /** RANGE window frame over event time: each order's trailing-30-day
    * spend per customer (peers by value, not row position; exact
    * decimal sum keeps it engine-independent). */
  def rangeFrame(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // order by epoch seconds: numeric range frames are portable across
    // engines (timestamp-ordered ranges need engine-specific intervals)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(unix_timestamp(col("o_orderdate")))
      .rangeBetween(-30L * 86400L, Window.currentRow)
    Tables.load(spark, dir, "orders")
      .filter(col("o_custkey") < 200)
      .withColumn("trailing_30d",
        sum(dec(col("o_totalprice"))).over(w).cast("double"))
      .select(col("o_orderkey"), col("o_custkey"), col("trailing_30d"))
  }

  /** PIVOT: per-priority order counts spread across status columns
    * (expressed as conditional aggregation for the oracle). */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"),
        col("F").as("n_f"), col("O").as("n_o"), col("P").as("n_p"))

  /** Exact median + p90 of order value per priority. Values are money
    * doubles; both engines interpolate linearly over the same sorted
    * doubles. */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    // r13: the array-percentile aggregate is the boxed non-codegen
    // ObjectHashAggregate (per-partition value maps merged in one final
    // task); the ExactPercentiles sort-window form computes the same
    // doubles bit-identically in whole-stage codegen, sorting per group
    // in parallel (the agg_winsorize rewrite, verdict #5)
    ExactPercentiles.groupPercentiles(
      Tables.load(spark, dir, "orders"), Seq("o_orderpriority"),
      col("o_totalprice"), Seq("p50" -> 0.5, "p90" -> 0.9))

  /** HLL sketch cardinality vs exact — the scale path for distinct
    * counts (no exact-distinct shuffle). The sketch value itself has no
    * oracle form, so the gate emits the exact count (oracle-expressible)
    * plus a boolean asserting the sketch landed within a 5% relative
    * error bound — Spark's HLL++ is deterministic for fixed input, so
    * the boolean is too, and the oracle simply states TRUE: a drifting
    * sketch becomes a hash mismatch instead of an unchecked value. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    // Dedup (flag, partkey) pairs first, then aggregate the distinct
    // rows: mixing countDistinct with a non-distinct HLL aggregate makes
    // Catalyst rewrite through Expand (every input row duplicated per
    // aggregate class — the r4 5.1 s regression); the pre-dedup form is
    // two plain hash aggregates with map-side combine. The HLL sketch is
    // duplicate-insensitive (registers are max-of-hashes), so running it
    // over distinct values yields the bit-identical estimate.
    val pairs = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_partkey")).distinct()
    pairs.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("exact_parts"),
        (abs(approx_count_distinct(col("l_partkey"), 0.02)
            - count(lit(1))).cast("double")
          / count(lit(1)).cast("double") <= 0.05)
          .as("within_bound"))
  }

  /** Exact per-group MODE with a deterministic tie-break — the
    * categorical summary statistic `percentile` can't give. Two hash
    * aggregations, both map-side-combining: (group, value) counts,
    * then per-group `min(struct(-count, value))` — struct ordering is
    * lexicographic in both engines, so the mode is the highest-count
    * value with the SMALLEST value on ties, independent of
    * partitioning. No window, no sort, no join. */
  def modeQuery(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "orders")
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy("o_orderstatus")
      .agg(
        min(struct((-col("cnt")).as("nc"), col("o_orderpriority").as("v")))
          .as("m"),
        sum(col("cnt")).as("n_rows"))
      .select(col("o_orderstatus"), col("m.v").as("mode_priority"),
        (-col("m.nc")).as("mode_count"), col("n_rows"))
  }

  /** Exact 3-sigma outlier detection with NO floating point in the
    * decision: cent-grid values become integers (x_c = round(100x)),
    * and (x - mean)^2 > 9*var is cross-multiplied by n^2 into
    * (n*x_c - s1)^2 > 9*(n*s2 - s1^2) — pure integer/decimal
    * arithmetic on exact sufficient statistics (s1 = sum x_c,
    * s2 = sum x_c^2), so the boundary cannot flip by a ulp between
    * engines or partitionings (compound double variance expressions
    * differ by ulps; see momentStats). Decimal casts are sized so no
    * product exceeds precision 38 — no capping, no rounding, anywhere.
    * One scan + a 5-row broadcast join; the oracle runs the identical
    * inequality in HUGEINT. */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("xc", round(col("value") * 100).cast("long"))
    val stats = base.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("xc")).as("s1"),
      sum(col("xc") * col("xc")).as("s2"))
    val d = (col("n") * col("xc") - col("s1")).cast(DecimalType(14, 0))
    val rhs = (col("n").cast(DecimalType(8, 0))
        * col("s2").cast(DecimalType(18, 0))
      - col("s1").cast(DecimalType(13, 0)) * col("s1").cast(DecimalType(13, 0)))
      .cast(DecimalType(28, 0))
    base.join(broadcast(stats), "event_type")
      .filter(d * d > rhs * lit(9).cast(DecimalType(1, 0)))
      .select(col("event_id"), col("event_type"), col("value"))
  }

  /** Approx-percentile sketch vs exact, gated the same way as the HLL
    * gate: the sketch value has no oracle form, so emit the exact
    * median (oracle-expressible) plus a boolean asserting the sketch
    * landed within 5% — deterministic for fixed input, oracle states
    * TRUE. */
  def approxPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("exact_p50"),
        (abs(expr("approx_percentile(o_totalprice, 0.5, 1000)")
            - expr("percentile(o_totalprice, 0.5)"))
          / expr("percentile(o_totalprice, 0.5)") <= 0.05)
          .as("within_bound"))

  /** Moment statistics made order-independent: n, sum, mean, and
    * population variance derived from exact decimal power sums (sum x,
    * sum x^2) — the trick that makes ANY moment-based statistic
    * reproducible under parallel partial aggregation. Direct
    * `stddev`/`var_pop` on doubles would be run-to-run nondeterministic
    * at high parallelism. */
  def momentStats(spark: SparkSession, dir: String): DataFrame = {
    val x = dec(col("o_totalprice"))
    // square exactly in a narrow decimal: money values fit
    // DECIMAL(12,2), whose square DECIMAL(25,4) stays within 38 digits
    // in both engines (squaring DECIMAL(18,4) overflows DuckDB, and
    // squaring in double rounds differently per engine)
    val d12 = col("o_totalprice")
      .cast(org.apache.spark.sql.types.DecimalType(12, 2))
    val x2 = d12 * d12
    // output the exact sufficient statistics plus the single-division
    // mean: compound double expressions (e.g. s2/n - mean^2) differ by
    // a few ulps across engines, so derived variance lives in the spec
    // with a tolerance, not in the hash-compared output
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sum_x"),
        // sum of squares has ~19 significant digits: decimal->double
        // loses ulps engine-dependently and integer rounding modes
        // differ (HALF_UP vs half-even), so ship the exact decimal as
        // its canonical fixed-scale string
        sum(x2).cast(org.apache.spark.sql.types.DecimalType(38, 4))
          .cast("string").as("sum_x2_s"))
      .select(col("o_orderpriority"), col("n"), col("sum_x"), col("sum_x2_s"),
        (col("sum_x") / col("n")).as("mean"))
  }

  /** Array-function surface over the embeddings vectors. */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        element_at(col("embedding"), 1).cast("double").as("first"),
        element_at(col("embedding"), -1).cast("double").as("last"),
        // scalar through slice: array-typed outputs hash-compare
        // unreliably across engines' text formats
        element_at(slice(col("embedding"), 1, 3), 3).cast("double")
          .as("slice3_last"),
        col("label").cast("long").as("label_l"))

  /** Explicit GROUPING SETS + grouping() markers — the general form
    * behind rollup/cube, one SQL text run verbatim by both engines
    * (grouping-set nulls coalesced, marker bits distinguish a real
    * 'ALL' value from an aggregated level). Plans as a single Expand +
    * partial/final HashAggregate — set count multiplies rows BEFORE
    * the map-side combine, not shuffle volume. */
  private val groupingSetsText: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |  coalesce(l_linestatus, 'ALL') AS status,
      |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
      |  count(*) AS cnt
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
      |  (l_returnflag, l_linestatus), ())""".stripMargin

  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir, "lineitem")
    spark.sql(groupingSetsText)
  }

  /** Conditional-aggregate surface: count_if / filtered sums (as
    * null-skipping `sum(when(...))`, the Spark spelling of SQL's
    * FILTER clause) / bool_or / bool_and per group — all algebraic,
    * same partial+final HashAggregate shape as every other agg here.
    * Money filters use the decimal-exact pattern. */
  def conditionalAggs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count_if(col("l_quantity") > 25).as("n_big"),
        sum(when(col("l_discount") > 0.05,
          graft.Tables.dec(col("l_extendedprice"))))
          .cast("double").as("disc_rev"),
        bool_or(col("l_tax") > 0.07).as("any_high_tax"),
        bool_and(col("l_quantity") > 0).as("all_pos_qty"),
        max(when(col("l_discount") > 0.05, col("l_quantity")))
          .as("max_disc_qty"))

  /** Histogram bucket width / count for [[histogram]] — fixed bounds,
    * so bucketing is a pure map-side expression (no stats pass; the
    * 0..600k span covers o_totalprice at every SF by TPC-H's own
    * value model). */
  private val histWidth = 30000.0
  private val histBuckets = 20

  /** Fixed-width histogram (SQL width_bucket): one codegen'd floor-
    * divide per row + one tiny hash agg — the single-pass distribution
    * profile every data-quality dashboard wants. Clamped into
    * [0, buckets-1] so outliers land in the edge buckets; empty
    * buckets are absent rows (the gap-fill op densifies if needed).
    * Floor of a double division is bit-portable (both engines divide
    * the same doubles). */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .withColumn("bucket",
        least(greatest(floor(col("o_totalprice") / lit(histWidth)), lit(0)),
          lit(histBuckets - 1L)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("price_sum"))

  /** Robust (median/MAD) outlier profile per event type — the
    * resistant sibling of the 3-sigma gate `agg_outliers`: one huge
    * value shifts a mean arbitrarily but moves the median not at all,
    * so ops dashboards flag on MAD. Two exact-percentile aggregations
    * (median, then median absolute deviation) plus one counting pass —
    * three group-keyed exchanges. No float-portability hazard despite
    * the double math: exact `percentile` is order-independent, and
    * every downstream value (adev, the 3*MAD comparison) is derived by
    * identical scalar IEEE ops in both engines — the order-dependence
    * that breaks float SUM parity never enters. At 100 TB the exact
    * percentile swaps for `approx_percentile` (same plan shape, same
    * trade as `agg_percentiles`). */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    // r13: both medians through the ExactPercentiles sort-window form
    // (bit-identical; see `percentiles`) instead of the boxed built-in;
    // the ≤|event types|-row medians attach broadcast as before
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("value"))
    val med = ExactPercentiles.groupPercentiles(
      ev, Seq("event_type"), col("value"), Seq("med" -> 0.5))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = ExactPercentiles.groupPercentiles(
      dev, Seq("event_type"), col("adev"), Seq("mad" -> 0.5))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(min("med").as("med"), min("mad").as("mad"),
        sum(when(col("adev") > lit(3) * col("mad"), 1L).otherwise(0L))
          .as("n_out"),
        count(lit(1)).as("n"))
  }

  /** Exact least-squares regression (price vs quantity per return
    * flag) in fixed point: the decision-grade statistic is shipped as
    * q6 integers (value × 10⁶) derived from exact cent-grid sufficient
    * statistics (n, Σx, Σy, Σx², Σxy) — same discipline as
    * [[outliers]]/[[momentStats]]: a float slope assembled from
    * parallel double sums differs by ulps per partitioning, while the
    * decimal sums are order-independent and the single truncating
    * division is bit-identical in both engines (Spark `div` and DuckDB
    * `//` both truncate toward zero, negatives included). One
    * map-side-combined hash agg — the minimum any regression pays.
    * The intercept reuses the already-truncated fixed-point slope
    * (documented q6 semantics, error ≤ 1e-6 relative), keeping every
    * operand inside DECIMAL(38). At 100 TB the same plan ships the raw
    * sufficient statistics and the division happens at read time. */
  def regression(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_quantity") * 100).cast("long").as("xc"),
        round(col("l_extendedprice") * 100).cast("long").as("yc"))
    base.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("xc").cast(DecimalType(14, 0))).as("sx"),
        sum(col("yc").cast(DecimalType(16, 0))).as("sy"),
        sum((col("xc") * col("xc")).cast(DecimalType(16, 0))).as("sxx"),
        sum((col("xc") * col("yc")).cast(DecimalType(18, 0))).as("sxy"))
      .withColumn("slope_q6",
        expr("""(CAST(n AS DECIMAL(20,0)) * sxy - sx * sy) * 1000000
                div (CAST(n AS DECIMAL(20,0)) * sxx - sx * sx)"""))
      .withColumn("intercept_q6",
        expr("(sy * 1000000 - slope_q6 * sx) div n"))
      .select("l_returnflag", "n", "slope_q6", "intercept_q6")
  }

  /** Decile boundaries for [[equidepthHistogram]]. */
  private val eqdQs: Seq[Double] = (1 to 9).map(_ / 10.0)

  /** Equi-depth (decile) histogram of order value: one exact-percentile
    * pass computes the 9 boundaries (at 100 TB: `approx_percentile`,
    * same plan), the 9-value row broadcasts, and bin assignment is a
    * pure map-side sum of comparisons — so unlike a global `ntile`,
    * which needs a single-partition total order, this is one agg + one
    * scan at any scale. Boundary comparisons are double ==, safe here
    * because both engines interpolate the same sorted doubles (pinned
    * by the `agg_percentiles` gate). The 9 boundaries attach as an
    * uncorrelated SCALAR SUBQUERY, not a 1-row crossJoin: Spark
    * executes the subquery once and embeds its result as a literal in
    * the main plan, so there is NO join operator at all — which both
    * is the cheapest possible plan (the crossJoin form planned a
    * BroadcastNestedLoopJoin) and keeps PlanAuditSpec's
    * no-nested-loop invariant allowlist-free across the surface.
    * (The DataFrame API cannot express scalar subqueries, so this
    * gate goes through spark.sql — same pattern as `sql_surface`.) */
  def equidepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir, "orders")
    val qs = eqdQs.mkString("array(", ", ", ")")
    val bin = eqdQs.indices.map(k =>
      s"(CASE WHEN o_totalprice > element_at(bs, ${k + 1}) THEN 1L ELSE 0L END)")
      .mkString(" + ")
    spark.sql(
      s"""SELECT bin, count(1) AS cnt,
         |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
         |FROM (
         |  SELECT o_totalprice, $bin AS bin
         |  FROM (
         |    SELECT o_totalprice,
         |      (SELECT percentile(o_totalprice, $qs) FROM orders) AS bs
         |    FROM orders))
         |GROUP BY bin""".stripMargin)
  }

  /** Winsorization: clamp per-group outliers to the group's exact
    * [P05, P95] band — the standard robust-preprocessing step before
    * moment-based statistics. One exact-percentile hash agg over 5
    * groups (at 100 TB: `approx_percentile`, same plan), the 5-row
    * bounds frame broadcasts, and the clamp is a map-side
    * greatest/least — so the whole operator is one agg + one scan.
    * Exact-percentile interpolation agrees across engines (pinned by
    * `agg_percentiles`), and the clamp emits either an input value or
    * a boundary value, so no new float arithmetic enters the output. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"))
    // exact-identical percentiles via the codegen sort-window form —
    // the built-in Percentile aggregate was this gate's hot path (a
    // boxed per-partition value map merged in one final task; ~1.2 s
    // of the gate's 2.0 s at sf0.1, vs ~0.2 s for the sorted form)
    val b = ExactPercentiles.groupPercentiles(li, Seq("l_returnflag"),
      col("l_extendedprice"), Seq("p05" -> 0.05, "p95" -> 0.95))
    li.join(broadcast(b), "l_returnflag")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"),
        greatest(least(col("l_extendedprice"), col("p95")), col("p05"))
          .as("price_w"))
  }

  /** Exact heavy hitters (support > 1/150 of the stream) by the
    * two-phase candidates-then-verify pattern: each partition runs a
    * Misra-Gries summary with K=256 counters, the union of per-partition
    * candidates (bounded by K x partitions, broadcastable at any data
    * size) is exactly counted, and the threshold keeps true hitters
    * only. Soundness: an item with global frequency > n/150 has local
    * frequency > n_p/150 in at least one partition (averaging), and
    * MG with K counters retains any item of local frequency >
    * n_p/(K+1); 1/150 > 1/257, so no true hitter is ever lost —
    * regardless of partitioning, which is why the verified output is
    * deterministic even though the candidate set is not. The total
    * count collected to the driver is a bounded O(1) scalar. */
  /** Per-partition Misra-Gries candidate keys: every id whose GLOBAL
    * frequency exceeds n/(k+1) is guaranteed to survive at least one
    * partition's summary (see [[heavyHitters]] soundness argument);
    * ids below that may or may not appear — the exact verify pass
    * makes the final answer partitioning-independent. */
  private[graft] def mgCandidates(ids: org.apache.spark.sql.Dataset[Long],
      k: Int): DataFrame = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val counters = scala.collection.mutable.LongMap.empty[Long]
      it.foreach { id =>
        if (counters.contains(id)) counters(id) += 1
        else if (counters.size < k) counters(id) = 1L
        else {
          val dead = scala.collection.mutable.ArrayBuffer.empty[Long]
          counters.foreachEntry((kk, v) =>
            if (v == 1L) dead += kk else counters(kk) = v - 1)
          dead.foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.toDF("user_id").distinct()
  }

  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events").select(col("user_id"))
    val cands = mgCandidates(ev.as[Long], 256)
    val total = ev.count() // bounded scalar: one number to the driver
    ev.join(broadcast(cands), "user_id")
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * 150 > lit(total))
  }

  /** Count-min sketch geometry: depth x width counters. With w=256 the
    * expected per-row overestimate is n/w; depth-4 takes the min over
    * independent rows. LCG hash coefficients (integer-exact in both
    * engines, same family as the MinHash permutations). */
  val cmsDepth = 4
  val cmsWidth = 256L
  private[graft] val cmsP = 2147483647L
  private[graft] val cmsA = Seq(1103515245L, 1103527591L, 1229782938L, 1301100263L)
  private[graft] val cmsB = Seq(12345L, 54321L, 98765L, 13579L)

  /** Count-min sketch frequency estimates — the frequency member of the
    * sketch family (HLL = cardinality, Bloom = membership, Misra-Gries
    * = heavy hitters): a fixed depth x width counter grid replaces the
    * per-key exact count, so stream-side state is O(d·w) regardless of
    * key cardinality (Cormode & Muthukrishnan 2005). Sketch BUILD is
    * one map-side explode (d rows per event, all literals) + one hash
    * agg over at most d·w cells — mergeable across partitions/streams
    * by cell-wise addition, which is the whole point at 100 TB. The
    * gate estimates the bounded query set user_id < 50 via d broadcast
    * joins against the tiny counter grid and checks the one-sided
    * error guarantee est >= exact per key. Deterministic: fixed LCG
    * hash rows, so Spark and DuckDB build bit-identical grids. */
  def cmsFrequency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events").select(col("user_id"))
    def bucket(i: Int, c: Column): Column =
      pmod(pmod(lit(cmsA(i)) * c + lit(cmsB(i)), lit(cmsP)), lit(cmsWidth))
    val counters = ev
      .select(explode(array((0 until cmsDepth).map(i =>
        struct(lit(i).as("r"), bucket(i, col("user_id")).as("b"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val exact = ev.filter(col("user_id") < 50)
      .groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
    val est = (0 until cmsDepth).foldLeft(exact) { (df, i) =>
      df.join(broadcast(counters.filter(col("r") === i)
          .select(col("b").as(s"b$i"), col("c").as(s"c$i"))),
        bucket(i, col("user_id")) === col(s"b$i"))
        .drop(s"b$i")
    }
    est.select(col("user_id"), col("exact_cnt"),
      least((0 until cmsDepth).map(i => col(s"c$i")): _*).as("cms_est"))
      .withColumn("overest_ok", col("cms_est") >= col("exact_cnt"))
  }

  // --- Pairwise correlation sufficient statistics -------------------------

  /** Per-group correlation/covariance SUFFICIENT STATISTICS for
    * (quantity, price) — n, Σx, Σy, Σxy on exact integer grids (price
    * in cents) plus the covariance numerator n·Σxy − Σx·Σy and its
    * sign. The split matters at 100 TB: the five sums are algebraic
    * (map-side partial agg, mergeable across any partitioning — the
    * same (n, Σ…) shape every distributed stats system ships), while
    * the float r itself is a driver-side epilogue. The numerator
    * exceeds BIGINT at scale, so it rides DECIMAL(38,0) and is emitted
    * as a STRING — hash-comparable digit-for-digit with DuckDB's
    * HUGEINT, where a DOUBLE would round (~1e19 > 2^53) and a decimal
    * would hash as a different type. */
  def corrStats(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("long")
    val y = (dec(col("l_extendedprice")) * 100).cast("long")
    Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"), x.as("x"), y.as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sum_qty"),
        sum(col("y")).as("sum_price_cents"),
        sum(col("x") * col("y")).as("sum_xy"))
      .withColumn("cov_num",
        (col("n").cast("decimal(38,0)") * col("sum_xy")
          - col("sum_qty").cast("decimal(38,0)") * col("sum_price_cents"))
          .cast("string"))
      .withColumn("cov_pos",
        col("n").cast("decimal(38,0)") * col("sum_xy")
          > col("sum_qty").cast("decimal(38,0)") * col("sum_price_cents"))
  }

  // --- KMV distinct-count sketch ------------------------------------------

  /** Sketch size for [[kmvDistinct]]. */
  val kmvK = 64

  /** K-minimum-values cardinality sketch (Bar-Yossef et al. 2002) —
    * the third cardinality estimator next to HLL (`agg_approx_distinct`)
    * and exact distinct, and unlike HLL its entire computation
    * reproduces bit-identically in the oracle: hash every key with the
    * LCG permutation, keep the k smallest DISTINCT hash values per
    * group, estimate (k−1)·M / h_k (M = the hash modulus). The min-k
    * buffer rides the same bounded `Aggregator` as top-k — the
    * exchange carries O(groups·k) rows; a production sketch folds the
    * dedup into the buffer itself, here it is a pre-aggregation so the
    * gate shares [[graft.functions.TopK.TopKAgg]] unchanged. Groups
    * smaller than k report exactly. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopK
    val mink = udaf(new TopK.TopKAgg(kmvK), TopK.scoredEncoder)
    val base = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        pmod(col("l_partkey") * lit(1103515245L) + lit(12345L),
          lit(2147483648L)).as("h"))
    val exact = base.groupBy("l_returnflag")
      .agg(countDistinct(col("h")).as("n_distinct_h"))
    // distinct (group, h) once; min-k = top-k on the negated hash
    val sketch = base.distinct()
      .groupBy("l_returnflag")
      .agg(mink((-col("h")).cast("double"), col("h")).as("mins"))
      .select(col("l_returnflag"),
        element_at(col("mins"), -1).getField("key").as("kth_min"),
        size(col("mins")).as("m"))
    exact.join(sketch, "l_returnflag")
      .select(col("l_returnflag"), col("n_distinct_h"),
        when(col("m") < kmvK, col("n_distinct_h"))
          // integer DIV, not floor(double /): the double quotient
          // rounds at 53 bits and can cross an integer boundary the
          // exact quotient doesn't; DuckDB's // is exact
          .otherwise(expr(s"${(kmvK - 1) * 2147483648L}L DIV kth_min"))
          .cast("long").as("kmv_est"))
  }

  /** KMV sketch SET ALGEBRA — the property that makes distinct-count
    * sketches a data type rather than a one-off answer (Theta sketches,
    * Beyer et al. SIGMOD'07): the k smallest hashes of A ∪ B are
    * computable from the two k-min sketches alone, so union/intersect
    * cardinalities of 100 TB segments cost sketch-sized work. Emits
    * (metric ∈ a|b|union|intersect, exact, est): per-segment KMV
    * estimates, the union estimate from the merged sketch's k-th min
    * θ ((k−1)·M DIV θ), and the intersection estimate
    * |common ∩ [0,θ]|·M DIV θ — every decision in LCG-hash integer
    * space. When the merged sketch holds < k members both estimates
    * collapse to their exact values by construction.
    *
    * Shape: segment sketches are the bounded top-k Aggregator
    * (O(segments·k) exchange); ALL set algebra then runs on the ≤2k
    * member frame — the single-partition window over it is bounded by
    * sketch geometry, never data. Exact counterparts (the gate's
    * ground truth) are plain distinct aggregates. The final collapse
    * is a union + max-of-one-non-null per metric, so no single-row
    * frame ever joins anything. */
  def kmvSetOps(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopK
    val k = kmvK
    val M = 2147483648L
    val mink = udaf(new TopK.TopKAgg(k), TopK.scoredEncoder)
    val nullL = lit(null).cast("long")
    val base = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(when(col("event_type") === "click", "a").otherwise("b")
        .as("seg"),
        pmod(col("user_id") * lit(1103515245L) + lit(12345L), lit(M))
          .as("h"))
      .distinct()
    val segExact = base.groupBy("seg")
      .agg(count(lit(1)).as("exact"))
      .select(col("seg").as("metric"), col("exact"), nullL.as("est"))
    val unionExact = base.select("h").distinct()
      .agg(count(lit(1)).as("exact"))
      .select(lit("union").as("metric"), col("exact"), nullL.as("est"))
    val interExact = base.groupBy("h")
      .agg(countDistinct(col("seg")).as("s")).filter(col("s") === 2)
      .agg(count(lit(1)).as("exact"))
      .select(lit("intersect").as("metric"), col("exact"), nullL.as("est"))
    val sk = base.groupBy("seg")
      .agg(mink((-col("h")).cast("double"), col("h")).as("mins"))
    val segEst = sk.select(col("seg").as("metric"), nullL.as("exact"),
      when(size(col("mins")) < k, size(col("mins")).cast("long"))
        .otherwise(expr(s"${(k - 1) * M}L DIV " +
          "element_at(mins, -1).key")).as("est"))
    val members = sk
      .select(col("seg"), explode(col("mins")).as("m"))
      .select(col("seg"), col("m.key").as("h"))
    // bounded single-partition tail: <= 2k sketch members
    val wAll = Tables.boundedGlobalWindow(col("h"))
    val merged = members.groupBy("h")
      .agg(max(col("seg") === "a").as("in_a"),
        max(col("seg") === "b").as("in_b"))
      .withColumn("rn", row_number().over(wAll))
      .agg(count(lit(1)).as("m"),
        max(when(col("rn") === k, col("h"))).as("theta"),
        count(when(col("in_a") && col("in_b"), 1)).as("inter_all"),
        count(when(col("in_a") && col("in_b") && col("rn") <= k, 1))
          .as("inter_below"))
    val unionEst = merged.select(lit("union").as("metric"),
      nullL.as("exact"),
      when(col("m") < k, col("m"))
        .otherwise(expr(s"${(k - 1) * M}L DIV theta")).as("est"))
    val interEst = merged.select(lit("intersect").as("metric"),
      nullL.as("exact"),
      when(col("m") < k, col("inter_all"))
        .otherwise(expr(s"inter_below * ${M}L DIV theta")).as("est"))
    segExact.unionAll(unionExact).unionAll(interExact)
      .unionAll(segEst).unionAll(unionEst).unionAll(interEst)
      .groupBy("metric")
      .agg(max(col("exact")).as("exact"), max(col("est")).as("est"))
  }

  /** Rolling median over a trailing 11-row frame — the robust moving
    * location estimate (rolling mean breaks on outliers). Emitted as
    * 2·median of integer cents: for odd frames that's an element
    * doubled, for even frames the two middle values' SUM — integers
    * in both engines, so the even-frame interpolation convention
    * (low + (high−low)/2 vs (low+high)/2) can never skew a bit. One
    * keyed sort, frame state O(11) per partition. */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority").orderBy("o_orderkey")
      .rowsBetween(-10, 0)
    Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (Tables.dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      .withColumn("med2_cents",
        (percentile(col("cents"), lit(0.5)).over(w) * 2).cast("long"))
  }

  /** Bitmap-index distinct count — the roaring-bitmap technique every
    * serious OLAP engine (Druid, ClickHouse, Kylin) uses when the key
    * domain is dense integers: pack presence into 62-bit words keyed by
    * `id DIV 62`, OR words together, population-count the result. Two
    * hash aggs; the first's output is bounded by keyspace/62 PER GROUP
    * regardless of row count (a 10^9-user corpus is ~16M words — the
    * whole "distinct" fits in executor memory as a bitmap), and both
    * `bit_or` and the word census are algebraic, so map-side combine
    * does the heavy lifting. 62 bits per word keeps `1L << off`
    * strictly positive in every engine (no sign-bit conventions).
    * Emits the bitmap count AND plain `countDistinct` so the gate
    * itself proves the bitmap path exact. */
  def bitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id"))
      .groupBy(col("event_type"), expr("user_id DIV 62").as("wi"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
        "CAST(pmod(user_id, 62) AS INT)))").as("word"))
      .groupBy("event_type")
      .agg(sum(bit_count(col("word"))).cast("long").as("n_users_bitmap"),
        count(lit(1)).as("n_words"))
    val exact = Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users_exact"))
    words.join(exact, Seq("event_type"))
      .withColumn("bitmap_exact_match",
        col("n_users_bitmap") === col("n_users_exact"))
  }

  /** Band width (cents) for the [[percentileBanded]] two-level prefix
    * sum: price domain ≤ 5·10⁷ cents DIV 10⁵ → ≤ 500 bands. */
  val pctBandCents = 100000L

  /** EXACT global percentiles (disc) of the order total at corpus
    * scale — the scalable alternative to `percentile()`'s
    * collect-and-sort (which holds each group's values in one task's
    * memory: fine per-group, fatal for a global quantile over 10^12
    * rows). The whole computation lives on the VALUE-DOMAIN-bounded
    * cents histogram (≤ 5·10⁷ cells regardless of row count): one
    * corpus-scale hash agg, the [[graft.operators.TrainPrep.tokenBudget]]
    * banded prefix sum for the cumulative (per-band windows + a
    * ≤500-row band-offset frame — no single-task sort over the
    * cells), then each percentile is the unique histogram cell whose
    * cumulative first crosses ceil(q·n/100), found by a map-side
    * explode×3 and the integer crossing test `100·cum ≥ q·n AND
    * 100·(cum−cnt) < q·n` — percentile_disc semantics, no float, no
    * second pass. */
  /** The shared scaffold of the three order-distribution gates
    * ([[percentileBanded]], [[giniBanded]], [[lorenzDeciles]]): the
    * cents histogram of `o_totalprice` with EXACT cumulatives via the
    * two-level banded prefix sum — per-band windows in parallel, band
    * offsets over the ≤500-row band frame (bounded by the price
    * domain, not the data), broadcast back. Emits per cell: `cents`,
    * `cnt`, `cum` (count cumulative), `cumc` (DECIMAL(38,0)
    * cents·cnt cumulative), and the totals `n` / `t` on every row.
    * Both measures ride the same windows, so a gate that needs only
    * one pays a spare decimal column on the cell frame — nothing
    * data-scaled. */
  private def centsCumHistogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ccnt = expr("CAST(cents AS DECIMAL(38,0)) * cnt")
    val h = Tables.load(spark, dir, "orders")
      .groupBy(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("band", expr(s"cents DIV $pctBandCents"))
    val wIn = Window.partitionBy("band").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Tables.boundedGlobalWindow(col("band")) // bounded: <= price bands
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Tables.boundedGlobalWindow(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = h.groupBy("band")
      .agg(sum(col("cnt")).as("btot"), sum(ccnt).as("bc"))
      .withColumn("off", coalesce(sum(col("btot")).over(wOff), lit(0L)))
      .withColumn("offc", coalesce(sum(col("bc")).over(wOff),
        expr("CAST(0 AS DECIMAL(38,0))")))
      .withColumn("n", sum(col("btot")).over(wTot))
      .withColumn("t", sum(col("bc")).over(wTot))
      .select(col("band"), col("off"), col("offc"), col("n"), col("t"))
    h.withColumn("cum_in", sum(col("cnt")).over(wIn))
      .withColumn("cumc_in", sum(ccnt).over(wIn))
      .join(broadcast(offsets), "band")
      .select(col("cents"), col("cnt"),
        (col("off") + col("cum_in")).as("cum"),
        (col("offc") + col("cumc_in")).as("cumc"),
        col("n"), col("t"))
  }

  def percentileBanded(spark: SparkSession, dir: String): DataFrame =
    centsCumHistogram(spark, dir)
      .withColumn("q", explode(array(lit(50L), lit(90L), lit(99L))))
      .filter(col("cum") * 100 >= col("q") * col("n")
        && (col("cum") - col("cnt")) * 100 < col("q") * col("n"))
      .select(col("q"), col("cents").as("value_cents"), col("n"))

  /** Exact Gini coefficient of the order totals — the inequality
    * readout ("how concentrated is revenue?") on the same
    * value-domain-bounded cents histogram as [[percentileBanded]].
    * For ascending ranks the identity `G = (2·Σ i·xᵢ − (n+1)·Σx) /
    * (n·Σx)` needs only per-cell arithmetic once the cumulative is
    * known: a cell (v, c) at prior cumulative p contributes
    * `v·(2·c·p + c·(c+1))` to `2·Σ i·xᵢ` — no per-row ranks, no sort
    * of the data, ranks never exist. Products run in DECIMAL(38,0)
    * (Spark) / HUGEINT (DuckDB) — the chi2 headroom pattern, since
    * `2·Σ i·xᵢ` reaches n²·v̄ ≈ 10¹⁸ at sf0.1 alone — and the
    * published `gini_q6` is an integral DIV of positive values,
    * truncation-identical in both engines. Same plan as the
    * percentile gate: one corpus hash agg, banded prefix, one-row
    * readout. */
  def giniBanded(spark: SparkSession, dir: String): DataFrame =
    centsCumHistogram(spark, dir)
      .agg(
        max(col("n")).as("n"), max(col("t")).as("t"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * " +
          "(2 * cnt * (cum - cnt) + cnt * (cnt + 1))")).as("s2"))
      .selectExpr("n", "CAST(t AS BIGINT) AS total_cents",
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * " +
          "(s2 - (n + 1) * t) DIV (n * t) AS BIGINT) AS gini_q6")

  /** Lorenz-curve deciles — the pointwise companion to [[giniBanded]]
    * ("the bottom 50% of orders carry 31% of revenue"): for each
    * population decile threshold d, the revenue share held by the
    * smallest orders up to it. Found on the same banded cents
    * histogram with the [[percentileBanded]] crossing test at
    * d·n/10; the share is the exact integer `10^6·cum_cents DIV
    * total_cents` at the crossing cell (disc semantics: the cell
    * that completes the decile is included — deterministic, no
    * interpolation). DECIMAL(38,0)/HUGEINT for the cents cumulative
    * products, as in the Gini gate. */
  def lorenzDeciles(spark: SparkSession, dir: String): DataFrame =
    centsCumHistogram(spark, dir)
      .withColumn("d", explode(array((1L to 9L).map(lit): _*)))
      .filter(col("cum") * 10 >= col("d") * col("n")
        && (col("cum") - col("cnt")) * 10 < col("d") * col("n"))
      .selectExpr("d AS decile", "cum AS n_orders",
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * cumc DIV t AS BIGINT)" +
          " AS revenue_share_q6")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_lorenz" -> lorenzDeciles _,
    "agg_gini" -> giniBanded _,
    "agg_percentile_banded" -> percentileBanded _,
    "agg_kmv_setops" -> kmvSetOps _,
    "agg_bitmap_distinct" -> bitmapDistinct _,
    "window_rolling_median" -> rollingMedian _,
    "agg_corr_stats" -> corrStats _,
    "agg_kmv_distinct" -> kmvDistinct _,
    "agg_cms" -> cmsFrequency _,
    "agg_winsorize" -> winsorize _,
    "agg_heavy_hitters" -> heavyHitters _,
    "agg_regression" -> regression _,
    "agg_equidepth" -> equidepthHistogram _,
    "agg_mad" -> madOutliers _,
    "agg_histogram" -> histogram _,
    "func_conditional" -> conditionalAggs _,
    "agg_grouping_sets" -> groupingSets _,
    "agg_q1_pricing" -> q1Pricing _,
    "agg_q6_forecast" -> q6Forecast _,
    "agg_rollup" -> rollupRevenue _,
    "agg_pivot" -> pivotStatus _,
    "agg_percentiles" -> percentiles _,
    "agg_approx_distinct" -> approxDistinct _,
    "agg_approx_percentile" -> approxPercentile _,
    "agg_mode" -> modeQuery _,
    "agg_outliers" -> outliers _,
    "agg_moments" -> momentStats _,
    "agg_cube" -> cubeCounts _,
    "window_range_frame" -> rangeFrame _,
    "func_array" -> arrayFuncs _)

  val oracles: Map[String, String] = Map(
    "agg_lorenz" ->
      """WITH h AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |      AS cents,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |c AS (SELECT *,
        |    CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum,
        |    CAST(sum(CAST(cents AS HUGEINT) * cnt) OVER (ORDER BY cents)
        |      AS HUGEINT) AS cumc,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS n,
        |    CAST(sum(CAST(cents AS HUGEINT) * cnt) OVER () AS HUGEINT)
        |      AS t
        |  FROM h)
        |SELECT CAST(d.d AS BIGINT) AS decile, cum AS n_orders,
        |  CAST(1000000 * cumc // t AS BIGINT) AS revenue_share_q6
        |FROM c, (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS d) d
        |WHERE cum * 10 >= d.d * n AND (cum - cnt) * 10 < d.d * n""".stripMargin,
    "agg_gini" ->
      """WITH h AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |      AS cents,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |c AS (SELECT *,
        |    CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum
        |  FROM h),
        |a AS (SELECT CAST(sum(cnt) AS HUGEINT) AS n,
        |    CAST(sum(CAST(cents AS HUGEINT) * cnt) AS HUGEINT) AS t,
        |    CAST(sum(CAST(cents AS HUGEINT) *
        |      (2 * cnt * (cum - cnt) + cnt * (cnt + 1))) AS HUGEINT) AS s2
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n, CAST(t AS BIGINT) AS total_cents,
        |  CAST((1000000 * (s2 - (n + 1) * t)) // (n * t) AS BIGINT)
        |    AS gini_q6
        |FROM a""".stripMargin,
    "agg_percentile_banded" ->
      """WITH h AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |      AS cents,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |c AS (SELECT *,
        |    CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS n
        |  FROM h)
        |SELECT CAST(q.q AS BIGINT) AS q, cents AS value_cents, n
        |FROM c, (SELECT unnest([50, 90, 99]) AS q) q
        |WHERE cum * 100 >= q.q * n AND (cum - cnt) * 100 < q.q * n""".stripMargin,
    "agg_bitmap_distinct" ->
      """WITH w AS (SELECT event_type, user_id // 62 AS wi,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 62 AS INT))
        |      AS word
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type,
        |    CAST(sum(bit_count(word)) AS BIGINT) AS n_users_bitmap,
        |    count(*) AS n_words
        |  FROM w GROUP BY 1),
        |e AS (SELECT event_type, count(DISTINCT user_id)
        |    AS n_users_exact FROM events GROUP BY 1)
        |SELECT b.event_type, n_users_bitmap, n_words, n_users_exact,
        |  n_users_bitmap = n_users_exact AS bitmap_exact_match
        |FROM b JOIN e ON b.event_type = e.event_type""".stripMargin,
    "agg_kmv_setops" ->
      s"""WITH s AS (SELECT CASE WHEN event_type = 'click' THEN 'a'
         |      ELSE 'b' END AS seg,
         |    (user_id * 1103515245 + 12345) % 2147483648 AS h
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |d AS (SELECT DISTINCT seg, h FROM s),
         |r AS (SELECT seg, h, row_number() OVER (PARTITION BY seg
         |    ORDER BY h) AS rn FROM d),
         |sk AS (SELECT seg, h, rn FROM r WHERE rn <= $kmvK),
         |segest AS (SELECT seg,
         |    CASE WHEN max(rn) < $kmvK THEN max(rn)
         |      ELSE ${(kmvK - 1) * 2147483648L}
         |        // max(CASE WHEN rn = $kmvK THEN h END) END AS est
         |  FROM sk GROUP BY seg),
         |segexact AS (SELECT seg, count(*) AS exact FROM d GROUP BY seg),
         |f AS (SELECT h,
         |    max(CASE WHEN seg = 'a' THEN 1 ELSE 0 END) = 1 AS in_a,
         |    max(CASE WHEN seg = 'b' THEN 1 ELSE 0 END) = 1 AS in_b
         |  FROM sk GROUP BY h),
         |f2 AS (SELECT h, in_a, in_b,
         |    row_number() OVER (ORDER BY h) AS rn FROM f),
         |u AS (SELECT count(*) AS m,
         |    max(CASE WHEN rn = $kmvK THEN h END) AS theta,
         |    count(CASE WHEN in_a AND in_b THEN 1 END) AS inter_all,
         |    count(CASE WHEN in_a AND in_b AND rn <= $kmvK THEN 1 END)
         |      AS inter_below
         |  FROM f2),
         |uest AS (SELECT
         |    CASE WHEN m < $kmvK THEN m
         |      ELSE ${(kmvK - 1) * 2147483648L} // theta END AS est_u,
         |    CASE WHEN m < $kmvK THEN inter_all
         |      ELSE inter_below * 2147483648 // theta END AS est_i
         |  FROM u),
         |uexact AS (SELECT count(DISTINCT h) AS ex FROM d),
         |iexact AS (SELECT count(*) AS ex FROM (
         |  SELECT h FROM d GROUP BY h
         |  HAVING count(DISTINCT seg) = 2) x)
         |SELECT 'a' AS metric,
         |  (SELECT exact FROM segexact WHERE seg = 'a') AS exact,
         |  (SELECT est FROM segest WHERE seg = 'a') AS est
         |UNION ALL SELECT 'b',
         |  (SELECT exact FROM segexact WHERE seg = 'b'),
         |  (SELECT est FROM segest WHERE seg = 'b')
         |UNION ALL SELECT 'union',
         |  (SELECT ex FROM uexact), (SELECT est_u FROM uest)
         |UNION ALL SELECT 'intersect',
         |  (SELECT ex FROM iexact), (SELECT est_i FROM uest)""".stripMargin,
    "window_rolling_median" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders WHERE o_orderkey < 2000)
        |SELECT o_orderkey, o_orderpriority, cents,
        |  CAST(median(cents) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderkey
        |    ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) * 2 AS BIGINT)
        |    AS med2_cents
        |FROM o""".stripMargin,
    "agg_corr_stats" ->
      """WITH s AS (SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS y
        |  FROM lineitem),
        |a AS (SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sum_qty,
        |    CAST(sum(y) AS BIGINT) AS sum_price_cents,
        |    CAST(sum(x * y) AS BIGINT) AS sum_xy
        |  FROM s GROUP BY 1)
        |SELECT l_returnflag, n, sum_qty, sum_price_cents, sum_xy,
        |  CAST(CAST(n AS HUGEINT) * sum_xy
        |    - CAST(sum_qty AS HUGEINT) * sum_price_cents AS VARCHAR)
        |    AS cov_num,
        |  CAST(n AS HUGEINT) * sum_xy
        |    > CAST(sum_qty AS HUGEINT) * sum_price_cents AS cov_pos
        |FROM a""".stripMargin,
    "agg_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT l_returnflag,
         |    (l_partkey * 1103515245 + 12345) % 2147483648 AS h
         |  FROM lineitem),
         |r AS (SELECT l_returnflag, h,
         |    CAST(row_number() OVER (PARTITION BY l_returnflag
         |      ORDER BY h) AS BIGINT) AS rn,
         |    count(*) OVER (PARTITION BY l_returnflag) AS m
         |  FROM h),
         |k AS (SELECT l_returnflag, m, max(h) AS kth_min
         |  FROM r WHERE rn <= $kmvK GROUP BY 1, 2)
         |SELECT l_returnflag, m AS n_distinct_h,
         |  CAST(CASE WHEN m < $kmvK THEN m
         |    ELSE ${(kmvK - 1) * 2147483648L} // kth_min END AS BIGINT)
         |    AS kmv_est
         |FROM k""".stripMargin,
    "agg_winsorize" ->
      """WITH b AS (SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS p05,
        |    quantile_cont(l_extendedprice, 0.95) AS p95
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |  l.l_extendedprice,
        |  greatest(least(l.l_extendedprice, b.p95), b.p05) AS price_w
        |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag""".stripMargin,
    "agg_heavy_hitters" ->
      """SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
        |HAVING count(*) * 150 > (SELECT count(*) FROM events)""".stripMargin,
    "agg_cms" -> {
      val rows = (0 until cmsDepth)
        .map(i => s"($i, ${cmsA(i)}, ${cmsB(i)})").mkString(", ")
      s"""WITH h(r, ha, hb) AS (SELECT * FROM (VALUES $rows)),
         |grid AS (SELECT h.r,
         |    ((h.ha * e.user_id + h.hb) % $cmsP) % $cmsWidth AS b,
         |    count(*) AS c
         |  FROM events e CROSS JOIN h
         |  GROUP BY 1, 2),
         |ex AS (SELECT user_id, count(*) AS exact_cnt FROM events
         |  WHERE user_id < 50 GROUP BY 1),
         |est AS (SELECT ex.user_id, ex.exact_cnt, min(g.c) AS cms_est
         |  FROM ex
         |  JOIN h ON TRUE
         |  JOIN grid g ON g.r = h.r
         |    AND g.b = ((h.ha * ex.user_id + h.hb) % $cmsP) % $cmsWidth
         |  GROUP BY 1, 2)
         |SELECT user_id, exact_cnt, cms_est,
         |  cms_est >= exact_cnt AS overest_ok FROM est""".stripMargin
    },
    "agg_regression" ->
      """WITH b AS (SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS xc,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
        |  FROM lineitem),
        |s AS (SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(xc AS HUGEINT)) AS sx,
        |    sum(CAST(yc AS HUGEINT)) AS sy,
        |    sum(CAST(xc AS HUGEINT) * xc) AS sxx,
        |    sum(CAST(xc AS HUGEINT) * yc) AS sxy
        |  FROM b GROUP BY 1),
        |sl AS (SELECT l_returnflag, n, sx, sy,
        |    CAST((n * sxy - sx * sy) * 1000000
        |         // (n * sxx - sx * sx) AS BIGINT) AS slope_q6
        |  FROM s)
        |SELECT l_returnflag, n, slope_q6,
        |  CAST((sy * 1000000 - slope_q6 * sx) // n AS BIGINT) AS intercept_q6
        |FROM sl""".stripMargin,
    "agg_equidepth" ->
      """WITH q AS (SELECT quantile_cont(o_totalprice,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
        |  FROM orders),
        |b AS (SELECT o_totalprice,
        |    (CASE WHEN o_totalprice > q.bs[1] THEN 1 ELSE 0 END)
        |  + (CASE WHEN o_totalprice > q.bs[2] THEN 1 ELSE 0 END)
        |  + (CASE WHEN o_totalprice > q.bs[3] THEN 1 ELSE 0 END)
        |  + (CASE WHEN o_totalprice > q.bs[4] THEN 1 ELSE 0 END)
        |  + (CASE WHEN o_totalprice > q.bs[5] THEN 1 ELSE 0 END)
        |  + (CASE WHEN o_totalprice > q.bs[6] THEN 1 ELSE 0 END)
        |  + (CASE WHEN o_totalprice > q.bs[7] THEN 1 ELSE 0 END)
        |  + (CASE WHEN o_totalprice > q.bs[8] THEN 1 ELSE 0 END)
        |  + (CASE WHEN o_totalprice > q.bs[9] THEN 1 ELSE 0 END) AS bin
        |  FROM orders, q)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS cnt,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM b GROUP BY bin""".stripMargin,
    "agg_mad" ->
      """WITH m AS (SELECT event_type, median(value) AS med
        |  FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, value, med, abs(value - med) AS adev
        |  FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, median(adev) AS mad FROM d GROUP BY 1)
        |SELECT d.event_type, min(d.med) AS med, min(md.mad) AS mad,
        |  CAST(sum(CASE WHEN adev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_out,
        |  count(*) AS n
        |FROM d JOIN md USING (event_type) GROUP BY 1""".stripMargin,
    "agg_histogram" ->
      s"""SELECT CAST(least(greatest(floor(o_totalprice / $histWidth), 0),
         |    ${histBuckets - 1}) AS BIGINT) AS bucket,
         |  count(*) AS cnt,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         |    AS price_sum
         |FROM orders GROUP BY 1""".stripMargin,
    "agg_grouping_sets" -> groupingSetsText,
    "func_conditional" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (l_quantity > 25) AS n_big,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
        |    FILTER (l_discount > 0.05) AS DOUBLE) AS disc_rev,
        |  bool_or(l_tax > 0.07) AS any_high_tax,
        |  bool_and(l_quantity > 0) AS all_pos_qty,
        |  max(l_quantity) FILTER (l_discount > 0.05) AS max_disc_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "agg_q6_forecast" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * CAST(round(l_discount * 100) AS BIGINT)), 0) AS BIGINT)
        |    AS revenue_c4
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
        |  AND CAST(round(l_quantity) AS BIGINT) < 24""".stripMargin,
    "agg_q1_pricing" ->
      """WITH b AS (SELECT l_returnflag, l_linestatus,
        |    CAST(round(l_quantity) AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS p_cents,
        |    CAST(round(l_discount * 100) AS BIGINT) AS d_pct,
        |    CAST(round(l_tax * 100) AS BIGINT) AS t_pct
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02')
        |SELECT l_returnflag, l_linestatus,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  CAST(sum(p_cents) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(p_cents * (100 - d_pct)) AS BIGINT)
        |    AS sum_disc_c4,
        |  CAST(sum(p_cents * (100 - d_pct) * (100 + t_pct))
        |    AS BIGINT) AS sum_charge_c6,
        |  CAST(100 * sum(qty) // count(*) AS BIGINT) AS avg_qty_q2,
        |  CAST(sum(p_cents) // count(*) AS BIGINT) AS avg_price_cents,
        |  CAST(100 * sum(d_pct) // count(*) AS BIGINT) AS avg_disc_q4,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY 1, 2""".stripMargin,
    "agg_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "agg_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "agg_percentiles" ->
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "agg_moments" ->
      """WITH s AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_x,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))
        |             * CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,4))
        |         AS VARCHAR) AS sum_x2_s
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, n, sum_x, sum_x2_s, sum_x / n AS mean
        |FROM s""".stripMargin,
    "agg_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS cnt
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "window_range_frame" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_30d
        |FROM orders WHERE o_custkey < 200""".stripMargin,
    "func_array" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first,
        |  CAST(embedding[-1] AS DOUBLE) AS last,
        |  CAST(embedding[1:3][3] AS DOUBLE) AS slice3_last,
        |  CAST(label AS BIGINT) AS label_l
        |FROM embeddings""".stripMargin,
    "agg_mode" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |m AS (SELECT o_orderstatus,
        |    min(struct_pack(nc := -cnt, v := v)) AS m,
        |    CAST(sum(cnt) AS BIGINT) AS n_rows
        |  FROM c GROUP BY 1)
        |SELECT o_orderstatus, (m).v AS mode_priority,
        |  -(m).nc AS mode_count, n_rows
        |FROM m""".stripMargin,
    "agg_outliers" ->
      """WITH e AS (SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS HUGEINT) AS xc FROM events),
        |s AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    sum(xc) AS s1, sum(xc * xc) AS s2
        |  FROM e GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value
        |FROM e JOIN s USING (event_type)
        |WHERE (n * e.xc - s1) * (n * e.xc - s1) > 9 * (n * s2 - s1 * s1)""".stripMargin,
    "agg_approx_percentile" ->
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS exact_p50,
        |  TRUE AS within_bound
        |FROM orders GROUP BY 1""".stripMargin,
    "agg_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS within_bound
        |FROM lineitem GROUP BY 1""".stripMargin)
}
