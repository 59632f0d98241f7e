package graft.analytics

import graft.Tables
import graft.Tables.dsum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series repair operators — the two standard fixes every
  * time-keyed analytics store (the reference's domain is intraday stock
  * bars) applies before analysis:
  *
  *  - GAP FILLING: densify a per-group hourly grid so downstream
  *    windows/joins see every bucket (missing buckets as explicit
  *    zeros, not absent rows);
  *  - FORWARD FILL: carry the last observed value across rows where a
  *    sparse column is null (the as-of semantics of a quote board).
  *
  * Scale shapes: the grid is generated map-side per group (one
  * `sequence` + `explode` over each group's [min, max] hour — rows
  * linear in grid size, no cross joins), then ONE (group, hour)-keyed
  * left join against the aggregated buckets. Forward fill is one
  * running `last(ignoreNulls)` window per key — same single exchange as
  * any per-key window, with the chunked-window pattern
  * (`window_running_sum_chunked`) available for pathological keys. */
object TimeSeries extends graft.GateModule {

  /** Hourly (event_type, hour) grid over each type's observed span,
    * with empty buckets filled as cnt=0 / val_sum=0.0. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
        col("value"))
    val hourly = ev.groupBy("event_type", "h")
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
    val grid = hourly.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
          .as("h"))
    grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h").as("hour_start"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("val_sum"), lit(0.0)).as("val_sum"))
  }

  /** Forward fill: the purchase `value` column viewed as sparse (null
    * on non-purchase events), carried forward per user in (ts,
    * event_id) order — every event row knows the user's last purchase
    * amount. */
  def fillForward(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "events")
      .withColumn("sparse",
        when(col("event_type") === "purchase", col("value")))
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts_s"),
        last(col("sparse"), ignoreNulls = true).over(w).as("last_purchase"))
  }

  /** OHLC resampling — the reference's own domain (intraday stock
    * bars): per (event_type, hour), open/high/low/close/volume of
    * `value`. Open/close are argmin/argmax over the unique event_id
    * sequence (explicit, engine-portable tie rule — sub-second
    * timestamp ties would differ between Spark's microsecond and the
    * oracle's nanosecond clocks). One partial+final hash aggregation;
    * min_by/max_by are algebraic, so map-side combine applies. */
  def ohlcResample(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_start"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).as("volume"))

  /** Volume-anomaly detection over the hourly series: a bucket is
    * anomalous when its count exceeds twice the trailing-24h-per-hour
    * average (itself exclusive of the current bucket). The decision is
    * INTEGER-exact — cnt * trailing_n > 2 * trailing_sum avoids any
    * float division, the same cross-multiplication trick as
    * `agg_outliers`/`text_quality_score`, so the flag is bit-portable.
    * Two passes: one hash agg to hourly counts (tiny), one RANGE-frame
    * window over epoch hours per type. */
  def volumeAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("eh", (unix_timestamp(col("h")) / 3600L).cast("long"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("eh"))
      .rangeBetween(-24L, -1L)
    hourly
      .withColumn("trail_sum", sum(col("cnt")).over(w))
      .withColumn("trail_n", count(col("cnt")).over(w))
      .filter(col("trail_n") > 0)
      .select(col("event_type"), col("h").as("hour_start"), col("cnt"),
        col("trail_sum"), col("trail_n"),
        (col("cnt") * col("trail_n") > col("trail_sum") * 2L).as("anomaly"))
  }

  /** Truncated-exponential smoothing depth: weights 2^-j for
    * j = 0..ewmaK-1, so the dropped tail carries < 2^-ewmaK of the
    * total weight (~0.4% at 8). */
  val ewmaK = 8

  /** Exponentially weighted moving average over the hourly series —
    * the smoothing pass every monitoring/trend pipeline runs on bar
    * data. The textbook EWMA is the recursion s_i = a*x_i + (1-a)*
    * s_{i-1}; a literal sequential scan is both unscalable (one task
    * per series) and float-order-dependent (unverifiable across
    * engines). With a = 1/2 the expansion is s_i = sum_j 2^-j * x_{i-j}
    * — this op computes that sum TRUNCATED at [[ewmaK]] terms: per-row
    * work is O(K) codegen'd `lag`s inside the one per-key window
    * exchange every window op pays (no sequential scan, no state), and
    * the 2^-j weights are exact decimals, so term products and the sum
    * are exact and the double cast is bit-identical in any engine —
    * the same no-float-in-the-decision trick as [[volumeAnomaly]].
    * Truncation error is bounded by 2^-K of the series sup — below
    * half-ULP-of-double territory it is NOT, but it is a fixed, known
    * kernel: production tunes K, not the dataflow. */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    // re-narrow the aggregate to DECIMAL(18,4) so every term product
    // stays within precision 38 with NO precision-loss rounding — the
    // arithmetic is then exact in both engines by type arithmetic, not
    // by luck (hourly sums are ~1e4, nowhere near the 14 integer
    // digits)
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(Tables.dec(col("value")))
        .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val terms = (0 until ewmaK).map { j =>
      // 1/2^j is a terminating decimal (2^j divides 10^j) — exact
      val weight = lit(java.math.BigDecimal.ONE.divide(
        java.math.BigDecimal.valueOf(1L << j)))
      coalesce(lag(col("x"), j).over(w) * weight, lit(0))
    }
    hourly
      .withColumn("ewma", terms.reduceLeft(_ + _).cast("double"))
      .select(col("event_type"), col("h").as("hour_start"),
        col("x").cast("double").as("val_sum"), col("ewma"))
  }

  /** The truncated-EWMA oracle — shared with the streaming form
    * ([[graft.streaming.StreamEwma]]), which reproduces the identical
    * exact-decimal sum from keyed state. */
  def ewmaSql: String = {
    val terms = (0 until ewmaK).map { j =>
      val w = java.math.BigDecimal.ONE.divide(
        java.math.BigDecimal.valueOf(1L << j)).toPlainString
      s"coalesce(lag(x, $j) OVER w * $w, 0)"
    }.mkString("\n  + ")
    s"""WITH h AS (
       |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS x
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, h AS hour_start, CAST(x AS DOUBLE) AS val_sum,
       |  CAST($terms AS DOUBLE) AS ewma
       |FROM h WINDOW w AS (PARTITION BY event_type ORDER BY h)""".stripMargin
  }

  /** Truncation depth of the Holt impulse-response expansion. */
  val holtK = 8

  /** Exact impulse response of the α=β=1/2 Holt (double-exponential)
    * recursion, computed once with BigDecimal halvings — every step
    * multiplies by 0.5 (a terminating decimal), so the lag-j level and
    * trend weights are EXACT decimals of scale ≤ 2·holtK. Zero
    * pre-history: the weights are those of the linear time-invariant
    * filter the recursion converges to, which is exactly what the
    * truncated window sum applies. */
  lazy val holtWeights: (Seq[java.math.BigDecimal], Seq[java.math.BigDecimal]) = {
    val half = new java.math.BigDecimal("0.5")
    var (lPrev, bPrev) = (java.math.BigDecimal.ZERO, java.math.BigDecimal.ZERO)
    val (lw, bw) = (Seq.newBuilder[java.math.BigDecimal],
      Seq.newBuilder[java.math.BigDecimal])
    for (i <- 0 until holtK) {
      val x = if (i == 0) java.math.BigDecimal.ONE else java.math.BigDecimal.ZERO
      val l = x.add(lPrev).add(bPrev).multiply(half)
      val b = l.subtract(lPrev).multiply(half).add(bPrev.multiply(half))
      lw += l; bw += b
      lPrev = l; bPrev = b
    }
    (lw.result(), bw.result())
  }

  /** Holt double-exponential smoothing (level + trend) over the hourly
    * series — the trend-aware sibling of [[ewma]], and the one-step
    * forecast every capacity/monitoring dashboard draws. Same
    * scalability/determinism discipline: the sequential recursion
    * l_t = (x_t + l_{t-1} + b_{t-1})/2, b_t = (l_t − l_{t-1})/2 +
    * b_{t-1}/2 is expanded into its exact impulse response
    * ([[holtWeights]]) truncated at [[holtK]] lags, so the whole
    * operator is O(K) codegen'd `lag`s inside the one per-key window
    * exchange — no sequential scan, no state, and NO float in any
    * published smoothing value: weight scale ≤ 16 puts the exact
    * decimal sums far past double's 2^53 once scaled, and the engines
    * disagree on decimal downscaling (Spark casts round half-up,
    * DuckDB casts truncate), so level/trend/forecast are published as
    * `·10^6 DIV 1` BIGINTs — integer truncation toward zero in both
    * engines (the chi2/CUPED quantization); 10^-6 is far below the
    * 2^-K truncation error the kernel carries by design. */
  def holt(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(Tables.dec(col("value")))
        .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    def series(ws: Seq[java.math.BigDecimal]) = ws.zipWithIndex.map {
      case (wt, j) => coalesce(lag(col("x"), j).over(w) * lit(wt), lit(0))
    }.reduceLeft(_ + _)
    val (lw, bw) = holtWeights
    hourly
      .withColumn("lvl", series(lw))
      .withColumn("trd", series(bw))
      .select(col("event_type"), col("h").as("hour_start"),
        col("x").cast("double").as("val_sum"),
        // the (30,20) narrowing is lossless (values ~1e4) and keeps the
        // *10^6 product inside decimal width 38 in BOTH engines
        expr("CAST((CAST(lvl AS DECIMAL(30,20)) * 1000000) DIV 1 AS BIGINT)")
          .as("holt_level_q6"),
        expr("CAST((CAST(trd AS DECIMAL(30,20)) * 1000000) DIV 1 AS BIGINT)")
          .as("holt_trend_q6"),
        expr("CAST((CAST(lvl + trd AS DECIMAL(30,20)) * 1000000) DIV 1" +
          " AS BIGINT)").as("holt_forecast_q6"))
  }

  /** Forecast backtest for [[holt]] — the accuracy readout a forecast
    * is worthless without (the [[graft.operators.Similarity.lshRecall]]
    * / `train_eval` role for the time-series family): each hour's
    * published one-step forecast is scored against the NEXT row's
    * actual, per type, as MAE, WAPE (Σ|err| over Σactual — the
    * volume-weighted percentage error, one final DIV instead of a
    * per-row ratio), and MASE-style skill vs the naive random-walk
    * forecast (q3 ratio of absolute-error sums; > 1000 means the
    * smoother LOSES to "tomorrow equals today" — a finding, not a
    * failure). All errors are exact integers: actuals are
    * DECIMAL(18,4)·10⁶ (integral by construction), forecasts are the
    * published q6 BIGINTs, abs before every DIV.
    *
    * Plan: the [[holt]] window pass (one per-key exchange), a `lead`
    * in the SAME window, then a per-type hash agg — the eval adds no
    * exchange beyond the operator it scores. */
  def backtest(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(Tables.dec(col("value")))
        .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    def series(ws: Seq[java.math.BigDecimal]) = ws.zipWithIndex.map {
      case (wt, j) => coalesce(lag(col("x"), j).over(w) * lit(wt), lit(0))
    }.reduceLeft(_ + _)
    val (lw, bw) = holtWeights
    hourly
      .withColumn("lvl", series(lw))
      .withColumn("trd", series(bw))
      .withColumn("fc_q6", expr(
        "CAST((CAST(lvl + trd AS DECIMAL(30,20)) * 1000000) DIV 1" +
          " AS BIGINT)"))
      .withColumn("x_next", lead(col("x"), 1).over(w))
      .filter(col("x_next").isNotNull)
      .selectExpr("event_type",
        "CAST(CAST(x_next AS DECIMAL(22,4)) * 1000000 AS DECIMAL(38,0))" +
          " AS a_q6",
        "CAST(CAST(x AS DECIMAL(22,4)) * 1000000 AS DECIMAL(38,0))" +
          " AS naive_q6",
        "CAST(fc_q6 AS DECIMAL(38,0)) AS fc_q6")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_points"),
        sum(expr("abs(a_q6 - fc_q6)")).as("sae"),
        sum(expr("abs(a_q6 - naive_q6)")).as("sae_naive"),
        sum(col("a_q6")).as("sa"))
      .selectExpr("event_type", "n_points",
        "CAST(sae DIV n_points AS BIGINT) AS mae_q6",
        "CAST((1000000 * sae) DIV nullif(sa, 0) AS BIGINT) AS wape_q6",
        "CAST((1000 * sae) DIV nullif(sae_naive, 0) AS BIGINT)" +
          " AS mase_q3")
  }

  /** DuckDB rendering of [[holt]] — identical literal weights,
    * identical `·10^6 // 1` integer quantization. */
  def holtSql: String = {
    // x widened to DECIMAL(22,4): DuckDB multiplication width is
    // w1 + w2 and the weights carry up to 16 digits — 22 + 16 = 38
    // exactly fills the cap, while the bare (18,4) × literal pair
    // overflows DuckDB's int64 fast path
    def terms(ws: Seq[java.math.BigDecimal]) = ws.zipWithIndex.map {
      case (wt, j) =>
        s"coalesce(lag(CAST(x AS DECIMAL(22,4)), $j) OVER w" +
          s" * ${wt.toPlainString}, 0)"
    }.mkString("\n  + ")
    val (lw, bw) = holtWeights
    s"""WITH h AS (
       |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS x
       |  FROM events GROUP BY 1, 2)
       |SELECT event_type, h AS hour_start, CAST(x AS DOUBLE) AS val_sum,
       |  CAST(trunc(CAST((${terms(lw)}) AS DECIMAL(30,20)) * 1000000)
       |    AS BIGINT) AS holt_level_q6,
       |  CAST(trunc(CAST((${terms(bw)}) AS DECIMAL(30,20)) * 1000000)
       |    AS BIGINT) AS holt_trend_q6,
       |  CAST(trunc(CAST((${terms(lw)}) + (${terms(bw)})
       |    AS DECIMAL(30,20)) * 1000000) AS BIGINT) AS holt_forecast_q6
       |FROM h WINDOW w AS (PARTITION BY event_type ORDER BY h)""".stripMargin
  }

  /** Hour-of-day seasonal decomposition — the STL-lite primitive
    * behind every "is this spike real or just 9am" readout: each
    * hourly bucket gets its type's hour-of-day seasonal index
    * (seasonal mean over overall mean) and its deseasonalized value
    * (count over seasonal mean). Published numbers are ratios of
    * exact integer sums quantized `·10^6 DIV` in DECIMAL(38,0)/HUGEINT
    * (both truncate toward zero for integral types; decimal `//` in
    * DuckDB would NOT — see ts_holt) — no float anywhere, the chi2
    * marginal pattern with trillion-row headroom.
    * Plan: one corpus-scale hash agg to the hourly grid; both
    * marginals are windows over that bounded frame (|types| × hours),
    * so nothing after the first agg scales with data. */
  def seasonal(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("hod", hour(col("h")).cast("long"))
    val wS = Window.partitionBy(col("event_type"), col("hod"))
    val wO = Window.partitionBy(col("event_type"))
    hourly
      .withColumn("s_num", sum(col("cnt")).over(wS))
      .withColumn("s_den", count(lit(1)).over(wS))
      .withColumn("o_num", sum(col("cnt")).over(wO))
      .withColumn("o_den", count(lit(1)).over(wO))
      .select(col("event_type"), col("h").as("hour_start"), col("hod"),
        col("cnt"),
        expr("CAST(1000000 * CAST(s_num AS DECIMAL(38,0)) * o_den" +
          " DIV (CAST(s_den AS DECIMAL(38,0)) * o_num) AS BIGINT)")
          .as("seasonal_q6"),
        expr("CAST(1000000 * CAST(cnt AS DECIMAL(38,0)) * s_den" +
          " DIV s_num AS BIGINT)").as("deseason_q6"))
  }

  /** Autocorrelation lags emitted by [[acf]]. */
  val acfLags = 5

  /** Autocorrelation sufficient statistics — the seasonality detector
    * (a daily-seasonal hourly series spikes at lag 24; here lags 1..5
    * keep the gate frame small). For each (event_type, lag k) over the
    * hourly-count series this emits the EXACT integer sufficient
    * statistics of the lag-k Pearson correlation on aligned pairs
    * (x_i, x_{i-k}): n, Σx, Σy, Σxy, Σx², Σy², and the covariance
    * numerator n·Σxy − Σx·Σy — the [[OlapQueries.corrStats]]
    * convention, so no sqrt/float enters the gate and the stats merge
    * across any partitioning. Plan: one hash agg to hourly counts
    * (bounded by the time grid), ONE per-type window computing all K
    * lags in a single pass, a map-side explode to (lag, y) pairs, and
    * a bounded |types|·K final agg. Gaps in the hourly grid are real
    * gaps: lag is "k rows earlier in the observed series" (the same
    * series [[volumeAnomaly]] emits); densify with [[gapFill]] first
    * if calendar-lag semantics are wanted. */
  def acf(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    // window lags land in plain columns first (generators cannot host
    // window expressions), then one map-side explode to (lag, y) pairs
    val lagged = (1 to acfLags).foldLeft(hourly) { (df, k) =>
      df.withColumn(s"y$k", lag(col("x"), k).over(w))
    }
    val pairs = lagged
      .select(col("event_type"), col("x"),
        explode(array((1 to acfLags).map(k =>
          struct(lit(k.toLong).as("lag"), col(s"y$k").as("y"))): _*)).as("p"))
      .select(col("event_type"), col("x"), col("p.lag"), col("p.y"))
      .filter(col("y").isNotNull)
    pairs.groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("cov_num", col("n") * col("sxy") - col("sx") * col("sy"))
  }

  /** Cross-correlation lags for [[crossCorr]]. */
  val xcorrLags = 5

  /** Cross-correlation sufficient statistics between the hourly VIEW
    * count series and the hourly PURCHASE count series at lags
    * 0..[[xcorrLags]] — "does purchase volume echo view volume k hours
    * later?", the lead-lag diagnostic behind attribution-window and
    * campaign-latency choices (the cross-series twin of [[acf]]).
    * Pair (x, y) = (views in hour h, purchases in hour h+k); hours
    * with no events at all are absent from the grid, so a pair exists
    * iff BOTH calendar hours were observed — calendar-lag semantics
    * (unlike acf's observed-sequence lag), pinned by integer
    * epoch-hour keys that both engines derive identically.
    *
    * Published as exact integer sufficient stats (n, Σx, Σy, Σxy, Σx²,
    * Σy², and the covariance numerator n·Σxy − Σx·Σy) — the consumer
    * divides; no float ever crosses the engine boundary. Plan: ONE
    * corpus-scale hash agg to the hourly grid (conditional counts for
    * both series in the same pass), then a ≤(lags+1)× map-side explode
    * and an equi-join of two calendar-bounded frames (≤ 8,784 cells a
    * year even at 100 TB — AQE broadcasts it), and a ≤(lags+1)-row
    * final aggregate. Headroom: Σxy at 100 TB ~ (10⁹)² per cell pair
    * — the BIGINT products survive to ~3·10⁹ events/hour; past that
    * the chi2 DECIMAL(38,0) pattern applies. */
  def crossCorr(spark: SparkSession, dir: String): DataFrame = {
    // persisted: both join sides read the grid, and without it Catalyst
    // re-derives each side from its own corpus scan (2x the real cost);
    // the grid itself is calendar-bounded and released below
    // (checkpoint-then-release) before the frame returns.
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(expr("unix_timestamp(date_trunc('hour', ts)) DIV 3600")
        .as("eh"))
      .agg(count(when(col("event_type") === "view", 1)).as("x"),
        count(when(col("event_type") === "purchase", 1)).as("y"))
      .persist()
    // y of hour eh re-keyed to the x-hour it pairs with at each lag:
    // eh_x = eh_y - lag (map-side explode, no window over the grid)
    val ylag = hourly
      .select(col("eh"), col("y"),
        explode(expr(s"sequence(0L, ${xcorrLags}L)")).as("lag"))
      .select((col("eh") - col("lag")).as("eh"), col("lag"), col("y"))
    // checkpoint-then-release (CacheHygieneSpec): ≤(lags+1) rows out;
    // the calendar grid must not outlive the call
    graft.Conf.checkpointThenRelease(
      hourly.select(col("eh"), col("x")).join(ylag, "eh")
        .groupBy("lag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("cov_num",
          col("n") * col("sxy") - col("sx") * col("sy")),
      hourly)
  }

  /** CUSUM changepoint scan (Page 1954) over the daily revenue series,
    * one series per order priority: S_t = Σ_{i≤t}(x_i − x̄) peaks at
    * the most likely level-shift point — the structural-break detector
    * behind data-quality regression alarms ("did volume step-change on
    * deploy day?"). Published scaled by n to stay integer-exact:
    * n·S_t = n·prefix_t − t·total (no division, order-independent);
    * `is_peak` marks |n·S_t| maxima (ties keep every tied day —
    * deterministic, data-defined). Plan: one corpus-scale hash agg to
    * the (priority × day) grid; rank/prefix/total are windows over
    * that bounded calendar frame (days × priorities, NOT rows — a
    * 100 TB year is still ≤ 366 cells per series). Headroom:
    * n·prefix ≤ days·Σcents ~ 10^16 at sf0.1; a 1000× corpus lifts
    * the products to DECIMAL(38,0) (the chi2 pattern, 20 digits
    * spare). */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderdate").as("day"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .as("rev_cents"))
    val wOrd = Window.partitionBy("o_orderpriority").orderBy("day")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wT = Window.partitionBy("o_orderpriority")
    daily
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("pfx", sum(col("rev_cents")).over(wCum))
      .withColumn("n", count(lit(1)).over(wT))
      .withColumn("tot", sum(col("rev_cents")).over(wT))
      .withColumn("cusum_scaled",
        col("n") * col("pfx") - col("rn") * col("tot"))
      .withColumn("is_peak",
        abs(col("cusum_scaled")) === max(abs(col("cusum_scaled"))).over(wT))
      .select("o_orderpriority", "day", "rev_cents", "cusum_scaled",
        "is_peak")
  }

  /** Linear interpolation across the empty buckets of the hourly
    * revenue grid — the third standard repair next to [[gapFill]]
    * (zeros) and [[fillForward]] (carry-last): a missing bucket gets
    * the straight line between its nearest observed neighbors, the
    * fill a rate/price series wants where a zero would be a lie.
    * Hourly sums are integer cents, and the published value is the
    * exact rational `(prev·(next_rn−rn) + next·(rn−prev_rn)) /
    * (next_rn−prev_rn)` quantized `·10^6 DIV` — all-integer (cents
    * ~10^7 · 10^6 · gap ≤ 10^3 stays far inside int64), truncation
    * toward zero in both engines on these positive series, no float
    * anywhere. Grid rows before the first / after the last observed
    * bucket cannot exist (the grid spans each type's observed range).
    * Plan: one corpus-scale hash agg to hourly cents; the grid
    * generation, neighbor windows (last/first IGNORE NULLS over the
    * per-type order) and the interpolation itself all operate on the
    * bounded calendar frame (|types| × hours), so nothing after the
    * first agg scales with data — the [[seasonal]] shape. */
  def interpolate(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val grid = hourly.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
          .as("h"))
    val wOrd = Window.partitionBy("event_type").orderBy("h")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wNext = wOrd.rowsBetween(1, Window.unboundedFollowing)
    grid.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("pc", last(col("cents"), ignoreNulls = true).over(wPrev))
      .withColumn("pr", last(when(col("cents").isNotNull, col("rn")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nc", first(col("cents"), ignoreNulls = true).over(wNext))
      .withColumn("nr", first(when(col("cents").isNotNull, col("rn")),
        ignoreNulls = true).over(wNext))
      .select(col("event_type"), col("h").as("hour_start"),
        col("cents").isNotNull.as("observed"),
        when(col("cents").isNotNull, col("cents") * lit(1000000L))
          .otherwise(expr(
            "(1000000 * (pc * (nr - rn) + nc * (rn - pr))) DIV (nr - pr)"))
          .as("interp_q6"))
  }

  /** Week-over-week growth per event type — the trend readout every
    * weekly report opens with: this ISO-week's event count and value
    * sum against the previous week's, growth published as the exact
    * integer ratio `10^6·this DIV prev` (q6 of 1.0 = flat; no float,
    * no null-division — the first week of each series has no prior
    * and is dropped by the lag's null). Weeks are epoch-day DIV 7
    * (fixed 7-day buckets from the epoch — no calendar-ISO
    * disagreement between engines). Plan: one corpus-scale hash agg
    * to the (type, week) grid; the lag is one window over that
    * bounded calendar frame. */
  def wowGrowth(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)" +
          " DIV 7").as("week"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val w = Window.partitionBy("event_type").orderBy("week")
    weekly
      .withColumn("prev_cnt", lag(col("cnt"), 1).over(w))
      .withColumn("prev_cents", lag(col("cents"), 1).over(w))
      .filter(col("prev_cnt").isNotNull)
      .selectExpr("event_type", "week", "cnt", "cents",
        "(1000000 * cnt) DIV prev_cnt AS cnt_wow_q6",
        "(1000000 * cents) DIV prev_cents AS cents_wow_q6")
  }

  /** Sweep-line interval-overlap aggregation — peak concurrency per
    * day: every event opens a 30-minute activity interval, and the
    * classic sweep turns overlap counting into a prefix sum over
    * boundary DELTAS (+1 at open, −1 at close), never an
    * interval-vs-interval join. Deltas hash-aggregate per boundary
    * second (map-side combine; frame bounded by distinct seconds, a
    * calendar-bounded set, not by |events|); the global ordered prefix
    * sum then runs CHUNKED, exactly the `window_running_sum_chunked`
    * two-pass — a within-day window plus a carry that is the running
    * sum of previous days' net totals. The carry window is global but
    * its frame is one row per DAY (calendar-bounded: 365 rows/year at
    * any corpus size) — the documented bounded-global-window pattern.
    * Integer deltas make the sum exact and engine-independent. The
    * capacity-planning readout: peak concurrent activity per day. */
  def concurrency(spark: SparkSession, dir: String): DataFrame = {
    val holdSecs = 1800
    val ev = Tables.load(spark, dir, "events")
      .select(date_trunc("second", col("ts")).as("s"))
    // both boundaries via ONE map-side explode — a union of two selects
    // over `ev` would scan the table twice
    val deltas = ev.select(explode(array(
        struct(col("s").as("t"), lit(1L).as("d")),
        struct((col("s") + expr(s"interval $holdSecs seconds")).as("t"),
          lit(-1L).as("d")))).as("e"))
      .select(col("e.t").as("t"), col("e.d").as("d"))
      .groupBy("t").agg(sum("d").as("net"))
      .withColumn("day", date_trunc("day", col("t")))
    val wLocal = Window.partitionBy(col("day")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = deltas.withColumn("local_run", sum("net").over(wLocal))
    val wCarry = Tables.boundedGlobalWindow(col("cday")) // bounded: <= calendar days
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = deltas.groupBy(col("day").as("cday"))
      .agg(sum("net").as("dtot"))
      .withColumn("carry", sum("dtot").over(wCarry))
    local.join(carry, local("day") === carry("cday"))
      .withColumn("conc", col("local_run") + coalesce(col("carry"), lit(0L)))
      .groupBy(local("day"))
      .agg(max("conc").as("max_concurrency"),
        count(lit(1)).as("n_boundaries"))
  }

  /** Trailing-window size (hourly points) and epoch origin for
    * [[rollingSlope]]. Subtracting the corpus origin keeps x small
    * enough that every window moment stays in exact LONG arithmetic. */
  val slopeWin = 24
  val slopeEpoch0 = 1704067200L // 2024-01-01 00:00:00 UTC

  /** Rolling OLS regression slope — "is this metric trending, right
    * now?": per event type, the least-squares slope of hourly revenue
    * (cents) against time over the trailing [[slopeWin]] hours, plus
    * r² for trend strength. The streaming-dashboard twin of
    * [[acf]]'s global diagnostics; CUSUM ([[cusumChangepoint]])
    * detects level shifts, this detects drifts.
    *
    * Exactness: x = hours since [[slopeEpoch0]] (small ints), y =
    * exact cents; all five window moments (Σx, Σy, Σxy, Σx², Σy²) are
    * integer window sums over a ROWS frame — order pinned by the
    * strictly-increasing hourly grid — and
    *   slope_q6 = 1e6·(nΣxy − ΣxΣy) DIV (nΣx² − (Σx)²)
    *   r2_q6    = 1e6·num² DIV (den·(nΣy² − (Σy)²))    (NULL when y
    *              is constant — 0/0 has no trend strength to report)
    * with signed DIV truncating toward zero in BOTH engines (verified:
    * DuckDB `//` = −3 on −7/2 and −1 on −7 % 2, same as Spark DIV/% —
    * re-measured r7 against a flagged floor-division concern: DuckDB's
    * `//` is NOT Python floor division, so the signed staged quotient
    * q1 is engine-identical and no sign-split is needed). Squares ride
    * DECIMAL(38,0)/HUGEINT.
    *
    * Plan: one scan → (type, hour) hash agg (grid-bounded), then ONE
    * window pass per type partition — no self-join, no explode; the
    * trailing frame makes incremental maintenance trivial (each new
    * hour shifts five sums). Full windows only (rn ≥ win). */
  def rollingSlope(spark: SparkSession, dir: String): DataFrame =
    rollingSlopeFrom(Tables.load(spark, dir, "events"))

  /** [[rollingSlope]] over an injectable events frame (event_type, ts,
    * value) — split out so TimeSeriesSpec can drive the EXACT staged
    * pipeline over a synthetic NEGATIVE-trend series: the signed
    * staged quotients (q1 < 0, inexactly divisible) ride Spark DIV's
    * truncate-toward-zero, which the r7 verdict asked to pin by test
    * rather than by the Scaladoc note above (DuckDB `//` agreement is
    * pinned by the twin fixture in tools/selfcheck.py). */
  private[graft] def rollingSlopeFrom(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      .withColumn("x",
        expr(s"(unix_timestamp(h) - $slopeEpoch0) DIV 3600"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("x"))
      .rowsBetween(-(slopeWin - 1), 0)
    val wr = Window.partitionBy(col("event_type")).orderBy(col("x"))
    hourly
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy",
        sum((col("y") * col("y"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).over(w))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") >= slopeWin)
      .withColumn("num",
        expr("CAST(n * sxy - sx * sy AS DECIMAL(38,0))"))
      .withColumn("den",
        expr("CAST(n * sxx - sx * sx AS DECIMAL(38,0))"))
      .withColumn("deny", expr("CAST(n AS DECIMAL(38,0)) * syy " +
        "- CAST(sy AS DECIMAL(38,0)) * sy"))
      // r2_q6 is STAGED: q1 = (1e6·num) DIV den first, then
      // (q1·num) DIV deny — not the one-shot 1e6·num²/(den·deny),
      // whose num² product is the tightest overflow in the file (a
      // corpus with ~1e12-cent hourly sums squares past DECIMAL(38,0)
      // and, with ANSI off, silently NULLs). Staging keeps the largest
      // intermediate ≤ 1e6·deny by Cauchy–Schwarz (num² ≤ den·deny),
      // ~den× more headroom; the ≤1-ulp truncation difference is
      // identical in both engines (DuckDB runs the same staged form).
      // q1 lands in LONG (Spark DIV), so it must re-enter
      // DECIMAL(38,0) before the second product or q1·num wraps.
      .withColumn("q1", expr("(1000000 * num) DIV den"))
      .selectExpr("event_type", "x", "n", "sy",
        "CAST(q1 AS BIGINT) AS slope_q6",
        "CASE WHEN deny = 0 THEN NULL " +
          "ELSE CAST((CAST(q1 AS DECIMAL(38,0)) * num) DIV deny AS BIGINT)" +
          " END AS r2_q6")
  }

  /** Band width (σ multiples) for [[bollinger]], as k². */
  val bollK2 = 4L

  /** Bollinger-band breach detection — the stock-charting staple
    * (Bollinger 1980s), exactly the alerting query the reference's
    * domain runs on close prices: is the CURRENT hourly value more
    * than k·σ from its trailing-window mean? Complements
    * [[volumeAnomaly]] (global 3σ) and [[cusumChangepoint]] (level
    * shifts) with a LOCAL adaptive envelope.
    *
    * No square root ever happens: the gate publishes the squared
    * z-score as the exact integer
    *   z²_q6 = 1e6·(n−1)·(n·y − Σy)² DIV (n·(n·Σy² − (Σy)²))
    * (cross-multiplied from (y−ȳ)²/s², all DECIMAL(38,0)/HUGEINT
    * products, one final DIV on non-negative operands) and the breach
    * bit is the DERIVED comparison z²_q6 > [[bollK2]]·1e6 — so the
    * flag is provably consistent with the published statistic in both
    * engines. NULL z² on a constant window (σ = 0: the envelope is
    * degenerate, not breached). Same plan shape as [[rollingSlope]]:
    * grid-bounded hash agg, ONE window pass, full windows only. */
  def bollinger(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      .withColumn("x",
        expr(s"(unix_timestamp(h) - $slopeEpoch0) DIV 3600"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("x"))
      .rowsBetween(-(slopeWin - 1), 0)
    val wr = Window.partitionBy(col("event_type")).orderBy(col("x"))
    hourly
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("syy",
        sum((col("y") * col("y"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).over(w))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") >= slopeWin)
      .withColumn("dev",
        expr("CAST(n AS DECIMAL(38,0)) * y - sy"))
      .withColumn("varn", expr("CAST(n AS DECIMAL(38,0)) * syy " +
        "- CAST(sy AS DECIMAL(38,0)) * sy"))
      .selectExpr("event_type", "x", "y", "n",
        "CAST(1000000 * sy DIV CAST(n AS DECIMAL(38,0)) AS BIGINT)" +
          " AS mean_q6",
        "CASE WHEN varn = 0 THEN NULL ELSE " +
          "CAST((1000000 * (n - 1) * dev * dev) DIV " +
          "(CAST(n AS DECIMAL(38,0)) * varn) AS BIGINT) END AS z2_q6",
        s"coalesce(CASE WHEN varn = 0 THEN NULL ELSE " +
          s"CAST((1000000 * (n - 1) * dev * dev) DIV " +
          s"(CAST(n AS DECIMAL(38,0)) * varn) AS BIGINT) END " +
          s"> ${bollK2 * 1000000L}, false) AS breach")
  }

  /** Time-weighted average value per event type — the right mean for
    * an IRREGULARLY-sampled series (a value holds until the next
    * observation, so it must be weighted by how long it held; the
    * plain mean over-weights bursts — compare `mean_cents` vs
    * `twa_cents` in the output). Plan: one scan, ONE window pass per
    * type for the next-observation timestamp (lead over the
    * (epoch, event_id) order — the unique tiebreak makes equal-second
    * neighbors contribute zero width deterministically), then a hash
    * agg. Exact: cents × seconds products summed as BIGINT (bounded
    * by max_cents·span ≈ 1.3e11 per type on this corpus; at open-ended
    * scale the product column re-enters DECIMAL(38,0) the same way the
    * slope moments do), one final non-negative DIV per group. */
  def twa(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("es"),
        round(col("value") * 100).cast("long").as("v_cents"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("es"), col("event_id"))
    e.withColumn("ds", lead(col("es"), 1).over(w) - col("es"))
      .filter(col("ds").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("ds")).as("span_s"),
        sum(col("v_cents") * col("ds")).as("vt_sum"),
        sum(col("v_cents")).as("v_sum"))
      // NULLIF guard: a type whose every retained interval is zero
      // seconds (all events inside one truncated second) would make
      // Spark DIV yield NULL but DuckDB // RAISE — guard both sides
      // identically so the engines stay divergence-free off-corpus
      .selectExpr("event_type", "n_intervals", "span_s",
        "CAST(vt_sum DIV NULLIF(span_s, 0) AS BIGINT) AS twa_cents",
        "CAST(v_sum DIV n_intervals AS BIGINT) AS mean_cents")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_twa" -> twa _,
    "ts_bollinger" -> bollinger _,
    "ts_rolling_slope" -> rollingSlope _,
    "ts_concurrency" -> concurrency _,
    "ts_wow_growth" -> wowGrowth _,
    "ts_interpolate" -> interpolate _,
    "ts_changepoint" -> cusumChangepoint _,
    "ts_acf" -> acf _,
    "ts_crosscorr" -> crossCorr _,
    "ts_gap_fill" -> gapFill _,
    "ts_fill_forward" -> fillForward _,
    "ts_ohlc" -> ohlcResample _,
    "ts_anomaly" -> volumeAnomaly _,
    "ts_ewma" -> ewma _,
    "ts_holt" -> holt _,
    "ts_backtest" -> backtest _,
    "ts_seasonal" -> seasonal _)

  val oracles: Map[String, String] = Map(
    "ts_backtest" -> {
      // same widened terms as holtSql; sums in HUGEINT, abs before //
      def terms(ws: Seq[java.math.BigDecimal]) = ws.zipWithIndex.map {
        case (wt, j) =>
          s"coalesce(lag(CAST(x AS DECIMAL(22,4)), $j) OVER w" +
            s" * ${wt.toPlainString}, 0)"
      }.mkString("\n  + ")
      val (lw, bw) = holtWeights
      s"""WITH h AS (
         |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP)
         |      AS h,
         |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS x
         |  FROM events GROUP BY 1, 2),
         |f AS (SELECT event_type, x,
         |    CAST(trunc(CAST((${terms(lw)}) + (${terms(bw)})
         |      AS DECIMAL(30,20)) * 1000000) AS BIGINT) AS fc_q6,
         |    lead(x) OVER w AS x_next
         |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY h)),
         |e AS (SELECT event_type,
         |    CAST(CAST(x_next AS DECIMAL(22,4)) * 1000000 AS HUGEINT)
         |      AS a_q6,
         |    CAST(CAST(x AS DECIMAL(22,4)) * 1000000 AS HUGEINT)
         |      AS naive_q6,
         |    CAST(fc_q6 AS HUGEINT) AS fc_q6
         |  FROM f WHERE x_next IS NOT NULL),
         |g AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
         |    sum(abs(a_q6 - fc_q6)) AS sae,
         |    sum(abs(a_q6 - naive_q6)) AS sae_naive,
         |    sum(a_q6) AS sa
         |  FROM e GROUP BY 1)
         |SELECT event_type, CAST(n AS BIGINT) AS n_points,
         |  CAST(sae // n AS BIGINT) AS mae_q6,
         |  CAST((1000000 * sae) // nullif(sa, 0) AS BIGINT) AS wape_q6,
         |  CAST((1000 * sae) // nullif(sae_naive, 0) AS BIGINT)
         |    AS mase_q3
         |FROM g""".stripMargin
    },
    "ts_bollinger" ->
      s"""WITH hourly AS (SELECT event_type,
         |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |xg AS (SELECT event_type,
         |    (CAST(epoch(h) AS BIGINT) - $slopeEpoch0) // 3600 AS x, y
         |  FROM hourly),
         |f AS (SELECT event_type, x, y,
         |    CAST(count(*) OVER w AS BIGINT) AS n,
         |    CAST(sum(y) OVER w AS BIGINT) AS sy,
         |    CAST(sum(CAST(y AS HUGEINT) * y) OVER w AS HUGEINT) AS syy,
         |    row_number() OVER
         |      (PARTITION BY event_type ORDER BY x) AS rn
         |  FROM xg
         |  WINDOW w AS (PARTITION BY event_type ORDER BY x
         |    ROWS BETWEEN ${slopeWin - 1} PRECEDING AND CURRENT ROW)),
         |g AS (SELECT *,
         |    CAST(n AS HUGEINT) * y - sy AS dev,
         |    CAST(n AS HUGEINT) * syy
         |      - CAST(sy AS HUGEINT) * sy AS varn
         |  FROM f WHERE rn >= $slopeWin),
         |z AS (SELECT event_type, x, y, n,
         |    CAST((1000000 * sy) // n AS BIGINT) AS mean_q6,
         |    CASE WHEN varn = 0 THEN NULL ELSE
         |      CAST((1000000 * (n - 1) * dev * dev) //
         |        (CAST(n AS HUGEINT) * varn) AS BIGINT) END AS z2_q6
         |  FROM g)
         |SELECT event_type, x, y, n, mean_q6, z2_q6,
         |  coalesce(z2_q6 > ${bollK2 * 1000000L}, false) AS breach
         |FROM z""".stripMargin,
    "ts_rolling_slope" ->
      s"""WITH hourly AS (SELECT event_type,
         |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |xg AS (SELECT event_type,
         |    (CAST(epoch(h) AS BIGINT) - $slopeEpoch0) // 3600 AS x, y
         |  FROM hourly),
         |f AS (SELECT event_type, x, y,
         |    CAST(count(*) OVER w AS BIGINT) AS n,
         |    CAST(sum(x) OVER w AS BIGINT) AS sx,
         |    CAST(sum(y) OVER w AS BIGINT) AS sy,
         |    CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
         |    CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
         |    CAST(sum(CAST(y AS HUGEINT) * y) OVER w AS HUGEINT) AS syy,
         |    row_number() OVER
         |      (PARTITION BY event_type ORDER BY x) AS rn
         |  FROM xg
         |  WINDOW w AS (PARTITION BY event_type ORDER BY x
         |    ROWS BETWEEN ${slopeWin - 1} PRECEDING AND CURRENT ROW)),
         |g AS (SELECT *,
         |    CAST(n * sxy - sx * sy AS HUGEINT) AS num,
         |    CAST(n * sxx - sx * sx AS HUGEINT) AS den,
         |    CAST(n AS HUGEINT) * syy
         |      - CAST(sy AS HUGEINT) * sy AS deny
         |  FROM f WHERE rn >= $slopeWin),
         |q AS (SELECT *, (1000000 * num) // den AS q1 FROM g)
         |SELECT event_type, x, n, sy,
         |  CAST(q1 AS BIGINT) AS slope_q6,
         |  CASE WHEN deny = 0 THEN NULL
         |    ELSE CAST((q1 * num) // deny AS BIGINT)
         |  END AS r2_q6
         |FROM q""".stripMargin,
    "ts_concurrency" ->
      """WITH e AS (SELECT date_trunc('second', CAST(ts AS TIMESTAMP)) AS s
        |  FROM events),
        |d AS (SELECT s AS t, 1 AS d FROM e
        |  UNION ALL
        |  SELECT s + INTERVAL 1800 SECOND, -1 FROM e),
        |n AS (SELECT t, CAST(sum(d) AS BIGINT) AS net FROM d GROUP BY t),
        |r AS (SELECT t, sum(net) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM n)
        |SELECT CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
        |  CAST(max(conc) AS BIGINT) AS max_concurrency,
        |  count(*) AS n_boundaries
        |FROM r GROUP BY 1""".stripMargin,
    "ts_wow_growth" ->
      """WITH wk AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) // 7 AS week,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT *,
        |    lag(cnt) OVER (PARTITION BY event_type ORDER BY week)
        |      AS prev_cnt,
        |    lag(cents) OVER (PARTITION BY event_type ORDER BY week)
        |      AS prev_cents
        |  FROM wk)
        |SELECT event_type, week, cnt, cents,
        |  CAST((1000000 * cnt) // prev_cnt AS BIGINT) AS cnt_wow_q6,
        |  CAST((1000000 * cents) // prev_cents AS BIGINT) AS cents_wow_q6
        |FROM l WHERE prev_cnt IS NOT NULL""".stripMargin,
    "ts_interpolate" ->
      """WITH h AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS h0, max(h) AS h1
        |  FROM h GROUP BY 1),
        |g AS (SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM b),
        |j AS (SELECT g.event_type, g.h, cents
        |  FROM g LEFT JOIN h ON g.event_type = h.event_type AND g.h = h.h),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY h) AS BIGINT) AS rn FROM j),
        |w AS (SELECT *,
        |    last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS pc,
        |    last_value(CASE WHEN cents IS NOT NULL THEN rn END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY h
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pr,
        |    first_value(cents IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY h ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS nc,
        |    first_value(CASE WHEN cents IS NOT NULL THEN rn END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY h
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nr
        |  FROM r)
        |SELECT event_type, h AS hour_start, cents IS NOT NULL AS observed,
        |  CASE WHEN cents IS NOT NULL THEN cents * 1000000
        |    ELSE (1000000 * (pc * (nr - rn) + nc * (rn - pr))) // (nr - pr)
        |  END AS interp_q6
        |FROM w""".stripMargin,
    "ts_changepoint" ->
      """WITH d AS (SELECT o_orderpriority, o_orderdate AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY day) AS BIGINT) AS rn,
        |    CAST(sum(rev_cents) OVER (PARTITION BY o_orderpriority
        |      ORDER BY day) AS BIGINT) AS pfx,
        |    CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
        |      AS n,
        |    CAST(sum(rev_cents) OVER (PARTITION BY o_orderpriority)
        |      AS BIGINT) AS tot
        |  FROM d),
        |c AS (SELECT *, n * pfx - rn * tot AS cusum_scaled FROM w)
        |SELECT o_orderpriority, day, rev_cents, cusum_scaled,
        |  abs(cusum_scaled) = max(abs(cusum_scaled))
        |    OVER (PARTITION BY o_orderpriority) AS is_peak
        |FROM c""".stripMargin,
    "ts_acf" -> {
      val lagSelects = (1 to acfLags).map(k =>
        s"SELECT event_type, x, $k AS lag, " +
          s"lag(x, $k) OVER (PARTITION BY event_type ORDER BY h) AS y FROM h")
        .mkString("\nUNION ALL\n")
      s"""WITH h AS (
         |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
         |    count(*) AS x
         |  FROM events GROUP BY 1, 2),
         |p AS ($lagSelects)
         |SELECT event_type, CAST(lag AS BIGINT) AS lag, count(*) AS n,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x * y) AS BIGINT) AS sxy,
         |  CAST(sum(x * x) AS BIGINT) AS sxx,
         |  CAST(sum(y * y) AS BIGINT) AS syy,
         |  count(*) * CAST(sum(x * y) AS BIGINT)
         |    - CAST(sum(x) AS BIGINT) * CAST(sum(y) AS BIGINT) AS cov_num
         |FROM p WHERE y IS NOT NULL GROUP BY 1, 2""".stripMargin
    },
    // calendar-lag pairing on integer epoch-hour keys; a pair exists
    // iff both hours were observed (matches the Spark equi-join)
    "ts_crosscorr" ->
      s"""WITH h AS (
         |  SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))
         |      AS BIGINT) // 3600 AS eh,
         |    CAST(count(CASE WHEN event_type = 'view' THEN 1 END)
         |      AS BIGINT) AS x,
         |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
         |      AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |p AS (
         |  SELECT u.lag AS lag, a.x AS x, b.y AS y
         |  FROM h a
         |  CROSS JOIN unnest([${(0 to xcorrLags).mkString(", ")}]) AS u(lag)
         |  JOIN h b ON b.eh = a.eh + u.lag)
         |SELECT CAST(lag AS BIGINT) AS lag, count(*) AS n,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x * y) AS BIGINT) AS sxy,
         |  CAST(sum(x * x) AS BIGINT) AS sxx,
         |  CAST(sum(y * y) AS BIGINT) AS syy,
         |  count(*) * CAST(sum(x * y) AS BIGINT)
         |    - CAST(sum(x) AS BIGINT) * CAST(sum(y) AS BIGINT) AS cov_num
         |FROM p GROUP BY 1""".stripMargin,
    "ts_gap_fill" ->
      """WITH h AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
        |    count(*) AS cnt,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS h0, max(h) AS h1
        |  FROM h GROUP BY 1),
        |g AS (SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM b)
        |SELECT g.event_type, g.h AS hour_start,
        |  CAST(coalesce(cnt, 0) AS BIGINT) AS cnt,
        |  coalesce(val_sum, 0.0) AS val_sum
        |FROM g LEFT JOIN h ON g.event_type = h.event_type AND g.h = h.h""".stripMargin,
    "ts_twa" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP)))
        |      AS BIGINT) AS es,
        |    CAST(round(value * 100) AS BIGINT) AS v_cents
        |  FROM events),
        |d AS (SELECT event_type, v_cents,
        |    lead(es, 1) OVER (PARTITION BY event_type
        |      ORDER BY es, event_id) - es AS ds,
        |    es
        |  FROM e)
        |SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(ds) AS BIGINT) AS span_s,
        |  CAST(sum(v_cents * ds) // NULLIF(sum(ds), 0) AS BIGINT) AS twa_cents,
        |  CAST(sum(v_cents) // count(*) AS BIGINT) AS mean_cents
        |FROM d WHERE ds IS NOT NULL GROUP BY event_type""".stripMargin,
    "ts_ohlc" ->
      """SELECT event_type,
        |  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  arg_min(value, event_id) AS open,
        |  max(value) AS high, min(value) AS low,
        |  arg_max(value, event_id) AS close,
        |  count(*) AS volume
        |FROM events GROUP BY 1, 2""".stripMargin,
    "ts_anomaly" ->
      """WITH h AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |e AS (SELECT *, CAST(epoch(h) AS BIGINT) // 3600 AS eh FROM h),
        |w AS (SELECT event_type, h, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY eh
        |      RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT)
        |      AS trail_sum,
        |    count(cnt) OVER (PARTITION BY event_type ORDER BY eh
        |      RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_n
        |  FROM e)
        |SELECT event_type, h AS hour_start, cnt, trail_sum, trail_n,
        |  cnt * trail_n > trail_sum * 2 AS anomaly
        |FROM w WHERE trail_n > 0""".stripMargin,
    "ts_ewma" -> ewmaSql,
    "ts_holt" -> holtSql,
    "ts_seasonal" ->
      """WITH h AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, h, CAST(hour(h) AS BIGINT) AS hod,
        |    CAST(cnt AS BIGINT) AS cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type, hour(h))
        |      AS HUGEINT) AS s_num,
        |    CAST(count(*) OVER (PARTITION BY event_type, hour(h))
        |      AS HUGEINT) AS s_den,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS HUGEINT)
        |      AS o_num,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS HUGEINT)
        |      AS o_den
        |  FROM h)
        |SELECT event_type, h AS hour_start, hod, cnt,
        |  CAST(1000000 * s_num * o_den // (s_den * o_num) AS BIGINT)
        |    AS seasonal_q6,
        |  CAST(1000000 * CAST(cnt AS HUGEINT) * s_den // s_num AS BIGINT)
        |    AS deseason_q6
        |FROM m""".stripMargin,
    "ts_fill_forward" ->
      """SELECT event_id, user_id,
        |  CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_purchase
        |FROM events""".stripMargin)
}
