package graft.analytics

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimizer-grade table statistics — the ANALYZE TABLE side of the
  * engine. A cost-based optimizer (join reorder, broadcast decisions,
  * skew detection) runs on exactly these numbers: row counts, per-column
  * null counts, distinct counts, min/max. At 100 TB the stats job IS a
  * query — it must be one scan, not one scan per column.
  */
object StatsQueries extends graft.GateModule {

  /** Columns profiled by [[analyzeTable]].
    *
    * CONSTRAINT: the melt profile counts distinct STRING RENDERINGS
    * (`cast(c as string)`), while the DuckDB oracle counts
    * `count(DISTINCT c)` on raw values — equal only when Spark's
    * string cast is injective AND render-identical to DuckDB's for
    * every type listed here. That holds for the current set (strings,
    * bigint, date) but NOT for double/decimal/timestamp (trailing-zero
    * and scientific-notation rendering differ between engines, and
    * -0.0/0.0 collapse). Adding such a column requires melting a typed
    * struct or a hash of the raw value instead of its string form. */
  val analyzeCols = Seq("l_returnflag", "l_linestatus", "l_suppkey",
    "l_shipdate")

  /** One-scan multi-column profile of `lineitem`, one output row per
    * column: rows, nulls, exact ndv, lexicographic min/max (values as
    * strings so heterogeneous column types share one schema — the
    * catalog-stats storage shape). Exact ndv stays oracle-checkable
    * without the n-distinct Expand rewrite: the melt below shuffles
    * distinct (column, value) pairs instead of |cols|+1 copies of the
    * table. The production variant swaps `approx_count_distinct`
    * (HLL, single-stage, no melt) with identical dataflow; the HLL
    * error-bound pattern is gated separately (`agg_approx_distinct`).
    * Degenerate-input note: on an EMPTY table the melt yields zero
    * rows where a wide agg would yield one all-zero row per column —
    * profile semantics over an empty relation are "no columns to
    * report", and the gate corpus is never empty. */
  def analyzeTable(spark: SparkSession, dir: String): DataFrame =
    profile(Tables.load(spark, dir, "lineitem"), analyzeCols)

  /** The melt profile over ANY frame — the reusable core behind the
    * `stats_analyze` gate and [[statsAwareJoin]]'s size estimate.
    * The injective-string-cast constraint documented at
    * [[analyzeCols]] applies to whatever columns are passed here. */
  def profile(li: DataFrame, cols: Seq[String]): DataFrame = {
    // Melt-profile: explode each row to (column_name, value-as-string)
    // INSIDE codegen, then aggregate twice. A flat multi-countDistinct
    // agg plans via Expand — |cols|+1 copies of every row through one
    // shuffle (5×|T| here); the melt's first groupBy dedups map-side,
    // so the shuffle carries only the per-partition-distinct
    // (column, value) pairs — bounded by Σ ndv(c) per partition, not
    // by |T|. At 100 TB that is the difference between shuffling the
    // table five times and shuffling the (tiny) value dictionaries.
    // Null values survive as their own group so null counts fall out
    // of the same pass.
    val melted = li.select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"),
          col(c).cast("string").as("v"))): _*)).as("s"))
      .select(col("s.*"))
    melted.groupBy("column_name", "v").agg(count(lit(1L)).as("cnt"))
      .groupBy("column_name")
      .agg(sum("cnt").as("n_rows"),
        sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_nulls"),
        count(col("v")).as("ndv"), // one row per distinct non-null value
        min("v").as("min_s"), max("v").as("max_s"))
  }

  /** Size estimate (bytes) from an [[analyzeTable]]-shaped profile:
    * rows = the per-column row count (identical across columns), bytes
    * per row ≈ Σ_cols avg(len(min_s), len(max_s)) + a fixed per-column
    * overhead. The min/max rendering lengths are a crude width proxy —
    * fine for a broadcast decision, which only needs order-of-magnitude
    * accuracy against a threshold set with 10× headroom (the same
    * fidelity class as Catalyst's own sizeInBytes propagation). */
  def estimateBytes(profile: Array[org.apache.spark.sql.Row]): Long = {
    require(profile.nonEmpty, "empty profile: run the analyze pass first")
    val rows = profile.map(_.getLong(1)).max
    val perRow = profile.map { r =>
      // profile schema: (column_name, n_rows, n_nulls, ndv, min_s, max_s)
      val w = Seq(4, 5).map(i =>
        Option(r.getString(i)).map(_.length).getOrElse(0))
      w.sum / 2 + 8 // avg rendered width + fixed per-column overhead
    }.sum
    rows * perRow.toLong
  }

  /** The stats→planner wiring: join `fact` to `dim` with the broadcast
    * decision made from the ENGINE'S OWN profile of the dim (the
    * [[analyzeTable]] melt shape), not from file listings — exactly
    * what a catalog-backed CBO does, expressed as a first-class
    * operator so frames that never touch the metastore (mid-pipeline
    * results, external scans) still get stats-driven planning. The
    * profile is computed by the caller (one scan, reusable across many
    * joins); the decision itself is free. Broadcast only under the
    * session's own `autoBroadcastJoinThreshold`, so operator and
    * planner agree on what "small" means. */
  def statsAwareJoin(spark: SparkSession, fact: DataFrame, dim: DataFrame,
      keys: Seq[String], dimProfile: Array[org.apache.spark.sql.Row]): DataFrame = {
    val threshold = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    val est = estimateBytes(dimProfile)
    if (threshold > 0 && est <= threshold)
      fact.join(broadcast(dim), keys)
    else fact.join(dim, keys)
  }

  /** AMS/CMS join-size estimation (Alon-Matias-Szegedy moments;
    * Cormode-Muthukrishnan inner products) — the sketch a CBO consults
    * before picking a join strategy: |A ⋈ B| on key k is the inner
    * product Σ_k f_A(k)·f_B(k), and the CMS row-wise inner product
    * Σ_j cA[r][j]·cB[r][j] OVERESTIMATES it for every hash row r
    * (colliding keys only add cross terms), so min over rows is a
    * one-sided estimate — same guarantee family as `agg_cms`. Both
    * sketches build in one map-side pass each (d literal-hash rows per
    * input row, hash-agg to ≤ d·w cells), merge by cell-wise addition
    * across any partitioning, and the estimate itself joins two d·w
    * grids — the whole decision costs sketch-size work, never a real
    * join. The gate estimates |events ⋈ orders| on user/customer key
    * and emits per-row estimates, their min, the exact join size, and
    * the guarantee bit; everything is integer-exact LCG arithmetic, so
    * DuckDB rebuilds the identical grids. */
  def joinSizeEstimate(spark: SparkSession, dir: String): DataFrame = {
    import OlapQueries.{cmsA, cmsB, cmsDepth, cmsP, cmsWidth}
    def bucket(i: Int, c: Column): Column =
      pmod(pmod(lit(cmsA(i)) * c + lit(cmsB(i)), lit(cmsP)), lit(cmsWidth))
    def sketch(keyed: DataFrame, k: String): DataFrame = keyed
      .select(explode(array((0 until cmsDepth).map(i =>
        struct(lit(i).as("r"), bucket(i, col(k)).as("b"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val ev = Tables.load(spark, dir, "events").select(col("user_id"))
    val od = Tables.load(spark, dir, "orders").select(col("o_custkey"))
    val est = sketch(ev, "user_id").as("a")
      .join(sketch(od, "o_custkey").withColumnRenamed("c", "c2").as("bb"),
        Seq("r", "b"))
      .groupBy("r").agg(sum(col("c") * col("c2")).as("est_r"))
    // exact inner product from the two per-key frequency maps — a
    // grouped join, never the materialized join itself; ONE long
    // reaches the driver (the Zorder scalar pattern — a 1-row
    // crossJoin(broadcast) would plan as the banned BNLJ)
    val exactJoin: Long = ev.groupBy("user_id").agg(count(lit(1)).as("fa"))
      .join(od.groupBy("o_custkey").agg(count(lit(1)).as("fb")),
        col("user_id") === col("o_custkey"))
      .agg(coalesce(sum(col("fa") * col("fb")), lit(0L)).as("exact_join"))
      .collect()(0).getLong(0)
    val wAll = graft.Tables.boundedGlobalFrame
    est.withColumn("est_min", min(col("est_r")).over(wAll))
      .select(col("r"), col("est_r"), col("est_min"),
        lit(exactJoin).as("exact_join"))
      .withColumn("overest_ok", col("est_r") >= col("exact_join"))
  }

  /** Chi-square contingency statistic — the independence test behind
    * every A/B readout and feature-selection pass, here over the
    * (event_type × ISO day-of-week) contingency table: is activity mix
    * independent of weekday? Per-cell contribution (O−E)²/E is emitted
    * as the EXACT integer `1e6·(O·n − R·C)² DIV (n·R·C)` — the classic
    * statistic times n, cross-multiplied so no float division ever
    * happens; squares run in DECIMAL(38,0) (HUGEINT in the oracle), so
    * a 100 TB corpus (n ~ 10^12) still fits with 14 digits to spare.
    * Plan: one scan → bounded |types|×7 cell agg; marginals are
    * windows over that bounded frame (the stats_join_size pattern), so
    * nothing after the first agg scales with data. The day-of-week is
    * epoch-day arithmetic ((d+3) mod 7: 0=Mon), not an engine DOW
    * convention. */
  def chi2Contingency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        expr("pmod(unix_timestamp(date_trunc('DAY', ts)) DIV 86400 + 3, 7)")
          .as("dow"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val wR = Window.partitionBy("event_type")
    val wC = Window.partitionBy("dow")
    val wN = graft.Tables.boundedGlobalFrame // bounded: |types| x 7 cells
    cells
      .withColumn("r_tot", sum(col("o")).over(wR))
      .withColumn("c_tot", sum(col("o")).over(wC))
      .withColumn("n", sum(col("o")).over(wN))
      .withColumn("d", (col("o") * col("n") - col("r_tot") * col("c_tot"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .select(col("event_type"), col("dow"), col("o"), col("r_tot"),
        col("c_tot"), col("n"),
        expr("CAST(d * d * 1000000 DIV " +
          "(CAST(n AS DECIMAL(38,0)) * r_tot * c_tot) AS BIGINT)")
          .as("chi2_cell_q6"))
  }

  /** Pre/post split for [[cupedAb]] — mid-corpus so both periods carry
    * real mass at every SF. */
  val cupedSplit = "2024-01-16 00:00:00"

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM'13:
    * "Improving the Sensitivity of Online Controlled Experiments by
    * Utilizing Pre-Experiment Data") — the experimentation query every
    * metrics platform runs: per-user post-period metric Y adjusted by
    * the pre-period covariate X via theta = cov(X,Y)/var(X), which
    * shrinks arm-mean variance by the squared correlation without
    * biasing the treatment delta (theta is computed pooled, applied
    * identically to both arms).
    *
    * Determinism discipline (the chi2/outliers pattern): money values
    * become cents (exact longs), all moments are DECIMAL(38,0) sums —
    * order-independent, partitioning-independent — and every published
    * number is an integer cross-multiplication quantized by a final
    * `1e6·num DIV den` (both engines truncate toward zero), so no
    * float ever enters a comparison. The adjusted mean is published
    * from the identity
    *   mean_adj = [sya·td·n − tn·(sxa·n − sx·na)] / (na·n·td)
    * with tn = n·sxy − sx·sy, td = n·sxx − sx² — pure integers.
    * Headroom: cents ≤ ~1e6 per user-period keeps every product under
    * 10^32 even at 10^7 users; beyond that a production job rescales
    * the covariate unit (dataflow unchanged).
    *
    * Plan: one events scan → per-user conditional-sum agg (the only
    * corpus-scale shuffle) → cached user frame feeds one global and
    * one per-arm aggregate; the five pooled scalars reach the driver
    * as ONE row (the Zorder scalar pattern — a 1-row crossJoin would
    * plan as the banned BNLJ). Arm assignment is the LCG parity of
    * user_id — engine-portable, balanced, and stable under resharding. */
  def cupedAb(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val pre = col("ts") < to_timestamp(lit(cupedSplit))
    val cents = round(col("value") * 100).cast("long")
    val users = Tables.load(spark, dir, "events")
      .select(col("user_id"), pre.as("pre"), cents.as("c"))
      .groupBy("user_id")
      .agg(
        coalesce(sum(when(col("pre"), col("c"))), lit(0L)).as("x"),
        coalesce(sum(when(!col("pre"), col("c"))), lit(0L)).as("y"))
      // arm via LCG reduced mod the ODD prime 2000000011, THEN mod 2:
      // an even reduction modulus preserves user_id's low bit
      // (odd*id+odd), so a 2^31 reduction before "% 2" is a ~pure
      // PARITY split — confounded with anything that interleaves by
      // id (signup order, source round-robin). The prime reduction is
      // THE modulus (user_id pre-reduced mod the same prime for
      // 64-bit headroom — a no-op mod P, it's a ring homomorphism).
      .withColumn("arm",
        pmod(pmod(col("user_id"), lit(2000000011L)) * lit(1103515245L)
          + lit(12345L), lit(2000000011L)) % 2)
      .cache() // one row per user — bounded, feeds both aggregates
    val g = users.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum((col("x") * col("x")).cast(d38)).as("sxx"),
      sum((col("x") * col("y")).cast(d38)).as("sxy"))
      .head() // ONE row of pooled scalars
    val (n, sx, sy, sxx, sxy) = (g.getLong(0), g.getDecimal(1),
      g.getDecimal(2), g.getDecimal(3), g.getDecimal(4))
    val nB = java.math.BigDecimal.valueOf(n)
    val tn = sxy.multiply(nB).subtract(sx.multiply(sy))
    val td = sxx.multiply(nB).subtract(sx.multiply(sx))
    require(td.signum != 0, "CUPED: degenerate covariate (var(X) = 0)")
    // quantization uses SQL DIV, not a decimal cast: Spark's
    // decimal→decimal(38,0) cast ROUNDS half-up while DuckDB `//`
    // truncates toward zero — DIV truncates in both engines (the
    // stats_chi2 pattern). Pooled scalars are spliced in as decimal
    // literals; all arithmetic stays DECIMAL(38,0), scale 0.
    def d(v: java.math.BigDecimal): String =
      s"CAST('${v.toPlainString}' AS DECIMAL(38,0))"
    val (tnS, tdS, sxS) = (d(tn), d(td), d(sx))
    // checkpoint-then-release (CacheHygieneSpec): 2 rows out; the
    // per-user frame must not stay cached in the caller's session
    graft.Conf.checkpointThenRelease(
      users.groupBy("arm")
        .agg(
          count(lit(1)).as("n_users"),
          sum(col("y")).as("sum_post_cents"),
          sum(col("x").cast(d38)).as("sxa"),
          sum(col("y").cast(d38)).as("sya"))
        .selectExpr(
          "arm", "n_users", "sum_post_cents",
          "CAST((1000000 * sya) DIV CAST(n_users AS DECIMAL(38,0)) AS BIGINT)" +
            " AS mean_post_q6",
          s"""CAST((1000000 * (sya * $tdS * $n
             |  - $tnS * (sxa * $n - $sxS * CAST(n_users AS DECIMAL(38,0)))))
             |  DIV (CAST(n_users AS DECIMAL(38,0)) * $n * $tdS)
             |  AS BIGINT) AS mean_adj_q6""".stripMargin,
          s"CAST((1000000 * $tnS) DIV $tdS AS BIGINT) AS theta_q6"),
      users)
  }

  /** Welch's unequal-variance t-test — the default two-sample A/B
    * readout (Welch 1947; what scipy's `ttest_ind(equal_var=False)`
    * computes), per event type over the same LCG-hash arm split as
    * [[cupedAb]]: does the value distribution differ between arms?
    * Published as t² (direction lives in the mean columns) and the
    * Welch–Satterthwaite degrees of freedom, both as truncated
    * fixed-point integers.
    *
    * Determinism discipline (the chi2/cuped pattern): observations are
    * exact cents, per-arm (n, Σx, Σx²) are DECIMAL(38,0) sums, and the
    * two statistics are published through single final cross-multiplied DIVs —
    * with A_i = n_i·Σx²_i − (Σx_i)² (≥ 0 by Cauchy–Schwarz) and
    * D_i = n_i²(n_i−1):
    *   g₃  = 1e3·|Σx₀n₁ − Σx₁n₀| DIV (n₀n₁)     (millicent mean gap)
    *   w_i = 1e6·A_i DIV D_i                     (= 1e6·sᵢ²/nᵢ)
    *   t²_q6 = 1e6·g₃² DIV (w₀+w₁)
    *   ν_q3  = 1e3·(w₀+w₁)²(n₀−1)(n₁−1)
    *           DIV (w₀²(n₁−1) + w₁²(n₀−1))     (the prescale cancels).
    * Every DIV truncates toward zero on non-negative operands in both
    * engines, so the gate hash-checks bit-exactly. Integer headroom:
    * cents ≤ 5e4 and per-cell n ≤ ~1e6 keep every product under 1e36;
    * a 100 TB corpus (cell n ~ 1e12) rescales cents to whole currency
    * or pre-aggregates per day first — dataflow unchanged, same
    * caveat as chi2.
    *
    * Plan: ONE events scan → per-type conditional-moment hash agg
    * (≤ |event_types| rows regardless of corpus size); everything after
    * is row-local integer arithmetic on that bounded frame. */
  def welchT(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val cents = round(col("value") * 100).cast("long")
    val arm = pmod(pmod(col("user_id"), lit(2000000011L))
      * lit(1103515245L) + lit(12345L),
      lit(2000000011L)) % 2 // see cupedAb's arm note
    def armSum(a: Int, v: Column): Column =
      sum(when(col("arm") === a, v).otherwise(lit(0L)).cast(d38))
    Tables.load(spark, dir, "events")
      .select(col("event_type"), arm.as("arm"), cents.as("c"))
      .groupBy("event_type")
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        armSum(0, col("c")).as("sx0"),
        armSum(1, col("c")).as("sx1"),
        armSum(0, (col("c") * col("c")).cast(d38)).as("sxx0"),
        armSum(1, (col("c") * col("c")).cast(d38)).as("sxx1"))
      .filter(col("n0") > 1 && col("n1") > 1)
      .withColumn("a0",
        expr("CAST(n0 AS DECIMAL(38,0)) * sxx0 - sx0 * sx0"))
      .withColumn("a1",
        expr("CAST(n1 AS DECIMAL(38,0)) * sxx1 - sx1 * sx1"))
      .withColumn("dn",
        expr("sx0 * CAST(n1 AS DECIMAL(38,0)) " +
          "- sx1 * CAST(n0 AS DECIMAL(38,0))"))
      // Spark's DIV always yields LONG, so every DIV below is a FINAL
      // reduction whose true quotient fits 64 bits at any realistic n
      // (and re-enters the decimal domain before any product — a bare
      // long square wraps silently). All DIV operands are kept
      // non-negative (|dn| before squaring) because the two engines
      // need not agree on truncation direction for negatives.
      .withColumn("w0", // 1e6 · v0/n0, cents² — bounded by 1e6·c² ≈ 2e15
        expr("(1000000 * a0) " +
          "DIV (CAST(n0 AS DECIMAL(38,0)) * n0 * (n0 - 1))"))
      .withColumn("w1",
        expr("(1000000 * a1) " +
          "DIV (CAST(n1 AS DECIMAL(38,0)) * n1 * (n1 - 1))"))
      .withColumn("g3", // 1e3 · |mean gap|, millicents ≤ 1e3·c ≈ 5e7
        expr("(1000 * abs(dn)) DIV (CAST(n0 AS DECIMAL(38,0)) * n1)"))
      .filter(expr("w0 + w1 > 0"))
      .selectExpr("event_type", "n0", "n1",
        "CAST(1000000 * sx0 DIV CAST(n0 AS DECIMAL(38,0)) AS BIGINT)" +
          " AS mean0_q6",
        "CAST(1000000 * sx1 DIV CAST(n1 AS DECIMAL(38,0)) AS BIGINT)" +
          " AS mean1_q6",
        // t² = d²/u with d = g3/1e3, u = (w0+w1)/1e6
        "CAST((1000000 * CAST(g3 AS DECIMAL(38,0)) * g3) DIV " +
          "(CAST(w0 AS DECIMAL(38,0)) + w1) AS BIGINT) AS t2_q6",
        // ν as one fraction — scale-invariant in w, so the 1e6 prescale
        // cancels; numerator stays under 1e33 because w·n ≈ 1e6·var is
        // n-independent
        "CAST((1000 * (CAST(w0 AS DECIMAL(38,0)) + w1) " +
          "* (CAST(w0 AS DECIMAL(38,0)) + w1) * (n0 - 1) * (n1 - 1)) " +
          "DIV ((CAST(w0 AS DECIMAL(38,0)) * w0) * (n1 - 1) " +
          "+ (CAST(w1 AS DECIMAL(38,0)) * w1) * (n0 - 1))" +
          " AS BIGINT) AS nu_q3")
  }

  /** One-way ANOVA F over event-type groups — the k-sample
    * generalization of [[welchT]]'s two-arm readout (Fisher 1925): is
    * mean spend the same across ALL event types? Published in the
    * repo's fixed-point discipline: per-group means at q3
    * (`(1000·Σc) DIV n` — scale-free quotients, never wrap), then
    * between/within sums computed EXACTLY from those integer means in
    * DECIMAL(38,0), and ONE final DIV for F — the q3 truncation is
    * part of the published statistic's definition (the rolling-slope
    * pattern), so DuckDB reproduces it bit-for-bit while a
    * double-precision reference agrees to ~1e-3 relative (spec-pinned).
    *
    * Headroom (the binding product, per the r2_q6 lesson): the F
    * numerator 1e6·ssb_q6·(N−k) ≤ 1e6·N²·(1e3·Δc)² — at q3 means it
    * holds to N ≈ 5·10⁹ rows per analyzed cell-set; a 100 TB run
    * pre-aggregates per-shard (n, Σc, Σc²) moments anyway (they merge
    * by addition) and, if N exceeds that, drops the mean fixed point
    * to q2, buying 100× N per step. ssw is provably non-negative
    * under truncated means (n·m_q3² ≤ 1e6·n·mean² ≤ 1e6·q).
    *
    * Plan: one scan → |types| hash agg; the grand totals are
    * [[Tables.boundedGlobalFrame]] windows over that ≤|types| frame —
    * nothing after the first agg scales with data. */
  def anovaF(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val cents = round(col("value") * 100).cast("long").cast(d38)
    val g = Tables.load(spark, dir, "events")
      .select(col("event_type"), cents.as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
      .withColumn("m_q3", expr("(1000 * s) DIV n"))
    val wAll = Tables.boundedGlobalFrame // bounded: <= |event types|
    g.withColumn("nn", sum(col("n")).over(wAll))
      .withColumn("ss", sum(col("s")).over(wAll))
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("mm_q3", expr("(1000 * ss) DIV nn"))
      .withColumn("ssb_q6", sum(expr(
        "CAST(n AS DECIMAL(38,0)) * (m_q3 - mm_q3) * (m_q3 - mm_q3)"))
        .over(wAll))
      .withColumn("ssw_q6", sum(expr(
        "1000000 * q - CAST(n AS DECIMAL(38,0)) * m_q3 * m_q3"))
        .over(wAll))
      .selectExpr("event_type", "n", "CAST(m_q3 AS BIGINT) AS mean_q3",
        "CAST(k - 1 AS BIGINT) AS df1",
        "CAST(nn - k AS BIGINT) AS df2",
        "CAST((1000000 * ssb_q6 * (nn - k)) " +
          "DIV (ssw_q6 * (k - 1)) AS BIGINT) AS f_q6")
  }

  /** Spearman rank correlation per event type — the rank-based
    * complement to [[welchT]]/[[anovaF]]'s mean tests and Pearson's
    * `agg_corr_stats`: is spend monotonically related to hour-of-day,
    * robust to the value distribution's shape? ρ = Pearson over
    * average ranks (Spearman 1904, tie-corrected).
    *
    * The scale insight: ranking normally needs a GLOBAL SORT, but both
    * variables here have DOMAIN-bounded alphabets — cents ∈ [1, 49002]
    * (the generator's price range, independent of row count) and
    * hour ∈ [0, 23] — so average ranks come from a per-type value
    * DICTIONARY (groupBy + a keyed cumulative window over ≤|domain|
    * rows) broadcast-joined back to the events. The corpus itself is
    * never sorted; the only full-data passes are the dictionary agg
    * and the final moment agg. Doubled ranks (2·avgRank = 2·below +
    * freq + 1) keep ties integer-exact; Σrank2 = n(n+1) is published
    * (`sum_rx2`) as a self-check the oracle hash pins.
    *
    * Fixed-point discipline (the [[welchT]] rules): all moments in
    * DECIMAL(38,0); ρ² published as the product of two q3 DIV stages —
    * (1000·|num|) DIV dx then DIV dy — so no intermediate squares
    * |num|²; operands kept non-negative (engines differ on negative
    * truncation), sign published separately. Headroom: the binding
    * product is 1000·|num| ≤ 1000·n·Sxy ≈ 4·10³·n⁴ → n ≤ 10⁸ per
    * type; beyond that the standard remedy is Spearman over b
    * equi-depth rank buckets (rank2 magnitude 2b, n-independent),
    * which this dictionary design already produces for free by
    * coarsening the dictionary key. */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("xc"),
        hour(col("ts")).cast("long").as("hod"))
    // rank2(v) = 2·(# strictly below) + freq(v) + 1, per event type;
    // the window frame is the value dictionary (≤49k cents / 24 hours
    // per type), never the corpus
    def rank2(key: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(col(key))
        .rowsBetween(Window.unboundedPreceding, -1)
      base.groupBy(col("event_type"), col(key))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .select(col("event_type"), col(key),
          (lit(2) * col("below") + col("cnt") + 1).as(s"r$key"))
    }
    base
      .join(broadcast(rank2("xc")), Seq("event_type", "xc"))
      .join(broadcast(rank2("hod")), Seq("event_type", "hod"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("rxc")).as("sx"), sum(col("rhod")).as("sy"),
        sum(expr("CAST(rxc AS DECIMAL(38,0)) * rxc")).as("sxx"),
        sum(expr("CAST(rhod AS DECIMAL(38,0)) * rhod")).as("syy"),
        sum(expr("CAST(rxc AS DECIMAL(38,0)) * rhod")).as("sxy"))
      .withColumn("num", expr(
        "CAST(n AS DECIMAL(38,0)) * sxy " +
          "- CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("dx", expr(
        "CAST(n AS DECIMAL(38,0)) * sxx " +
          "- CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("dy", expr(
        "CAST(n AS DECIMAL(38,0)) * syy " +
          "- CAST(sy AS DECIMAL(38,0)) * sy"))
      .selectExpr("event_type", "n",
        "CAST(sx AS BIGINT) AS sum_rx2", // = n(n+1): tie-rank invariant
        // ρ²_q6 = [(1000·|num|) DIV dx] · [(1000·|num|) DIV dy]; each
        // stage's quotient ≤ 1000·√(dy/dx) fits LONG, product ≈ 10⁶ρ²
        "CAST(((1000 * abs(num)) DIV nullif(dx, 0)) " +
          "* ((1000 * abs(num)) DIV nullif(dy, 0)) AS BIGINT)" +
          " AS rho2_q6",
        "CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END" +
          " AS INT) AS corr_sign")
  }

  /** Value bins for [[psiDrift]]/[[ksTwoSample]]: cents DIV this, capped
    * at [[psiBins]]−1. events.value spans [0.01, 490.02] → 10 bins. */
  val psiBinCents = 5000L
  val psiBins = 10

  /** Population Stability Index — THE model-monitoring drift metric:
    * how far has the value distribution of each event type moved
    * between the pre and post periods (the CUPED split)? Per bin,
    * PSI_i = (p_i − q_i)·ln(p_i/q_i), summed over bins; cells above
    * ~0.1 flag drift.
    *
    * Exactness discipline (the lm/entropy floor-log2 pattern,
    * `TextAnalysis.flog2`): proportions are Laplace-smoothed integer
    * rationals (c+1)/(n+B); the delta ships as a q6 integer by
    * cross-multiplied DIV, and the log-ratio as SIGNED FLOOR-BITS
    * sign·floor(log2(big/small)) — floor(log2(a/b)) = flog2(a DIV b)
    * exactly for a ≥ b, so no libm log enters the comparison. The
    * per-cell statistic |delta_q6|·bits is non-negative exactly like
    * the real PSI cell ((p−q) and ln(p/q) share sign).
    *
    * Plan: one scan → (type × bin) cell agg (≤ |types|·10 rows
    * REGARDLESS of corpus size); totals are windows over that bounded
    * frame (the stats_chi2 pattern). Integer headroom: products are
    * ≤ (n+1)², ~10^10 here; a 10^12-row corpus needs the same DECIMAL
    * (38,0) lift as chi2 (14 digits spare). */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pre = col("ts") < to_timestamp(lit(cupedSplit))
    val bin = least(
      expr(s"CAST(round(value * 100) AS BIGINT) DIV $psiBinCents"),
      lit(psiBins - 1L))
    val cells = Tables.load(spark, dir, "events")
      .select(col("event_type"), bin.as("bin"), pre.as("pre"))
      .groupBy("event_type", "bin")
      .agg(
        coalesce(sum(when(col("pre"), 1L)), lit(0L)).as("pre_cnt"),
        coalesce(sum(when(!col("pre"), 1L)), lit(0L)).as("post_cnt"))
    val wT = Window.partitionBy("event_type")
    cells
      .withColumn("n_pre", sum(col("pre_cnt")).over(wT))
      .withColumn("n_post", sum(col("post_cnt")).over(wT))
      // Laplace-smoothed numerators/denominators: every observed cell
      // has strictly positive mass on both sides
      .withColumn("a", (col("pre_cnt") + 1) * (col("n_post") + psiBins))
      .withColumn("b", (col("post_cnt") + 1) * (col("n_pre") + psiBins))
      .selectExpr("event_type", "bin", "pre_cnt", "post_cnt",
        "n_pre", "n_post",
        s"(1000000 * (pre_cnt + 1)) DIV (n_pre + $psiBins)" +
          s" - (1000000 * (post_cnt + 1)) DIV (n_post + $psiBins)" +
          " AS delta_q6",
        "CAST(CASE WHEN a >= b THEN 1 ELSE -1 END" +
          " * (length(conv(greatest(a, b) DIV least(a, b), 10, 2)) - 1)" +
          " AS BIGINT) AS lr_bits",
        s"CAST(abs((1000000 * (pre_cnt + 1)) DIV (n_pre + $psiBins)" +
          s" - (1000000 * (post_cnt + 1)) DIV (n_post + $psiBins))" +
          " * (length(conv(greatest(a, b) DIV least(a, b), 10, 2)) - 1)" +
          " AS BIGINT) AS psi_cell_bits_q6")
  }

  /** Two-sample Kolmogorov-Smirnov statistic per event type between
    * the pre/post periods: D = max_x |F_pre(x) − F_post(x)| over the
    * empirical CDFs of the value column (in exact cents). The
    * classical distribution-shift test to PSI's binned heuristic —
    * this one is binless and exact.
    *
    * All integers: per distinct cent value, cumulative counts cross-
    * multiply (|cum_p·n_q − cum_q·n_p|) so no division happens until
    * the final q6 quantization; the argmax cent value ships alongside
    * (smallest cent achieving the max — deterministic). Plan: one scan
    * → (type, cent) cell agg; CDFs are ONE ordered window per type
    * over the cell frame, whose cardinality is bounded by the cent
    * DOMAIN (≤ 49k distinct values), not the row count — at 100 TB
    * the frame is the same size. Output: one row per event type. */
  def ksTwoSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pre = col("ts") < to_timestamp(lit(cupedSplit))
    val cells = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"), pre.as("pre"))
      .groupBy("event_type", "cents")
      .agg(
        coalesce(sum(when(col("pre"), 1L)), lit(0L)).as("cp"),
        coalesce(sum(when(!col("pre"), 1L)), lit(0L)).as("cq"))
    val wCum = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wT = Window.partitionBy("event_type")
    cells
      .withColumn("cum_p", sum(col("cp")).over(wCum))
      .withColumn("cum_q", sum(col("cq")).over(wCum))
      .withColumn("n_p", sum(col("cp")).over(wT))
      .withColumn("n_q", sum(col("cq")).over(wT))
      .withColumn("d_num", abs(col("cum_p") * col("n_q") - col("cum_q") * col("n_p")))
      .groupBy("event_type")
      .agg(
        max(col("n_p")).as("n_pre"),
        max(col("n_q")).as("n_post"),
        max(col("d_num")).as("max_d"),
        min(struct(negate(col("d_num")).as("nd"), col("cents").as("cents")))
          .as("am"))
      .selectExpr("event_type", "n_pre", "n_post",
        "(1000000 * max_d) DIV (n_pre * n_post) AS ks_q6",
        "am.cents AS ks_at_cents")
  }

  /** Exact Mann–Whitney U (Wilcoxon rank-sum) between purchase and
    * view values — the nonparametric "is one distribution
    * stochastically larger" readout next to [[ksTwoSample]]'s
    * max-CDF-gap. No ranks are ever materialized: with per-value
    * counts on the integer cents domain, `2·U_A = Σ_v ca(v)·(2·#{b<v}
    * + #{b=v})` — all integers, no ½-tie floats, published with the
    * common-language effect size `auc_q6 = 10^6·2U_A DIV (2·n_a·n_b)`
    * (the probability a random purchase exceeds a random view).
    * Plan: one corpus-scale hash agg to the cents histogram; the
    * strictly-less cumulative and the totals are windows over the
    * VALUE-DOMAIN-bounded cell frame (≤ 49k cents cells — bounded by
    * the price domain, not the data), then a one-row agg. Identity
    * `u2_a + u2_b = 2·n_a·n_b` is published for free as u2_b.
    * Headroom: u2 ≤ 2·n_a·n_b — int64-safe to n ~ 2·10^9 per arm; a
    * 100 TB corpus lifts the products to DECIMAL(38,0) (the chi2
    * pattern). */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isA = col("event_type") === "purchase"
    val cells = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .select(round(col("value") * 100).cast("long").as("cents"), isA.as("a"))
      .groupBy("cents")
      .agg(coalesce(sum(when(col("a"), 1L)), lit(0L)).as("ca"),
        coalesce(sum(when(!col("a"), 1L)), lit(0L)).as("cb"))
    val wLt = graft.Tables.boundedGlobalWindow(col("cents")) // bounded: distinct cent values
      .rowsBetween(Window.unboundedPreceding, -1)
    val wT = graft.Tables.boundedGlobalWindow(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("lt_b", coalesce(sum(col("cb")).over(wLt), lit(0L)))
      .withColumn("n_a", sum(col("ca")).over(wT))
      .withColumn("n_b", sum(col("cb")).over(wT))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(col("ca") * (col("lt_b") * 2L + col("cb"))).as("u2_a"))
      .selectExpr("n_a", "n_b", "u2_a",
        "2 * n_a * n_b - u2_a AS u2_b",
        "(1000000 * u2_a) DIV (2 * n_a * n_b) AS auc_q6")
  }

  /** Bootstrap replicates for [[poissonBootstrap]]. */
  val bootReps = 32

  /** Poisson(1) CDF thresholds scaled to 2^31 (floor-exact literals),
    * capped at weight 4. */
  val bootThresholds = Seq(790015084L, 1580030168L, 1975037710L, 2106706891L)

  /** Poisson bootstrap of the mean order value (Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams", Google 2012 —
    * the resampling scheme that works when data does not fit on one
    * machine): instead of drawing n rows with replacement (which needs
    * global coordination), every row independently contributes
    * Poisson(1) copies to each of B replicates. Replicate means then
    * estimate the sampling distribution of the mean.
    *
    * Deterministic twist for the oracle: the per-(row, replicate)
    * Poisson draw inverts the CDF at a uniform LCG value — integer
    * literals, both engines compute bit-identical draws (same LCG
    * family as the CUPED arm split; key folded mod 2^31 BEFORE the
    * multiply so a 10^12-key corpus cannot overflow). Plan: one scan,
    * B-way map-side explode, hash-agg to B rows — the shuffle carries
    * B partial rows per partition, independent of corpus size; no
    * collect, no global sample. */
  def poissonBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val reps = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        explode(sequence(lit(0), lit(bootReps - 1))).as("rep"))
      .withColumn("u",
        pmod((pmod(col("o_orderkey"), lit(2147483648L)) * lit(1103515245L)
          + col("rep") * lit(1234567L) + lit(999983L)), lit(2147483648L)))
      .withColumn("w",
        when(col("u") < bootThresholds(0), 0L)
          .when(col("u") < bootThresholds(1), 1L)
          .when(col("u") < bootThresholds(2), 2L)
          .when(col("u") < bootThresholds(3), 3L)
          .otherwise(4L))
    reps.groupBy("rep")
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("cents")).as("sum_cents"))
      // the q6 scale-up overflows a long at sf0.1 (Σcents ~ 10^13);
      // DECIMAL(38,0) for the intermediate, BIGINT out (HUGEINT in the
      // oracle)
      .selectExpr("CAST(rep AS BIGINT) AS rep", "n_eff", "sum_cents",
        "CAST((1000000 * CAST(sum_cents AS DECIMAL(38,0))) DIV n_eff" +
          " AS BIGINT) AS mean_q6")
  }

  /** Dimension tables and the profiled (string/bigint — see the
    * injective-cast constraint at [[analyzeCols]]) columns the
    * broadcast-decision gate consults. */
  val decisionDims: Seq[(String, Seq[String])] = Seq(
    "region" -> Seq("r_name", "r_regionkey"),
    "nation" -> Seq("n_name", "n_regionkey"),
    "supplier" -> Seq("s_name", "s_nationkey"),
    "customer" -> Seq("c_name", "c_nationkey"),
    "orders" -> Seq("o_orderstatus", "o_custkey"))

  /** Gate query: the stats→planner decision itself, oracle-checked —
    * for each dim, the engine-profile size estimate
    * ([[estimateBytes]]) and the broadcast verdict at the planner's
    * default 10 MiB threshold plus a tight 64 KiB one (the flip row:
    * big dims fail the tight budget while true dims pass both). The
    * per-dim `collect` is |cols| rows — the bounded-scalar pattern —
    * and each profile is the one-scan melt, so the whole gate costs
    * one pass over each dim at any corpus size. */
  def broadcastDecision(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decisionDims.map { case (t, cols) =>
      val prof = profile(Tables.load(spark, dir, t), cols).collect()
      val est = estimateBytes(prof)
      (t, prof.map(_.getLong(1)).max, est,
        est <= 10L * 1024 * 1024, est <= 64L * 1024)
    }.toDF("table_name", "n_rows", "est_bytes", "bcast_10m", "bcast_64k")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_anova" -> anovaF _,
    "stats_spearman" -> spearman _,
    "stats_bcast_decision" -> broadcastDecision _,
    "stats_psi" -> psiDrift _,
    "stats_ks" -> ksTwoSample _,
    "stats_mannwhitney" -> mannWhitney _,
    "stats_bootstrap" -> poissonBootstrap _,
    "stats_cuped" -> cupedAb _,
    "stats_analyze" -> analyzeTable _,
    "stats_chi2" -> chi2Contingency _,
    "stats_welch" -> welchT _,
    "stats_join_size" -> joinSizeEstimate _)

  val oracles: Map[String, String] = Map(
    "stats_spearman" ->
      """WITH base AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS xc,
        |    CAST(hour(ts) AS BIGINT) AS hod
        |  FROM events),
        |dx AS (SELECT event_type, xc,
        |    2 * coalesce(sum(count(*)) OVER (PARTITION BY event_type
        |      ORDER BY xc ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) + count(*) + 1 AS rxc
        |  FROM base GROUP BY event_type, xc),
        |dh AS (SELECT event_type, hod,
        |    2 * coalesce(sum(count(*)) OVER (PARTITION BY event_type
        |      ORDER BY hod ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) + count(*) + 1 AS rhod
        |  FROM base GROUP BY event_type, hod),
        |r AS (SELECT b.event_type,
        |    CAST(x.rxc AS HUGEINT) AS rxc, CAST(h.rhod AS HUGEINT) AS rhod
        |  FROM base b
        |  JOIN dx x ON x.event_type = b.event_type AND x.xc = b.xc
        |  JOIN dh h ON h.event_type = b.event_type AND h.hod = b.hod),
        |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    sum(rxc) AS sx, sum(rhod) AS sy,
        |    sum(rxc * rxc) AS sxx, sum(rhod * rhod) AS syy,
        |    sum(rxc * rhod) AS sxy
        |  FROM r GROUP BY 1),
        |f AS (SELECT *, n * sxy - sx * sy AS num,
        |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(sx AS BIGINT) AS sum_rx2,
        |  CAST(((1000 * abs(num)) // nullif(dx, 0))
        |    * ((1000 * abs(num)) // nullif(dy, 0)) AS BIGINT) AS rho2_q6,
        |  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
        |    AS INT) AS corr_sign
        |FROM f""".stripMargin,
    "stats_anova" ->
      """WITH g AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS s,
        |    CAST(sum(CAST(round(value * 100) AS HUGEINT)
        |      * CAST(round(value * 100) AS HUGEINT)) AS HUGEINT) AS q
        |  FROM events GROUP BY 1),
        |m AS (SELECT *, (1000 * s) // n AS m_q3 FROM g),
        |t AS (SELECT *,
        |    CAST(sum(n) OVER () AS HUGEINT) AS nn,
        |    CAST(sum(s) OVER () AS HUGEINT) AS ss,
        |    CAST(count(*) OVER () AS HUGEINT) AS k
        |  FROM m),
        |u AS (SELECT *, (1000 * ss) // nn AS mm_q3 FROM t),
        |v AS (SELECT *,
        |    CAST(sum(CAST(n AS HUGEINT) * (m_q3 - mm_q3)
        |      * (m_q3 - mm_q3)) OVER () AS HUGEINT) AS ssb_q6,
        |    CAST(sum(1000000 * q - CAST(n AS HUGEINT) * m_q3 * m_q3)
        |      OVER () AS HUGEINT) AS ssw_q6
        |  FROM u)
        |SELECT event_type, n, CAST(m_q3 AS BIGINT) AS mean_q3,
        |  CAST(k - 1 AS BIGINT) AS df1,
        |  CAST(nn - k AS BIGINT) AS df2,
        |  CAST((1000000 * ssb_q6 * (nn - k))
        |    // (ssw_q6 * (k - 1)) AS BIGINT) AS f_q6
        |FROM v""".stripMargin,
    // mirrors estimateBytes exactly: per-column width =
    // (len(lex-min-string)+len(lex-max-string))//2 + 8, rows × Σwidths
    "stats_bcast_decision" -> {
      def arm(t: String, cols: Seq[String]): String = {
        val w = cols.map(c =>
          s"(length(min(CAST($c AS VARCHAR))) " +
            s"+ length(max(CAST($c AS VARCHAR)))) // 2 + 8").mkString(" + ")
        s"SELECT '$t' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,\n" +
          s"  CAST(count(*) * ($w) AS BIGINT) AS est_bytes FROM $t"
      }
      val union = decisionDims.map { case (t, cols) => arm(t, cols) }
        .mkString("\nUNION ALL\n")
      s"""WITH p AS (
         |$union)
         |SELECT table_name, n_rows, est_bytes,
         |  est_bytes <= 10485760 AS bcast_10m,
         |  est_bytes <= 65536 AS bcast_64k
         |FROM p""".stripMargin
    },
    "stats_mannwhitney" ->
      """WITH cells AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
        |      AS ca,
        |    CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT)
        |      AS cb
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |  GROUP BY 1),
        |m AS (SELECT *,
        |    CAST(coalesce(sum(cb) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS lt_b,
        |    CAST(sum(ca) OVER () AS BIGINT) AS n_a,
        |    CAST(sum(cb) OVER () AS BIGINT) AS n_b
        |  FROM cells)
        |SELECT max(n_a) AS n_a, max(n_b) AS n_b,
        |  CAST(sum(ca * (lt_b * 2 + cb)) AS BIGINT) AS u2_a,
        |  CAST(2 * max(n_a) * max(n_b) - sum(ca * (lt_b * 2 + cb))
        |    AS BIGINT) AS u2_b,
        |  CAST(1000000 * sum(ca * (lt_b * 2 + cb))
        |    // (2 * max(n_a) * max(n_b)) AS BIGINT) AS auc_q6
        |FROM m""".stripMargin,
    "stats_psi" ->
      s"""WITH c AS (SELECT event_type,
         |    least(CAST(round(value * 100) AS BIGINT) // $psiBinCents,
         |      ${psiBins - 1}) AS bin,
         |    count(*) FILTER (WHERE ts < TIMESTAMP '$cupedSplit')
         |      AS pre_cnt,
         |    count(*) FILTER (WHERE ts >= TIMESTAMP '$cupedSplit')
         |      AS post_cnt
         |  FROM events GROUP BY 1, 2),
         |m AS (SELECT *,
         |    CAST(sum(pre_cnt) OVER (PARTITION BY event_type) AS BIGINT)
         |      AS n_pre,
         |    CAST(sum(post_cnt) OVER (PARTITION BY event_type) AS BIGINT)
         |      AS n_post
         |  FROM c),
         |x AS (SELECT *, (pre_cnt + 1) * (n_post + $psiBins) AS a,
         |    (post_cnt + 1) * (n_pre + $psiBins) AS b FROM m)
         |SELECT event_type, bin, pre_cnt, post_cnt, n_pre, n_post,
         |  (1000000 * (pre_cnt + 1)) // (n_pre + $psiBins)
         |    - (1000000 * (post_cnt + 1)) // (n_post + $psiBins) AS delta_q6,
         |  CAST((CASE WHEN a >= b THEN 1 ELSE -1 END)
         |    * ${graft.functions.TextAnalysis.flog2Sql(
               "greatest(a, b) // least(a, b)")} AS BIGINT) AS lr_bits,
         |  CAST(abs((1000000 * (pre_cnt + 1)) // (n_pre + $psiBins)
         |      - (1000000 * (post_cnt + 1)) // (n_post + $psiBins))
         |    * ${graft.functions.TextAnalysis.flog2Sql(
               "greatest(a, b) // least(a, b)")} AS BIGINT)
         |    AS psi_cell_bits_q6
         |FROM x""".stripMargin,
    "stats_ks" ->
      s"""WITH c AS (SELECT event_type,
         |    CAST(round(value * 100) AS BIGINT) AS cents,
         |    count(*) FILTER (WHERE ts < TIMESTAMP '$cupedSplit') AS cp,
         |    count(*) FILTER (WHERE ts >= TIMESTAMP '$cupedSplit') AS cq
         |  FROM events GROUP BY 1, 2),
         |w AS (SELECT *,
         |    CAST(sum(cp) OVER (PARTITION BY event_type ORDER BY cents)
         |      AS BIGINT) AS cum_p,
         |    CAST(sum(cq) OVER (PARTITION BY event_type ORDER BY cents)
         |      AS BIGINT) AS cum_q,
         |    CAST(sum(cp) OVER (PARTITION BY event_type) AS BIGINT) AS n_p,
         |    CAST(sum(cq) OVER (PARTITION BY event_type) AS BIGINT) AS n_q
         |  FROM c),
         |d AS (SELECT *, abs(cum_p * n_q - cum_q * n_p) AS d_num FROM w),
         |d2 AS (SELECT *,
         |    max(d_num) OVER (PARTITION BY event_type) AS md FROM d)
         |SELECT event_type, max(n_p) AS n_pre, max(n_q) AS n_post,
         |  (1000000 * max(d_num)) // (max(n_p) * max(n_q)) AS ks_q6,
         |  min(cents) FILTER (WHERE d_num = md) AS ks_at_cents
         |FROM d2 GROUP BY 1""".stripMargin,
    "stats_bootstrap" ->
      s"""WITH r AS (SELECT o_orderkey,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         |    rep.range AS rep
         |  FROM orders CROSS JOIN range($bootReps) rep),
         |u AS (SELECT rep, cents,
         |    ((o_orderkey % 2147483648) * 1103515245
         |      + rep * 1234567 + 999983) % 2147483648 AS u
         |  FROM r),
         |w AS (SELECT rep, cents,
         |    CASE WHEN u < ${bootThresholds(0)} THEN 0
         |         WHEN u < ${bootThresholds(1)} THEN 1
         |         WHEN u < ${bootThresholds(2)} THEN 2
         |         WHEN u < ${bootThresholds(3)} THEN 3
         |         ELSE 4 END AS w
         |  FROM u)
         |SELECT rep, CAST(sum(w) AS BIGINT) AS n_eff,
         |  CAST(sum(w * cents) AS BIGINT) AS sum_cents,
         |  CAST((1000000 * CAST(sum(w * cents) AS HUGEINT))
         |    // CAST(sum(w) AS BIGINT) AS BIGINT) AS mean_q6
         |FROM w GROUP BY rep""".stripMargin,
    "stats_cuped" ->
      s"""WITH u AS (SELECT user_id,
         |    CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '$cupedSplit'
         |      THEN CAST(round(value * 100) AS BIGINT) END), 0)
         |      AS BIGINT) AS x,
         |    CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '$cupedSplit'
         |      THEN CAST(round(value * 100) AS BIGINT) END), 0)
         |      AS BIGINT) AS y,
         |    (((user_id % 2000000011) * 1103515245 + 12345) % 2000000011) % 2 AS arm
         |  FROM events GROUP BY user_id),
         |g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS sx,
         |    CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
         |  FROM u),
         |t AS (SELECT n, sx, n * sxy - sx * sy AS tn,
         |    n * sxx - sx * sx AS td FROM g),
         |a AS (SELECT arm, CAST(count(*) AS HUGEINT) AS na,
         |    CAST(sum(y) AS BIGINT) AS sum_post_cents,
         |    CAST(sum(x) AS HUGEINT) AS sxa,
         |    CAST(sum(y) AS HUGEINT) AS sya
         |  FROM u GROUP BY arm)
         |SELECT arm, CAST(na AS BIGINT) AS n_users, sum_post_cents,
         |  CAST((1000000 * sya) // na AS BIGINT) AS mean_post_q6,
         |  CAST((1000000 * (sya * td * n - tn * (sxa * n - sx * na)))
         |    // (na * n * td) AS BIGINT) AS mean_adj_q6,
         |  CAST((1000000 * tn) // td AS BIGINT) AS theta_q6
         |FROM a CROSS JOIN t""".stripMargin,
    "stats_welch" ->
      """WITH o AS (SELECT event_type,
        |    (((user_id % 2000000011) * 1103515245 + 12345) % 2000000011) % 2 AS arm,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |a AS (SELECT event_type,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS HUGEINT) AS sx0,
        |    CAST(sum(CASE WHEN arm = 1 THEN c ELSE 0 END) AS HUGEINT) AS sx1,
        |    CAST(sum(CASE WHEN arm = 0 THEN CAST(c AS HUGEINT) * c
        |      ELSE 0 END) AS HUGEINT) AS sxx0,
        |    CAST(sum(CASE WHEN arm = 1 THEN CAST(c AS HUGEINT) * c
        |      ELSE 0 END) AS HUGEINT) AS sxx1
        |  FROM o GROUP BY event_type),
        |m AS (SELECT *, n0 * sxx0 - sx0 * sx0 AS a0,
        |    n1 * sxx1 - sx1 * sx1 AS a1,
        |    sx0 * n1 - sx1 * n0 AS dn
        |  FROM a WHERE n0 > 1 AND n1 > 1),
        |d AS (SELECT *,
        |    (1000000 * a0) // (n0 * n0 * (n0 - 1)) AS w0,
        |    (1000000 * a1) // (n1 * n1 * (n1 - 1)) AS w1,
        |    (1000 * abs(dn)) // (n0 * n1) AS g3
        |  FROM m)
        |SELECT event_type, CAST(n0 AS BIGINT) AS n0,
        |  CAST(n1 AS BIGINT) AS n1,
        |  CAST((1000000 * sx0) // n0 AS BIGINT) AS mean0_q6,
        |  CAST((1000000 * sx1) // n1 AS BIGINT) AS mean1_q6,
        |  CAST((1000000 * g3 * g3) // (w0 + w1) AS BIGINT) AS t2_q6,
        |  CAST((1000 * (w0 + w1) * (w0 + w1) * (n0 - 1) * (n1 - 1)) //
        |    (w0 * w0 * (n1 - 1) + w1 * w1 * (n0 - 1)) AS BIGINT)
        |    AS nu_q3
        |FROM d WHERE w0 + w1 > 0""".stripMargin,
    "stats_chi2" ->
      """WITH c AS (SELECT event_type,
        |    (CAST(epoch(date_trunc('day', CAST(ts AS TIMESTAMP)))
        |      AS BIGINT) // 86400 + 3) % 7 AS dow,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, dow, o,
        |    CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS r_tot,
        |    CAST(sum(o) OVER (PARTITION BY dow) AS BIGINT) AS c_tot,
        |    CAST(sum(o) OVER () AS BIGINT) AS n
        |  FROM c),
        |d AS (SELECT *, CAST(o * n - r_tot * c_tot AS HUGEINT) AS dd
        |  FROM m)
        |SELECT event_type, dow, o, r_tot, c_tot, n,
        |  CAST(dd * dd * 1000000 //
        |    (CAST(n AS HUGEINT) * r_tot * c_tot) AS BIGINT)
        |    AS chi2_cell_q6
        |FROM d""".stripMargin,
    "stats_analyze" -> {
      val selects = analyzeCols.map { c =>
        s"""SELECT '$c' AS column_name,
           |  (SELECT count(*) FROM lineitem) AS n_rows,
           |  count(*) FILTER (WHERE $c IS NULL) AS n_nulls,
           |  count(DISTINCT $c) AS ndv,
           |  min(CAST($c AS VARCHAR)) AS min_s,
           |  max(CAST($c AS VARCHAR)) AS max_s
           |FROM lineitem""".stripMargin
      }
      selects.mkString("\nUNION ALL\n")
    },
    "stats_join_size" -> {
      import OlapQueries.{cmsA, cmsB, cmsDepth, cmsP, cmsWidth}
      def grid(src: String, k: String) = (0 until cmsDepth).map { i =>
        s"""SELECT $i AS r,
           |  ((${cmsA(i)} * $k + ${cmsB(i)}) % $cmsP) % $cmsWidth AS b,
           |  count(*) AS c
           |FROM $src GROUP BY 1, 2""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ga AS (${grid("events", "user_id")}),
         |gb AS (${grid("orders", "o_custkey")}),
         |est AS (SELECT ga.r, CAST(sum(ga.c * gb.c) AS BIGINT) AS est_r
         |  FROM ga JOIN gb ON ga.r = gb.r AND ga.b = gb.b GROUP BY 1),
         |ex AS (SELECT coalesce(CAST(sum(fa.c * fb.c) AS BIGINT), 0)
         |    AS exact_join
         |  FROM (SELECT user_id, count(*) AS c FROM events GROUP BY 1) fa
         |  JOIN (SELECT o_custkey, count(*) AS c FROM orders GROUP BY 1) fb
         |    ON fa.user_id = fb.o_custkey)
         |SELECT est.r, est.est_r,
         |  min(est.est_r) OVER () AS est_min,
         |  ex.exact_join,
         |  est.est_r >= ex.exact_join AS overest_ok
         |FROM est CROSS JOIN ex""".stripMargin
    })
}
