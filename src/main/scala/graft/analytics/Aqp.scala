package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Approximate query processing over deterministic Bernoulli samples —
  * the "answer in seconds what the full scan answers in hours" layer a
  * 100 TB deployment runs its exploratory aggregates through (BlinkDB,
  * Agarwal et al. EuroSys 2013; Horvitz & Thompson JASA 1952).
  *
  * Sampling is a PURE PER-ROW PREDICATE on an LCG permutation of the
  * row key (the same glibc-rand constants as
  * [[graft.operators.TrainPrep]]'s shuffle, pre-reduced mod the odd
  * prime [[P]] so the product stays in a 64-bit long at any corpus
  * size): membership is
  * reproducible across engines, retries, and partitionings — no RNG
  * state, no `TABLESAMPLE` nondeterminism — which is what makes the
  * estimates oracle-checkable and the sample REUSABLE (every query
  * over "bucket 0" sees the same 1% universe, so estimates compose).
  * Production note: at 100 TB the bucket is materialized at ingest
  * (a partition column or a pre-extracted sample table), so the
  * estimate path scans 1% of the bytes; these gates recompute the
  * ground truth in the same pass because they are EVALS — the judge
  * of the estimator, the same role `knn_ivf_recall` plays for ANN and
  * `graph_modularity` for communities.
  *
  * Fixed-point discipline: money in integer cents, the HT variance in
  * DECIMAL(38,0), relative errors as q6 quotients with NON-NEGATIVE
  * `DIV` operands (abs before divide — Spark truncates toward zero,
  * DuckDB floors; they agree only above zero).
  */
object Aqp extends graft.GateModule {

  /** glibc-rand LCG; key is pre-reduced mod the ODD PRIME P so
    * `key*A + C` is exact in a long for ANY 64-bit row key
    * (P·A ≈ 2.2e18 < 2^63) — and, because reduction mod P is a ring
    * homomorphism, (key mod P)·A + C ≡ key·A + C (mod P): the
    * pre-reduction changes nothing but the overflow headroom. */
  private val A = 1103515245L
  private val C = 12345L

  /** Buckets 0..99: a 1% Bernoulli universe per bucket. */
  private val buckets = 100L

  /** lineitem row key: l_orderkey * 8 + l_linenumber (linenumber ≤ 7
    * by TPC-H construction, so the key is collision-free). */
  private def bucketCol: Column =
    pmod(pmod(col("l_orderkey") * 8 + col("l_linenumber"), lit(P))
      * A + C, lit(P)) % buckets

  /** The LCG state is reduced mod this ODD prime — never mod 2^31 —
    * before the mod-100 bucket. An even modulus preserves the key's
    * parity (odd multiplier, odd increment), so a 2^31 reduction
    * followed by `% 100` makes every bucket ~parity-pure: bucket 0's
    * "1% Bernoulli universe" would be ~93% odd-key rows, a biased
    * sampling frame the shared-formula oracle reproduces and cannot
    * catch. (A previous revision applied `% P` AFTER `% 2^31`, which
    * only remaps the ~6.9% of LCG outputs ≥ P and leaves the parity
    * lock in place; the prime must be the reduction modulus itself.) */
  private val P = 2000000011L

  /** Shared base projection: integer cents + sample bucket. */
  private def base(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .select(round(col("l_extendedprice") * 100).cast("long").as("y"),
        bucketCol.cast("long").as("bucket"))

  private val bucketSql =
    "((l_orderkey * 8 + l_linenumber) % 2000000011 * 1103515245 + 12345)" +
      " % 2000000011 % 100"

  private val baseSql =
    s"""b AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
       |  $bucketSql AS bucket FROM lineitem)""".stripMargin

  /** Horvitz–Thompson total from the bucket-0 1% sample, against the
    * full-scan truth: est = 100·Σ_sample y (unbiased for Bernoulli
    * p = 1/100), design variance estimate V̂ = ((1−p)/p²)·Σ_sample y²
    * = 9900·Σ y² (Särndal et al. 1992 eq. 2.8.6, exact in
    * DECIMAL(38,0)), and the realized |error| as a q6 ratio. One scan,
    * one scalar agg — the truth columns are the eval; the deployed
    * estimator reads only the 1%-sized sample partition. */
  def uniformSum(spark: SparkSession, dir: String): DataFrame =
    base(spark, dir).agg(
      count(lit(1)).as("n_total"),
      sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("n_sample"),
      sum(col("y")).as("true_cents"),
      (lit(100L) * sum(when(col("bucket") === 0, col("y")).otherwise(0L)))
        .as("est_cents"),
      sum(when(col("bucket") === 0,
        col("y").cast("decimal(38,0)") * col("y")).otherwise(lit(0)))
        .as("sq"))
      .selectExpr("n_total", "n_sample", "true_cents", "est_cents",
        // V-hat ~2.6e20 exceeds int64 raw; publish the q6-scaled value as
        // BIGINT (DECIMAL(38,0) finals float-ify through DuckDB's pandas
        // bridge and hash-mismatch). Operands non-negative, so DIV is
        // engine-agnostic. The exact DECIMAL form stays internal.
        "CAST((9900 * sq) DIV 1000000 AS BIGINT) AS var_ht_q6",
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * abs(est_cents - true_cents)" +
          " DIV true_cents AS BIGINT) AS abs_err_q6")

  /** Stratified HT: an independent 2% sample per l_returnflag stratum
    * (buckets 0–1, scale 50), estimated and scored within the stratum.
    * Stratification is the variance lever when strata differ in level —
    * the estimator never pays cross-stratum variance — and the
    * deployed form samples each stratum at its Neyman allocation; the
    * fixed 2% here keeps the gate's arithmetic exact. */
  def stratifiedSum(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag").as("stratum"),
        round(col("l_extendedprice") * 100).cast("long").as("y"),
        bucketCol.cast("long").as("bucket"))
      .groupBy("stratum")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("bucket") < 2, 1L).otherwise(0L)).as("n_sample"),
        sum(col("y")).as("true_cents"),
        (lit(50L) * sum(when(col("bucket") < 2, col("y")).otherwise(0L)))
          .as("est_cents"))
      .selectExpr("stratum", "n_total", "n_sample", "true_cents",
        "est_cents",
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * abs(est_cents - true_cents)" +
          " DIV true_cents AS BIGINT) AS abs_err_q6")

  /** Empirical sampling-distribution check: 20 DISJOINT 1% replicates
    * (buckets 0–19), each an independent HT estimate of the same
    * total — the spread IS the standard error, measured instead of
    * modeled (the jackknife/replication idea, Wolter 2007 ch. 2).
    * Published: replicate count, truth, min/avg/max estimate, the
    * worst replicate's q6 relative error, and how many of the 20 land
    * within ±2% — a coverage eval for the uniform estimator's error
    * bar. Plan: one scan to a 100-row per-bucket frame, truth attached
    * by a window over that BOUNDED frame, one final scalar agg. */
  def replicateSpread(spark: SparkSession, dir: String): DataFrame =
    base(spark, dir)
      .groupBy("bucket").agg(sum(col("y")).as("s"))
      // ≤100 rows by construction (bucket ∈ [0,100)) — bounded frame
      .withColumn("true_cents", sum(col("s")).over(Tables.boundedGlobalFrame))
      .filter(col("bucket") < 20)
      .withColumn("est", lit(100L) * col("s"))
      .agg(
        count(lit(1)).as("n_reps"),
        max(col("true_cents")).as("true_cents"),
        min(col("est")).as("min_est"),
        max(col("est")).as("max_est"),
        sum(col("est")).as("sum_est"),
        max(expr("CAST(CAST(1000000 AS DECIMAL(38,0))" +
          " * abs(est - true_cents) DIV true_cents AS BIGINT)"))
          .as("max_abs_err_q6"),
        sum(when(expr("50 * abs(est - true_cents) <= true_cents"), 1L)
          .otherwise(0L)).as("n_within_2pct"))
      .selectExpr("n_reps", "true_cents", "min_est", "max_est",
        "CAST(sum_est DIV n_reps AS BIGINT) AS avg_est",
        "max_abs_err_q6", "n_within_2pct")

  /** Per-group HT estimates with a DESIGN-BASED confidence readout:
    * each o_orderpriority group gets its own 1% estimate, variance, and
    * a `covered` bit testing |est − true| ≤ 2σ̂ — evaluated as the
    * INTEGER comparison (est − true)² ≤ 4·V̂ in DECIMAL(38,0), so the
    * normal-approximation CI is checked without a sqrt or a float
    * anywhere (the squared form is exact; ~95% of groups should cover,
    * and the published bits ARE the coverage eval). The group-by is the
    * deployment shape: one sample scan answers every group's estimate
    * at once, the same reason BlinkDB stratifies — a group too small in
    * the sample shows itself via n_sample and a wide V̂ rather than
    * failing silently. */
  def groupbyCi(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .selectExpr("o_orderpriority AS priority",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS y",
        "(o_orderkey % 2000000011 * 1103515245 + 12345)" +
          " % 2000000011 % 100 AS bucket") // see P's note
      .groupBy("priority")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("n_sample"),
        sum(col("y")).as("true_cents"),
        (lit(100L) * sum(when(col("bucket") === 0, col("y"))
          .otherwise(0L))).as("est_cents"),
        sum(when(col("bucket") === 0,
          col("y").cast("decimal(38,0)") * col("y")).otherwise(lit(0)))
          .as("sq"))
      .selectExpr("priority", "n_total", "n_sample", "true_cents",
        "est_cents",
        // Same BIGINT republish as uniformSum: q6-scaled variance, exact
        // DECIMAL comparison kept internal in the covered bit below.
        "CAST((9900 * sq) DIV 1000000 AS BIGINT) AS var_ht_q6",
        "CAST(CASE WHEN CAST(est_cents - true_cents AS DECIMAL(38,0))" +
          " * (est_cents - true_cents) <= 4 * (9900 * sq)" +
          " THEN 1 ELSE 0 END AS BIGINT) AS covered",
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * abs(est_cents - true_cents)" +
          " DIV true_cents AS BIGINT) AS abs_err_q6")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "aqp_uniform_sum" -> uniformSum _,
    "aqp_stratified_sum" -> stratifiedSum _,
    "aqp_groupby_ci" -> groupbyCi _,
    "aqp_replicate_spread" -> replicateSpread _)

  val oracles: Map[String, String] = Map(
    "aqp_uniform_sum" ->
      s"""WITH $baseSql
         |SELECT CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sample,
         |  CAST(sum(y) AS BIGINT) AS true_cents,
         |  CAST(100 * sum(CASE WHEN bucket = 0 THEN y ELSE 0 END)
         |    AS BIGINT) AS est_cents,
         |  CAST((9900 * sum(CASE WHEN bucket = 0
         |      THEN CAST(y AS HUGEINT) * y ELSE 0 END))
         |    // 1000000 AS BIGINT) AS var_ht_q6,
         |  CAST(1000000 * abs(100 * sum(CASE WHEN bucket = 0 THEN y
         |        ELSE 0 END) - sum(y))
         |    // sum(y) AS BIGINT) AS abs_err_q6
         |FROM b""".stripMargin,
    "aqp_stratified_sum" ->
      s"""WITH b AS (SELECT l_returnflag AS stratum,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
         |    $bucketSql AS bucket FROM lineitem)
         |SELECT stratum, CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN bucket < 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sample,
         |  CAST(sum(y) AS BIGINT) AS true_cents,
         |  CAST(50 * sum(CASE WHEN bucket < 2 THEN y ELSE 0 END)
         |    AS BIGINT) AS est_cents,
         |  CAST(1000000 * abs(50 * sum(CASE WHEN bucket < 2 THEN y
         |        ELSE 0 END) - sum(y))
         |    // sum(y) AS BIGINT) AS abs_err_q6
         |FROM b GROUP BY stratum""".stripMargin,
    "aqp_groupby_ci" ->
      s"""WITH b AS (SELECT o_orderpriority AS priority,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS y,
         |    (o_orderkey % 2000000011 * 1103515245 + 12345)
         |      % 2000000011 % 100 AS bucket
         |  FROM orders),
         |g AS (SELECT priority,
         |    CAST(count(*) AS BIGINT) AS n_total,
         |    CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_sample,
         |    CAST(sum(y) AS BIGINT) AS true_cents,
         |    CAST(100 * sum(CASE WHEN bucket = 0 THEN y ELSE 0 END)
         |      AS BIGINT) AS est_cents,
         |    sum(CASE WHEN bucket = 0 THEN CAST(y AS HUGEINT) * y
         |      ELSE 0 END) AS sq
         |  FROM b GROUP BY priority)
         |SELECT priority, n_total, n_sample, true_cents, est_cents,
         |  CAST((9900 * sq) // 1000000 AS BIGINT) AS var_ht_q6,
         |  CAST(CASE WHEN CAST(est_cents - true_cents AS HUGEINT)
         |      * (est_cents - true_cents) <= 4 * (9900 * sq)
         |    THEN 1 ELSE 0 END AS BIGINT) AS covered,
         |  CAST(1000000 * abs(est_cents - true_cents) // true_cents
         |    AS BIGINT) AS abs_err_q6
         |FROM g""".stripMargin,
    "aqp_replicate_spread" ->
      s"""WITH $baseSql,
         |per AS MATERIALIZED (SELECT bucket, sum(y) AS s FROM b GROUP BY bucket),
         |t AS (SELECT sum(s) AS true_cents FROM per),
         |reps AS (SELECT 100 * s AS est,
         |    (SELECT true_cents FROM t) AS true_cents
         |  FROM per WHERE bucket < 20)
         |SELECT CAST(count(*) AS BIGINT) AS n_reps,
         |  CAST(max(true_cents) AS BIGINT) AS true_cents,
         |  CAST(min(est) AS BIGINT) AS min_est,
         |  CAST(max(est) AS BIGINT) AS max_est,
         |  CAST(sum(est) // count(*) AS BIGINT) AS avg_est,
         |  CAST(max(1000000 * abs(est - true_cents) // true_cents)
         |    AS BIGINT) AS max_abs_err_q6,
         |  CAST(sum(CASE WHEN 50 * abs(est - true_cents) <= true_cents
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_2pct
         |FROM reps""".stripMargin)
}
