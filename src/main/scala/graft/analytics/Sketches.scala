package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Distributed cardinality sketches built from scratch on integer-exact
  * arithmetic — KMV (k minimum values, Bar-Yossef et al. RANDOM 2002)
  * and HyperLogLog (Flajolet et al. AofA 2007) — plus their set-algebra
  * (union / intersection / Jaccard from merged KMV sketches, Beyer et
  * al. SIGMOD 2007).
  *
  * Why this family exists at 100 TB: COUNT(DISTINCT key) is the one
  * aggregate that cannot be partially aggregated losslessly — the exact
  * form shuffles every distinct key. A sketch is a tiny mergeable state
  * (256 longs here) that each executor builds map-side and the driver
  * merges associatively, so the shuffle carries O(k) per partition
  * regardless of data size; set EXPRESSIONS over sketches (|A ∪ B|,
  * |A ∩ B|, Jaccard) then come free without ever co-locating A and B.
  * Spark's own `approx_count_distinct` is this same HLL idea; it is
  * rebuilt here explicitly because (a) the gate must be reproducible in
  * a second engine (the oracle runs the identical integer arithmetic in
  * DuckDB — impossible against Spark's opaque HLL++ registers), and
  * (b) the mergeability law itself is under test (SketchSpec proves
  * sketch(A ⊎ B) == merge(sketch(A), sketch(B)) exactly). Siblings
  * elsewhere in the surface: the per-GROUP KMV via the bounded top-k
  * `Aggregator` ([[OlapQueries.kmvDistinct]], `agg_kmv_distinct`), the
  * theta-style set ops over the 150-user events segment — mostly the
  * exact-collapse branch at gate SFs ([[OlapQueries.kmvSetOps]],
  * `agg_kmv_setops`), and Spark's own HLL gated by a 5% bound boolean
  * (`agg_approx_distinct`). This module adds the regime those can't
  * show: estimators genuinely estimating (ndv ≫ k over order keys),
  * published q6 error columns instead of pass/fail bounds, a
  * from-scratch oracle-reproducible HLL, and the merge laws as specs
  * plus a streaming-state twin ([[graft.streaming.StreamSketch]]).
  *
  * Hash: two glibc-rand LCG rounds mod 2^31 (same constants as [[Aqp]]
  * / TrainPrep), then an xorshift fold (h ^= h >> 15), then one more
  * LCG round. Each step is a PERMUTATION of [0, 2^31) — LCG rounds
  * because A ≡ 5 (mod 8) and C is odd, the xorshift because the
  * untouched high 16 bits recover the folded low 15 — so for keys
  * below 2^31 (all TPC-H surrogate keys) the composition is
  * collision-FREE: distinct-hash counts equal distinct-key counts
  * exactly, which the spec asserts. The xorshift is NOT optional: HLL
  * reads leading-zero runs of the LOW 23 bits, exactly where an LCG's
  * lattice structure lives — measured on this corpus, pure-LCG
  * registers inflate the estimate +98% at sf0.01 and collapse it −65%
  * at sf0.1, while the folded hash holds ±2.4% at both (theory for
  * m = 256 is ±6.5%). Realized error is itself a published gate column
  * (the eval-next-to-operator pattern). Every estimate/error lands in
  * BIGINT via `DIV` with non-negative operands (Spark truncates toward
  * zero, DuckDB floors — they agree only above zero).
  */
object Sketches extends graft.GateModule {

  private val A = 1103515245L
  private val C = 12345L
  private val M = 2147483648L

  /** Sketch size: 256 min-values (KMV) / 2^8 registers (HLL). */
  private val k = 256

  /** The full hash as a Column (spec use). Every product stays exact
    * in a long: (2^31)·A + C < 2^62. */
  def hash31(key: Column): Column = {
    val h2 = ((pmod(key, lit(M)) * A + C) % M * A + C) % M
    (h2.bitwiseXOR(shiftright(h2, 15)) * A + C) % M
  }

  /** Stage 1 (the two LCG rounds) as a SQL fragment shared
    * char-identical by both engines (all operands non-negative, so `%`
    * is the same remainder in both). */
  private[graft] def h2Expr(key: String): String =
    s"(($key % 2147483648 * 1103515245 + 12345) % 2147483648" +
      " * 1103515245 + 12345) % 2147483648"

  /** Stage 2 (xorshift fold + final LCG round) over a column named
    * `h2`; xor spells differently per engine, hence two forms. */
  private[graft] val finSpark =
    "((h2 ^ shiftright(h2, 15)) * 1103515245 + 12345) % 2147483648"
  private val finDuck =
    "(xor(h2, h2 >> 15) * 1103515245 + 12345) % 2147483648"

  /** KMV distinct-count over lineitem order keys, scored against the
    * exact count in the same result row.
    *
    * Plan shape: the scan dedupes hashes map-side (partial aggregate),
    * so the shuffle carries distinct 8-byte hashes only; the k smallest
    * come out of TakeOrderedAndProject (per-partition top-k, then a
    * k·P-row driver merge) — no global sort at any size. Estimator:
    * with hashes uniform on [0, M), the n-th smallest of ndv draws sits
    * near n·M/ndv, so ndv ≈ (n_k − 1)·M / h_(n_k) (the KMV unbiased
    * form; n_k = k once ndv ≥ k, degrading gracefully at toy SFs). */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    // ndv-sized frame (8-byte hashes), materialized once because both
    // the sketch and the exact-truth aggregate read it.
    val h = Tables.load(spark, dir, "lineitem")
      .selectExpr(s"${h2Expr("l_orderkey")} AS h2")
      .selectExpr(s"$finSpark AS hv")
      .distinct()
      .localCheckpoint(true)
    // The two one-row aggregates meet on an AGGREGATE-produced constant
    // key: max(lit(1)) is not foldable, so the optimizer cannot
    // constant-propagate the condition into `true` and the combine
    // stays a BroadcastHashJoin — never a cartesian (PlanAuditSpec
    // enforces the no-nested-loop invariant surface-wide).
    val sk = h.orderBy("hv").limit(k)
      .agg(count(lit(1)).as("n_k"), max("hv").as("kth_hash"),
        max(lit(1)).as("jk"))
    val truth = h.agg(count(lit(1)).as("true_ndv"), max(lit(1)).as("jk"))
    sk.join(broadcast(truth), "jk")
      .withColumn("est_ndv",
        expr("CAST((n_k - 1) * 2147483648 DIV kth_hash AS BIGINT)"))
      .selectExpr("n_k", "kth_hash", "est_ndv", "true_ndv",
        "CAST(1000000 * abs(est_ndv - true_ndv) DIV true_ndv AS BIGINT)" +
          " AS err_q6")
  }

  /** Set algebra from ONE pass and ONE merged sketch: |A ∪ B|, |A ∩ B|,
    * and Jaccard for A = order keys with a returned line ('A'), B =
    * order keys with a non-returned line ('N') — |A∩B|/|A∪B| ≈ 0.58 on
    * this corpus, so the estimators are genuinely exercised.
    *
    * The grouped frame keeps per-distinct-hash membership FLAGS
    * (max-of-indicator — itself a mergeable aggregate), so the union
    * sketch's k smallest rows already know each member's A/B sides:
    * Jaccard_est = |{top-k} ∩ A ∩ B| / k (Beyer et al.'s KMV
    * intersection estimator) and |A∩B|_est = Jaccard_est · |A∪B|_est.
    * At 100 TB neither A nor B is ever shuffled whole, and the same
    * merged sketch answers any boolean combination of the flags. */
  def kmvUnion(spark: SparkSession, dir: String): DataFrame = {
    val g0 = Tables.load(spark, dir, "lineitem")
      .filter(col("l_returnflag").isin("A", "N"))
      .selectExpr(s"${h2Expr("l_orderkey")} AS h2", "l_returnflag AS rf")
      .selectExpr(s"$finSpark AS hv", "rf")
      .groupBy("hv")
      .agg(max(when(col("rf") === "A", 1L).otherwise(0L)).as("in_a"),
        max(when(col("rf") === "N", 1L).otherwise(0L)).as("in_b"))
    // ndv(A∪B)-sized; sketch + truth both read it
    val g = g0.localCheckpoint(true)
    // same constant-key combine as kmvDistinct — hash join, no cartesian
    val s = g.orderBy("hv").limit(k)
      .agg(count(lit(1)).as("k_eff"), max("hv").as("kth_hash"),
        sum(col("in_a") * col("in_b")).as("m_both"), max(lit(1)).as("jk"))
    val truth = g.agg(count(lit(1)).as("true_union"),
      sum(col("in_a") * col("in_b")).as("true_inter"), max(lit(1)).as("jk"))
    s.join(broadcast(truth), "jk")
      .withColumn("est_union",
        expr("CAST((k_eff - 1) * 2147483648 DIV kth_hash AS BIGINT)"))
      .selectExpr("k_eff", "m_both", "est_union", "true_union",
        "CAST(m_both * est_union DIV k_eff AS BIGINT) AS est_inter",
        "true_inter",
        "CAST(1000000 * m_both DIV k_eff AS BIGINT) AS jacc_q6_est",
        "CAST(1000000 * true_inter DIV true_union AS BIGINT)" +
          " AS jacc_q6_true",
        "CAST(1000000 * abs(est_union - true_union) DIV true_union" +
          " AS BIGINT) AS err_q6")
  }

  /** From-scratch HyperLogLog (p = 8, m = 256 registers) over the same
    * key domain, with the exact count carried as the eval.
    *
    * bucket = high 8 hash bits (LCG low bits cycle short — never bucket
    * on them), rho = leading-zero rank of the remaining 23 bits via
    * length(bin(x)) (identical in both engines; the rest = 0 row, rho =
    * 24, is CASE-guarded because bin(0) = "0" has length 1). Registers
    * are a groupBy-max — duplicates never matter, so no pre-distinct —
    * and the raw estimate alpha_256 · m² / Σ 2^(−reg) is evaluated in
    * scaled integers: est = alpha_q6 · m² · 2^24 DIV (10^6 · Σ
    * 2^(24−reg)), every intermediate < 2^63. No small-range correction:
    * ndv/m ≈ 58 at the verify SF (and ~575 at bench SF), far above the
    * 2.5·m linear-counting regime; the published err_q6 keeps the bias
    * honest. Exact truth rides the same single shuffle: buckets
    * partition the hash space, so Σ_bucket count(DISTINCT hv) is the
    * global distinct count. */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .selectExpr(s"${h2Expr("l_orderkey")} AS h2")
      .selectExpr(s"$finSpark AS hv")
      .selectExpr("hv DIV 8388608 AS bucket", "hv % 8388608 AS rest", "hv")
      .selectExpr("bucket", "hv",
        "CASE WHEN rest = 0 THEN 24 ELSE 24 - length(bin(rest)) END AS rho")
      .groupBy("bucket")
      .agg(max("rho").as("reg"), countDistinct("hv").as("nd"))
      .agg(count(lit(1)).as("nz_regs"),
        expr("sum(shiftleft(CAST(1 AS BIGINT), 24 - reg))").as("s_filled"),
        sum("nd").as("true_ndv"))
      .withColumn("s_total",
        expr("CAST(s_filled + (256 - nz_regs) * 16777216 AS BIGINT)"))
      .withColumn("est_ndv",
        expr("CAST(CAST(718272 AS BIGINT) * 65536 * 16777216" +
          " DIV (1000000 * s_total) AS BIGINT)"))
      .selectExpr("CAST(256 AS BIGINT) AS m", "nz_regs", "s_total",
        "est_ndv", "true_ndv",
        "CAST(1000000 * abs(est_ndv - true_ndv) DIV true_ndv AS BIGINT)" +
          " AS err_q6")

  /** HLL set algebra on the same A/N order-key sets as [[kmvUnion]],
    * so the two families' estimates land side by side: the UNION
    * sketch of two independently-built register sets is their
    * elementwise max (the merge law as an OPERATOR — at 100 TB the A
    * and B registers come from different jobs, clusters, or days and
    * never see each other's rows), and the intersection falls out by
    * inclusion–exclusion, est_a + est_b − est_union. The published
    * `est_inter` is SIGNED: inclusion–exclusion subtracts three ±6.5%
    * estimates, so its relative error is amplified by roughly
    * (|A|+|B|+|A∪B|)/|A∩B| — the textbook reason KMV's direct Jaccard
    * beats HLL for intersections, and the reason both gates exist. One
    * scan: per-hash membership flags, per-bucket null-skipping max per
    * side, a ≤256-row readout. */
  def hllUnion(spark: SparkSession, dir: String): DataFrame = {
    val est = (s: String, n: String) =>
      s"CAST(CAST(718272 AS BIGINT) * 65536 * 16777216" +
        s" DIV (1000000 * ($s + (256 - $n) * 16777216)) AS BIGINT)"
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_returnflag").isin("A", "N"))
      .selectExpr(s"${h2Expr("l_orderkey")} AS h2", "l_returnflag AS rf")
      .selectExpr(s"$finSpark AS hv", "rf")
      .groupBy("hv")
      .agg(max(when(col("rf") === "A", 1L).otherwise(0L)).as("in_a"),
        max(when(col("rf") === "N", 1L).otherwise(0L)).as("in_b"))
      .selectExpr("hv DIV 8388608 AS bucket", "hv % 8388608 AS rest",
        "in_a", "in_b")
      .selectExpr("bucket", "in_a", "in_b",
        "CASE WHEN rest = 0 THEN 24 ELSE 24 - length(bin(rest)) END AS rho")
      .groupBy("bucket")
      .agg(max(when(col("in_a") === 1L, col("rho"))).as("reg_a"),
        max(when(col("in_b") === 1L, col("rho"))).as("reg_b"),
        max("rho").as("reg_u"), // union register == max(reg_a, reg_b)
        sum("in_a").as("nd_a"), sum("in_b").as("nd_b"),
        sum(col("in_a") * col("in_b")).as("nd_i"))
      .agg(count("reg_a").as("nz_a"), count("reg_b").as("nz_b"),
        count(lit(1)).as("nz_u"),
        expr("sum(coalesce(shiftleft(CAST(1 AS BIGINT), 24 - reg_a), 0))")
          .as("s_a"),
        expr("sum(coalesce(shiftleft(CAST(1 AS BIGINT), 24 - reg_b), 0))")
          .as("s_b"),
        expr("sum(shiftleft(CAST(1 AS BIGINT), 24 - reg_u))").as("s_u"),
        sum("nd_a").as("true_a"), sum("nd_b").as("true_b"),
        sum(col("nd_a") + col("nd_b") - col("nd_i")).as("true_union"),
        sum("nd_i").as("true_inter"))
      .withColumn("est_a", expr(est("s_a", "nz_a")))
      .withColumn("est_b", expr(est("s_b", "nz_b")))
      .withColumn("est_union", expr(est("s_u", "nz_u")))
      .selectExpr("est_a", "true_a", "est_b", "true_b",
        "est_union", "true_union",
        "CAST(est_a + est_b - est_union AS BIGINT) AS est_inter",
        "true_inter",
        "CAST(1000000 * abs(est_union - true_union) DIV true_union" +
          " AS BIGINT) AS err_union_q6")
  }

  /** Mergeable quantile sketch: an HDR-style base-2 histogram with 4
    * sub-bucket bits — every order total truncated to its top 5
    * significant bits — giving per-cell relative width ≤ 1/16 (6.25%)
    * and a cell count bounded by DOMAIN BITS (≤ 26 octaves × 16 ≈ 400
    * cells), never by data volume or value cardinality. That is the
    * 100 TB contrast with [[OlapQueries.percentileBanded]]'s EXACT
    * cents dictionary (~10^5 cells and growing with the price domain):
    * the histogram is a fixed-size, addition-mergeable state — same
    * law as the HLL registers — that each executor builds map-side.
    *
    * The quantile readout is the same integer crossing test as the
    * exact gate (`100·cum ≥ q·n` on the first cell, strictly below on
    * the prior), which PROVES the bracket: the crossing cell must
    * contain the exact q-th value (values below the cell are fewer
    * than q·n/100, values through it are not), so the published
    * `within` bit is a soundness eval that can only be 1, and
    * `rel_width_q6 ≤ 62500` is the guaranteed error bar. Exact truth
    * comes from [[OlapQueries.percentileBanded]] itself (3 rows,
    * broadcast) — one definition of "exact percentile", two gates. */
  def histQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.load(spark, dir, "orders")
      .selectExpr("CAST(round(o_totalprice * 100) AS BIGINT) AS v")
      .selectExpr(
        "CASE WHEN v < 16 THEN v ELSE shiftleft(shiftright(v," +
          " length(bin(v)) - 5), length(bin(v)) - 5) END AS lo",
        "CASE WHEN v < 16 THEN CAST(1 AS BIGINT)" +
          " ELSE shiftleft(CAST(1 AS BIGINT), length(bin(v)) - 5) END AS w")
      .groupBy("lo", "w").agg(count(lit(1)).as("cnt"))
    // ≤ ~400 cells by construction — bounded global window territory
    val wCum = Tables.boundedGlobalWindow(col("lo"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Tables.boundedGlobalWindow(col("lo"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val br = cells
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wTot))
      .withColumn("q", explode(array(lit(50L), lit(90L), lit(99L))))
      .filter(col("cum") * 100 >= col("q") * col("n")
        && (col("cum") - col("cnt")) * 100 < col("q") * col("n"))
      .select(col("q"), col("lo").as("cell_lo"),
        (col("lo") + col("w") - 1).as("cell_hi"), col("n"))
    val exact = OlapQueries.percentileBanded(spark, dir)
      .select(col("q"), col("value_cents").as("exact_cents"))
    br.join(broadcast(exact), "q")
      .selectExpr("q", "cell_lo", "cell_hi", "exact_cents", "n",
        "CAST(CASE WHEN exact_cents BETWEEN cell_lo AND cell_hi" +
          " THEN 1 ELSE 0 END AS BIGINT) AS within",
        "CAST(1000000 * (cell_hi - cell_lo) DIV cell_lo AS BIGINT)" +
          " AS rel_width_q6")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_kmv_distinct" -> kmvDistinct _,
    "sketch_kmv_union" -> kmvUnion _,
    "sketch_hll_distinct" -> hllDistinct _,
    "sketch_hll_union" -> hllUnion _,
    "sketch_hist_quantiles" -> histQuantiles _)

  val oracles: Map[String, String] = Map(
    "sketch_kmv_distinct" ->
      s"""WITH h0 AS (
         |  SELECT ${h2Expr("l_orderkey")} AS h2 FROM lineitem),
         |h AS MATERIALIZED (SELECT DISTINCT $finDuck AS hv FROM h0),
         |sk AS (SELECT hv FROM h ORDER BY hv LIMIT 256),
         |s AS (SELECT count(*) AS n_k, max(hv) AS kth_hash FROM sk),
         |t AS (SELECT count(*) AS true_ndv FROM h),
         |e AS (SELECT n_k, kth_hash,
         |    (n_k - 1) * 2147483648 // kth_hash AS est_ndv, true_ndv
         |  FROM s, t)
         |SELECT CAST(n_k AS BIGINT) AS n_k,
         |  CAST(kth_hash AS BIGINT) AS kth_hash,
         |  CAST(est_ndv AS BIGINT) AS est_ndv,
         |  CAST(true_ndv AS BIGINT) AS true_ndv,
         |  CAST(1000000 * abs(est_ndv - true_ndv) // true_ndv AS BIGINT)
         |    AS err_q6
         |FROM e""".stripMargin,
    "sketch_kmv_union" ->
      s"""WITH h0 AS (
         |  SELECT ${h2Expr("l_orderkey")} AS h2, l_returnflag
         |  FROM lineitem WHERE l_returnflag IN ('A', 'N')),
         |g AS MATERIALIZED (
         |  SELECT $finDuck AS hv,
         |    max(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS in_b
         |  FROM h0 GROUP BY 1),
         |sk AS (SELECT * FROM g ORDER BY hv LIMIT 256),
         |s AS (SELECT count(*) AS k_eff, max(hv) AS kth_hash,
         |    sum(in_a * in_b) AS m_both FROM sk),
         |t AS (SELECT count(*) AS true_union,
         |    sum(in_a * in_b) AS true_inter FROM g),
         |e AS (SELECT k_eff, m_both,
         |    (k_eff - 1) * 2147483648 // kth_hash AS est_union,
         |    true_union, true_inter FROM s, t)
         |SELECT CAST(k_eff AS BIGINT) AS k_eff,
         |  CAST(m_both AS BIGINT) AS m_both,
         |  CAST(est_union AS BIGINT) AS est_union,
         |  CAST(true_union AS BIGINT) AS true_union,
         |  CAST(m_both * est_union // k_eff AS BIGINT) AS est_inter,
         |  CAST(true_inter AS BIGINT) AS true_inter,
         |  CAST(1000000 * m_both // k_eff AS BIGINT) AS jacc_q6_est,
         |  CAST(1000000 * true_inter // true_union AS BIGINT)
         |    AS jacc_q6_true,
         |  CAST(1000000 * abs(est_union - true_union) // true_union
         |    AS BIGINT) AS err_q6
         |FROM e""".stripMargin,
    "sketch_hll_union" ->
      s"""WITH h0 AS (
         |  SELECT ${h2Expr("l_orderkey")} AS h2, l_returnflag
         |  FROM lineitem WHERE l_returnflag IN ('A', 'N')),
         |g AS (
         |  SELECT $finDuck AS hv,
         |    max(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS in_b
         |  FROM h0 GROUP BY 1),
         |r AS (SELECT hv // 8388608 AS bucket, in_a, in_b,
         |    CASE WHEN hv % 8388608 = 0 THEN 24
         |      ELSE 24 - length(bin(hv % 8388608)) END AS rho
         |  FROM g),
         |gb AS (SELECT bucket,
         |    max(CASE WHEN in_a = 1 THEN rho END) AS reg_a,
         |    max(CASE WHEN in_b = 1 THEN rho END) AS reg_b,
         |    max(rho) AS reg_u,
         |    sum(in_a) AS nd_a, sum(in_b) AS nd_b,
         |    sum(in_a * in_b) AS nd_i
         |  FROM r GROUP BY bucket),
         |a AS (SELECT count(reg_a) AS nz_a, count(reg_b) AS nz_b,
         |    count(*) AS nz_u,
         |    sum(coalesce(CAST(1 AS BIGINT) << (24 - reg_a), 0)) AS s_a,
         |    sum(coalesce(CAST(1 AS BIGINT) << (24 - reg_b), 0)) AS s_b,
         |    sum(CAST(1 AS BIGINT) << (24 - reg_u)) AS s_u,
         |    sum(nd_a) AS true_a, sum(nd_b) AS true_b,
         |    sum(nd_a + nd_b - nd_i) AS true_union,
         |    sum(nd_i) AS true_inter
         |  FROM gb),
         |e AS (SELECT
         |    CAST(718272 AS BIGINT) * 65536 * 16777216
         |      // (1000000 * (s_a + (256 - nz_a) * 16777216)) AS est_a,
         |    CAST(718272 AS BIGINT) * 65536 * 16777216
         |      // (1000000 * (s_b + (256 - nz_b) * 16777216)) AS est_b,
         |    CAST(718272 AS BIGINT) * 65536 * 16777216
         |      // (1000000 * (s_u + (256 - nz_u) * 16777216)) AS est_union,
         |    true_a, true_b, true_union, true_inter
         |  FROM a)
         |SELECT CAST(est_a AS BIGINT) AS est_a,
         |  CAST(true_a AS BIGINT) AS true_a,
         |  CAST(est_b AS BIGINT) AS est_b,
         |  CAST(true_b AS BIGINT) AS true_b,
         |  CAST(est_union AS BIGINT) AS est_union,
         |  CAST(true_union AS BIGINT) AS true_union,
         |  CAST(est_a + est_b - est_union AS BIGINT) AS est_inter,
         |  CAST(true_inter AS BIGINT) AS true_inter,
         |  CAST(1000000 * abs(est_union - true_union) // true_union
         |    AS BIGINT) AS err_union_q6
         |FROM e""".stripMargin,
    "sketch_hist_quantiles" ->
      """WITH y AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders),
        |c0 AS (SELECT
        |    CASE WHEN v < 16 THEN v
        |      ELSE (v >> (length(bin(v)) - 5)) << (length(bin(v)) - 5)
        |      END AS lo,
        |    CASE WHEN v < 16 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(1 AS BIGINT) << (length(bin(v)) - 5) END AS w
        |  FROM y),
        |cells AS (SELECT lo, w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM c0 GROUP BY 1, 2),
        |cum AS (SELECT *,
        |    CAST(sum(cnt) OVER (ORDER BY lo) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS n
        |  FROM cells),
        |br AS (SELECT CAST(q.q AS BIGINT) AS q, lo AS cell_lo,
        |    lo + w - 1 AS cell_hi, n
        |  FROM cum, (SELECT unnest([50, 90, 99]) AS q) q
        |  WHERE cum * 100 >= q.q * n AND (cum - cnt) * 100 < q.q * n),
        |h AS (SELECT v AS cents, CAST(count(*) AS BIGINT) AS cnt
        |  FROM y GROUP BY 1),
        |c AS (SELECT *,
        |    CAST(sum(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS n
        |  FROM h),
        |ex AS (SELECT CAST(q.q AS BIGINT) AS q, cents AS exact_cents
        |  FROM c, (SELECT unnest([50, 90, 99]) AS q) q
        |  WHERE cum * 100 >= q.q * n AND (cum - cnt) * 100 < q.q * n)
        |SELECT br.q, cell_lo, cell_hi, exact_cents, n,
        |  CAST(CASE WHEN exact_cents BETWEEN cell_lo AND cell_hi
        |    THEN 1 ELSE 0 END AS BIGINT) AS within,
        |  CAST(1000000 * (cell_hi - cell_lo) // cell_lo AS BIGINT)
        |    AS rel_width_q6
        |FROM br JOIN ex ON br.q = ex.q""".stripMargin,
    "sketch_hll_distinct" ->
      s"""WITH h0 AS (
         |  SELECT ${h2Expr("l_orderkey")} AS h2 FROM lineitem),
         |h AS (SELECT $finDuck AS hv FROM h0),
         |r AS (SELECT hv // 8388608 AS bucket, hv,
         |    CASE WHEN hv % 8388608 = 0 THEN 24
         |      ELSE 24 - length(bin(hv % 8388608)) END AS rho
         |  FROM h),
         |g AS (SELECT bucket, max(rho) AS reg, count(DISTINCT hv) AS nd
         |  FROM r GROUP BY bucket),
         |a AS (SELECT count(*) AS nz_regs,
         |    sum(CAST(1 AS BIGINT) << (24 - reg)) AS s_filled,
         |    sum(nd) AS true_ndv FROM g),
         |e AS (SELECT nz_regs,
         |    CAST(s_filled + (256 - nz_regs) * 16777216 AS BIGINT)
         |      AS s_total, true_ndv FROM a),
         |f AS (SELECT nz_regs, s_total,
         |    CAST(718272 AS BIGINT) * 65536 * 16777216
         |      // (1000000 * s_total) AS est_ndv, true_ndv FROM e)
         |SELECT CAST(256 AS BIGINT) AS m, CAST(nz_regs AS BIGINT) AS nz_regs,
         |  CAST(s_total AS BIGINT) AS s_total,
         |  CAST(est_ndv AS BIGINT) AS est_ndv,
         |  CAST(true_ndv AS BIGINT) AS true_ndv,
         |  CAST(1000000 * abs(est_ndv - true_ndv) // true_ndv AS BIGINT)
         |    AS err_q6
         |FROM f""".stripMargin)
}
