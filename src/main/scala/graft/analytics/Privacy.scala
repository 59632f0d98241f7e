package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Differentially-private release mechanisms over the order stream —
  * the privacy layer a shared 100 TB corpus needs before per-group
  * statistics leave the cluster, complementing the suppression side
  * ([[DataQuality.kAnonymize]], PII redaction) with the NOISE side:
  *
  *  - [[randomizedResponse]] — LOCAL DP (Warner 1965): every row lies
  *    about a binary attribute with probability 1/4 before any
  *    aggregation sees it (ε = ln 3 per row), and the aggregate
  *    debiases the lie rate away. The estimator is published in its
  *    ×2 integer form so the gate is division-free and exact.
  *  - [[laplaceCounts]] — CENTRAL DP (Dwork et al. 2006, discrete
  *    form): per-group counts plus two-sided-geometric noise with
  *    α = 1/2 (ε = ln 2 for a sensitivity-1 count). The noise is
  *    sampled EXACTLY in integer arithmetic: X = G₁ − G₂ with
  *    Gᵢ ~ Geometric(1/2) read off as the trailing-zero count of a
  *    uniform 31-bit integer — P(tz = k) = 2^{-(k+1)}, the geometric
  *    law, no float, no log, no rejection loop.
  *
  * Determinism: randomness derives from the house 3-stage LCG hash
  * (same constants as [[Aqp]]/[[Sketches]]; the xorshift fold breaks
  * the LCG's low-bit lattice, which matters here MORE than for HLL —
  * trailing-zero counts read exactly the bits a raw power-of-two LCG
  * gets wrong). That makes every noise draw reproducible in both
  * engines — the oracle runs the identical sampler — and the gate
  * bitwise-stable under partitioning and retries. A production
  * deployment swaps the key-derived seed for secure per-release
  * randomness; the mechanism, sensitivity accounting, and plan shape
  * are unchanged (the same determinization precedent as [[Aqp]]'s
  * sample buckets).
  *
  * Scale shape: both gates are one partial+final hash agg over a
  * pushed-down scan; the noise arithmetic runs on the GROUP rows
  * (5 here, bounded by group cardinality), never on the corpus.
  */
object Privacy extends graft.GateModule {

  /** 3-stage hash of an integer expression: two LCG rounds, xorshift
    * fold, final LCG round — uniform on [0, 2^31). xor and
    * right-shift spell differently per engine (`^`/`shiftright` vs
    * `xor()`/`>>`), hence the two renderings of one formula. */
  private def h3(key: String, xorShift15: String => String): String = {
    val h2 = s"(($key % 2147483648 * 1103515245 + 12345) % 2147483648" +
      " * 1103515245 + 12345) % 2147483648"
    s"(${xorShift15(s"($h2)")} * 1103515245 + 12345) % 2147483648"
  }
  private def h3Spark(key: String): String =
    h3(key, h => s"($h ^ shiftright($h, 15))")
  private def h3Duck(key: String): String =
    h3(key, h => s"xor($h, $h >> 15)")

  /** Trailing-zero count of a uniform value `u` on [0, 2^31):
    * tz(u) = log2(lowest set bit); Geometric(1/2) on {0,1,...} with
    * the u = 0 tail capped at 31. `length(bin(x)) - 1` IS log2 for a
    * power of two in both engines. */
  private def tz(u: String): String =
    s"CASE WHEN ($u) = 0 THEN 31" +
      s" ELSE CAST(length(bin(($u) & -($u))) - 1 AS BIGINT) END"

  /** Local-DP share of fulfilled orders per priority. Each row reports
    * `o_orderstatus = 'F'` truthfully unless its hash lands in the
    * flip bucket (probability 1/4): ε = ln(3/4 / (1/4)) = ln 3.
    * Debiasing p = 3/4: E[reported] = p·t + (1−p)(n−t) ⇒
    * t̂ = (4·reported − n) / 2, published division-free as
    * est_x2 = 4·reported_f − n_rows alongside 2·eval_true_f and the |gap|,
    * so the eval is exact integers end-to-end (est_x2 may be negative
    * in a tiny group — publishing the ×2 numerator avoids the signed
    * DIV trap entirely). eval_true_f never leaves the gate in production —
    * it is the eval column, same convention as [[Aqp]]. */
  def randomizedResponse(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .selectExpr("o_orderpriority AS priority",
        "CASE WHEN o_orderstatus = 'F' THEN 1L ELSE 0L END AS b",
        s"CASE WHEN ${h3Spark("o_orderkey")} % 4 = 0 THEN 1L ELSE 0L END" +
          " AS flip")
      .selectExpr("priority", "b",
        "CASE WHEN flip = 1 THEN 1 - b ELSE b END AS reported")
      .groupBy("priority")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("b")).as("eval_true_f"),
        sum(col("reported")).as("reported_f"))
      .selectExpr("priority", "n_rows", "eval_true_f", "reported_f",
        "4 * reported_f - n_rows AS est_x2",
        "abs((4 * reported_f - n_rows) - 2 * eval_true_f) AS abs_gap_x2")

  /** Central-DP noisy order counts per priority: discrete Laplace
    * (two-sided geometric) with α = 1/2, ε = ln 2 at count
    * sensitivity 1. G₁/G₂ come from trailing zeros of two independent
    * hash draws seeded off the group's min order key (deterministic,
    * engine-identical; see object doc for the production-randomness
    * caveat). Published: the true count (eval), both geometrics, the
    * signed noise, and the released noisy count. */
  def laplaceCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("eval_n_true"),
        min(col("o_orderkey")).as("seed"))
      .selectExpr("priority", "eval_n_true",
        s"${tz(h3Spark("seed"))} AS g1",
        s"${tz(h3Spark("(seed + 1)"))} AS g2")
      .selectExpr("priority", "eval_n_true", "g1", "g2",
        "g1 - g2 AS noise",
        "eval_n_true + g1 - g2 AS n_noisy")

  /** Clip bound for [[sumClipped]], in cents ($10k): per-row
    * contribution — hence sum sensitivity — is capped here, the
    * standard lever that makes a DP sum's noise independent of
    * outliers (a single whale order would otherwise force
    * whale-scale noise onto every group). */
  val ClipC = 1000000L

  /** Central-DP noisy revenue per priority with per-row clipping and
    * LATTICE release: rows are clipped to [[ClipC]], the clipped sum
    * is rounded to the C-lattice (q = (Σ + C/2) DIV C), and discrete
    * Laplace(α=1/2) noise is added IN LATTICE UNITS — releasing
    * C·(q + noise). Quantize-then-noise matters: adding C-scaled
    * noise to the raw sum would leak the residue mod C exactly; on
    * the lattice the release is ε = ln 2 DP for the sensitivity-1
    * quantized statistic (one row moves q by at most 1). True and
    * clipped sums are published as the eval columns, same convention
    * as [[Aqp]]. */
  def sumClipped(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .selectExpr("o_orderpriority AS priority", "o_orderkey",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      .groupBy("priority")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).as("eval_true_sum_c"),
        sum(least(col("cents"), lit(ClipC))).as("eval_clipped_sum_c"),
        min(col("o_orderkey")).as("seed"))
      .selectExpr("priority", "n_rows", "eval_true_sum_c", "eval_clipped_sum_c",
        s"(eval_clipped_sum_c + ${ClipC / 2}) DIV $ClipC AS q_true",
        s"${tz(h3Spark("(seed + 2)"))} - ${tz(h3Spark("(seed + 3)"))}" +
          " AS noise")
      .selectExpr("priority", "n_rows", "eval_true_sum_c", "eval_clipped_sum_c",
        "q_true", "noise",
        s"(q_true + noise) * $ClipC AS released_c")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dp_randomized_response" -> randomizedResponse _,
    "dp_laplace_counts" -> laplaceCounts _,
    "dp_sum_clipped" -> sumClipped _)

  private def tzDuck(u: String): String =
    s"CASE WHEN ($u) = 0 THEN 31" +
      s" ELSE CAST(length(bin(($u) & -($u))) - 1 AS BIGINT) END"

  val oracles: Map[String, String] = Map(
    "dp_randomized_response" ->
      s"""WITH r AS (SELECT o_orderpriority AS priority,
         |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS b,
         |    CASE WHEN ${h3Duck("o_orderkey")} % 4 = 0
         |      THEN 1 ELSE 0 END AS flip
         |  FROM orders),
         |g AS (SELECT priority,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(sum(b) AS BIGINT) AS eval_true_f,
         |    CAST(sum(CASE WHEN flip = 1 THEN 1 - b ELSE b END)
         |      AS BIGINT) AS reported_f
         |  FROM r GROUP BY priority)
         |SELECT priority, n_rows, eval_true_f, reported_f,
         |  CAST(4 * reported_f - n_rows AS BIGINT) AS est_x2,
         |  CAST(abs((4 * reported_f - n_rows) - 2 * eval_true_f) AS BIGINT)
         |    AS abs_gap_x2
         |FROM g""".stripMargin,
    "dp_sum_clipped" ->
      s"""WITH g AS (SELECT o_orderpriority AS priority,
         |    CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |      AS BIGINT) AS eval_true_sum_c,
         |    CAST(sum(least(CAST(round(o_totalprice * 100) AS BIGINT),
         |      $ClipC)) AS BIGINT) AS eval_clipped_sum_c,
         |    CAST(min(o_orderkey) AS BIGINT) AS seed
         |  FROM orders GROUP BY o_orderpriority),
         |z AS (SELECT priority, n_rows, eval_true_sum_c, eval_clipped_sum_c,
         |    CAST((eval_clipped_sum_c + ${ClipC / 2}) // $ClipC AS BIGINT)
         |      AS q_true,
         |    CAST(${tzDuck(h3Duck("(seed + 2)"))}
         |      - ${tzDuck(h3Duck("(seed + 3)"))} AS BIGINT) AS noise
         |  FROM g)
         |SELECT priority, n_rows, eval_true_sum_c, eval_clipped_sum_c, q_true,
         |  noise, CAST((q_true + noise) * $ClipC AS BIGINT) AS released_c
         |FROM z""".stripMargin,
    "dp_laplace_counts" ->
      s"""WITH g AS (SELECT o_orderpriority AS priority,
         |    CAST(count(*) AS BIGINT) AS eval_n_true,
         |    CAST(min(o_orderkey) AS BIGINT) AS seed
         |  FROM orders GROUP BY o_orderpriority),
         |z AS (SELECT priority, eval_n_true,
         |    ${tzDuck(h3Duck("seed"))} AS g1,
         |    ${tzDuck(h3Duck("(seed + 1)"))} AS g2
         |  FROM g)
         |SELECT priority, eval_n_true, g1, g2,
         |  CAST(g1 - g2 AS BIGINT) AS noise,
         |  CAST(eval_n_true + g1 - g2 AS BIGINT) AS n_noisy
         |FROM z""".stripMargin)
}
