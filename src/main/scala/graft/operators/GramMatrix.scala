package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gram / scatter matrix over the embedding corpus — the sufficient
  * statistic behind PCA, whitening, linear probes and covariance
  * estimation: G[i][j] = Σ_vec v[i]·v[j], a d×d matrix accumulated in
  * ONE pass over n vectors. At 100 TB this is the canonical "big data,
  * small model" reduction: per-partition partial Gram matrices merge by
  * addition, so the shuffle carries O(partitions · d²) cells while the
  * scan does all the work.
  *
  * Exact arithmetic: float dot-sums are order-dependent, so the gate
  * quantizes to a FIXED integer grid first (q = round(v·1000) — unlike
  * `embed_quantize`'s per-vector scale, a shared grid is what makes
  * cross-vector sums meaningful) and accumulates exact integers;
  * |q|≤1024, so a cell bounds at n·2^20 — BIGINT-safe past 10^12
  * vectors.
  *
  * Shape: double posexplode fans each vector into its d·(d+1)/2 upper-
  * triangle terms and a hash aggregate folds them — ALL inside
  * whole-stage codegen with map-side partial aggregation, so each
  * partition emits at most 2080 rows (d=64) into the only exchange.
  * The d² fan-out per row is not overhead — it IS the Gram matrix's
  * O(n·d²) multiply count; no alternative shape does fewer multiplies.
  */
object GramMatrix extends graft.GateModule {

  /** Fixed quantization grid (thousandths). */
  val gridScale = 1000.0

  /** Upper-triangle exact Gram over quantized embeddings:
    * (i, j, g, n_vecs) with 0 <= i <= j < d. */
  def gram(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * gridScale).cast("long")).as("qv"))
    q.select(posexplode(col("qv")).as(Seq("i", "qi")), col("qv"))
      .select(col("i"), col("qi"), posexplode(col("qv")).as(Seq("j", "qj")))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j")
      .agg(sum(col("qi") * col("qj")).as("g"),
        count(lit(1)).as("n_vecs"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("g"), col("n_vecs"))
  }

  /** Power-iteration steps for [[pcaPower]] (fixed — the gate publishes
    * the k-step iterate, a well-defined deterministic quantity). 64
    * steps because this corpus' spectral gap is thin (λ₂/λ₁ ≈ 0.93 at
    * sf0.001, 0.98 at sf0.01): measured Rayleigh error after 64 steps
    * is ≤ 0.1% at both SFs, vs 12%/7% at 6 steps. The cost lives
    * entirely on the d×d driver iterate — corpus-scale work is the one
    * Gram pass either way. */
  val pcaIters = 64

  /** q6 renormalization scale per iteration. */
  val pcaScale = 1000000L

  /** Dominant principal component by power iteration over the exact
    * Gram matrix — the first step of PCA/whitening for embedding
    * pipelines, structured the only way it scales: the CORPUS-sized
    * work is the one-pass distributed Gram reduction ([[gram]]); the
    * iteration itself is d×d linear algebra (d = 64 here), which is
    * driver/BLAS work at ANY corpus size — collecting the 2080-cell
    * upper triangle is the PQ-codebook class of bounded collect, not a
    * data collect.
    *
    * Exactness: iterates live on an integer q6 grid — y = G·x in
    * arbitrary-precision integers, then renormalized
    * sign(y)·(10^6·|y| div max|y|) so magnitude stays ≤ 10^6; division
    * is only ever applied to non-negative operands, so Spark-side
    * BigInt, the driver replica, and the oracle's HUGEINT all truncate
    * identically. λ is the Rayleigh quotient of the final iterate,
    * published q6 with the same sign/abs discipline. Headroom:
    * |y| ≤ d·max|G|·10^6 ~ 10^23 at 10^12 vectors — HUGEINT-safe
    * (BigInt driver-side is unbounded). */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = 64
    val cells = gram(spark, dir).collect() // bounded: d(d+1)/2 rows
    val G = Array.fill(d, d)(BigInt(0))
    cells.foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val g = BigInt(r.getLong(2))
      G(i)(j) = g
      G(j)(i) = g
    }
    def matVec(x: Array[BigInt]): Array[BigInt] =
      Array.tabulate(d)(i => (0 until d).map(j => G(i)(j) * x(j)).sum)
    var x = Array.fill(d)(BigInt(pcaScale))
    for (_ <- 1 to pcaIters) {
      val y = matVec(x)
      val m = y.map(_.abs).max
      require(m.signum > 0, "degenerate Gram matrix: zero iterate")
      x = y.map(v => BigInt(v.signum) * ((BigInt(pcaScale) * v.abs) / m))
    }
    val gy = matVec(x)
    val num = (0 until d).map(i => x(i) * gy(i)).sum
    val den = (0 until d).map(i => x(i) * x(i)).sum
    val lam = BigInt(num.signum) * ((BigInt(pcaScale) * num.abs) / den)
    (0 until d).map(i => (i.toLong, x(i).toLong, lam.toLong))
      .toDF("i", "eigvec_q6", "lambda_q6")
  }

  /** DuckDB rendering of [[pcaPower]]: the same fixed-point iteration
    * unrolled as one CTE triple (mat-vec, max-abs, renormalize) per
    * step, all in HUGEINT. */
  private def pcaOracle: String = {
    // every step CTE MATERIALIZED: the chain is 3·pcaIters CTEs deep
    // and inlining re-expands each referenced step, which blows up
    // planning exponentially (observed as a hang at 64 steps)
    val steps = (1 to pcaIters).map { k =>
      s"""y$k AS MATERIALIZED (SELECT gm.i AS i,
         |    sum(gm.g * x${k - 1}.x) AS y
         |  FROM gm JOIN x${k - 1} ON gm.j = x${k - 1}.i GROUP BY 1),
         |m$k AS MATERIALIZED (SELECT max(abs(y)) AS m FROM y$k),
         |x$k AS MATERIALIZED (SELECT i,
         |    (CASE WHEN y < 0 THEN -1 ELSE 1 END)
         |    * (($pcaScale * abs(y)) // (SELECT m FROM m$k)) AS x
         |  FROM y$k)""".stripMargin
    }.mkString(",\n")
    val n = pcaIters
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(round(x * $gridScale) AS BIGINT)) AS qv
       |  FROM embeddings),
       |gm AS MATERIALIZED (SELECT i.i AS i, j.j AS j,
       |    CAST(sum(qv[i.i + 1] * qv[j.j + 1]) AS HUGEINT) AS g
       |  FROM q, range(0, 64) i(i), range(0, 64) j(j)
       |  GROUP BY 1, 2),
       |x0 AS (SELECT i.range AS i, CAST($pcaScale AS HUGEINT) AS x
       |  FROM range(64) i),
       |$steps,
       |yf AS (SELECT gm.i AS i, sum(gm.g * x$n.x) AS y
       |  FROM gm JOIN x$n ON gm.j = x$n.i GROUP BY 1),
       |r AS (SELECT sum(x$n.x * yf.y) AS num, sum(x$n.x * x$n.x) AS den
       |  FROM x$n JOIN yf USING (i))
       |SELECT CAST(x$n.i AS BIGINT) AS i, CAST(x$n.x AS BIGINT)
       |    AS eigvec_q6,
       |  CAST((CASE WHEN r.num < 0 THEN -1 ELSE 1 END)
       |    * (($pcaScale * abs(r.num)) // r.den) AS BIGINT) AS lambda_q6
       |FROM x$n CROSS JOIN r""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_gram" -> gram _,
    "embed_pca_power" -> pcaPower _)

  val oracles: Map[String, String] = Map(
    "embed_pca_power" -> pcaOracle,
    "embed_gram" ->
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(round(x * $gridScale) AS BIGINT)) AS qv
         |  FROM embeddings)
         |SELECT i.i, j.j,
         |  CAST(sum(qv[i.i + 1] * qv[j.j + 1]) AS BIGINT) AS g,
         |  count(*) AS n_vecs
         |FROM q, range(0, 64) i(i), range(0, 64) j(j)
         |WHERE j.j >= i.i
         |GROUP BY 1, 2""".stripMargin)
}
