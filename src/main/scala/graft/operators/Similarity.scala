package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over the
  * `embeddings` table (`embedding: array<float>`, 64-dim).
  *
  * Two paths, per the mandated extension surface:
  *  - brute-force cosine top-k: the exact baseline. The (small) query
  *    set is broadcast, so the corpus is scanned once with no shuffle
  *    of the vector column; per-pair math is higher-order-function
  *    column arithmetic inside codegen (no UDFs). At 100 TB this is a
  *    single map-side pass + a per-query top-k (TakeOrdered-shaped
  *    window over query_id partitions).
  *  - IVF-style bucketed ANN: vectors are assigned to their nearest
  *    coarse centroid at write time; a query probes only its own
  *    centroid's bucket, cutting the scanned fraction to ~1/n_centroids.
  *    Centroids here are a deterministic subsample (vec_id % 97 == 0)
  *    standing in for k-means (which would be an offline job at scale).
  */
object Similarity extends graft.GateModule {

  private def asD(c: Column): Column = c.cast("array<double>")

  /** Embedding dimensionality of the corpus (embeddings.embedding). */
  val Dim = 64

  /** dot(a, b) as an unrolled left-associated sum of element products.
    * Higher-order functions (zip_with/aggregate) are CodegenFallback in
    * Spark — interpreted per pair — which made pairwise similarity the
    * bench hotspot. A fixed-width expression tree stays inside
    * whole-stage codegen and keeps the exact same left-to-right
    * accumulation order (bit-identical to a sequential fold, hence to
    * the DuckDB oracle). */
  def dot(a: Column, b: Column): Column =
    (0 until Dim).map(i => element_at(a, i + 1) * element_at(b, i + 1))
      .reduceLeft(_ + _)

  def norm(a: Column): Column =
    sqrt((0 until Dim).map { i =>
      val x = element_at(a, i + 1); x * x
    }.reduceLeft(_ + _))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Vectors with their norm precomputed once — per-pair work is then a
    * single unrolled dot product plus one division. */
  private def withNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))

  case class Vec(id: Long, v: Array[Double], n: Double)
  case class PairSim(a: Long, b: Long, sim: Double)

  private def vecDs(spark: SparkSession, dir: String): Dataset[Vec] = {
    import spark.implicits._
    withNorm(spark, dir)
      .select(col("vec_id").as("id"), col("v"), col("nrm").as("n"))
      .as[Vec]
  }

  /** All-pairs similarity kernel: broadcast the (smaller) probe set and
    * run a tight primitive-array loop per partition of the corpus.
    * Column-expression math over a nested-loop join is interpreted per
    * pair (HOFs and BNLJ conditions are CodegenFallback), which made
    * this the bench hotspot; the kernel is ~100x faster and keeps the
    * identical left-to-right accumulation order, so results stay
    * bit-equal to the SQL formulation and the DuckDB oracle. At real
    * scale this generalizes to blocked GEMM: partition the corpus,
    * broadcast probe blocks of bounded size, never shuffle vectors.
    * @param cond  pair admission test on (corpusId, probeId)
    * @param minSim drop pairs below this similarity inside the loop
    */
  def pairSims(corpus: Dataset[Vec], probes: Array[Vec],
      cond: (Long, Long) => Boolean, minSim: Double): Dataset[PairSim] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(probes)
    corpus.mapPartitions { it =>
      val ps = bc.value
      it.flatMap { l =>
        val out = scala.collection.mutable.ArrayBuffer.empty[PairSim]
        var j = 0
        while (j < ps.length) {
          val r = ps(j)
          if (cond(l.id, r.id)) {
            var dot = 0.0
            var i = 0
            val lv = l.v; val rv = r.v
            while (i < lv.length) { dot += lv(i) * rv(i); i += 1 }
            val sim = dot / (l.n * r.n)
            if (sim >= minSim) out += PairSim(l.id, r.id, sim)
          }
          j += 1
        }
        out
      }
    }
  }

  /** Exact cosine top-k ranks for an arbitrary (small) probe-id set —
    * the vector half of hybrid retrieval ([[graft.analytics.Retrieval
    * .hybridRrf]]). Same single-corpus-pass broadcast kernel as
    * [[knnBrute]]; emits (query_id, doc_id, vrank). */
  def cosineTopK(spark: SparkSession, dir: String, maxProbeId: Long,
      k: Int): DataFrame = {
    val ds = vecDs(spark, dir)
    val probes = ds.filter(col("id") < maxProbeId).collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id").asc)
    pairSims(ds, probes, (c, q) => c != q, minSim = -2.0)
      .select(col("b").as("query_id"), col("a").as("doc_id"), col("sim"))
      .withColumn("vrank", row_number().over(w).cast("long"))
      .filter(col("vrank") <= k)
      .select(col("query_id"), col("doc_id"), col("vrank"))
  }

  /** Candidate pool for MMR re-ranking ([[graft.analytics.Retrieval
    * .mmrDiversify]]): top-`poolK` cosine candidates per probe with
    * the similarity quantized to integer q6 (1e-6 resolution), so
    * every downstream selection decision is integer-exact. Same
    * broadcast-probe corpus-pass kernel as [[knnBrute]]. */
  def mmrCandidates(spark: SparkSession, dir: String, nProbes: Long,
      poolK: Int): DataFrame = {
    val ds = vecDs(spark, dir)
    val probes = ds.filter(col("id") < nProbes).collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id").asc)
    pairSims(ds, probes, (c, q) => c != q, minSim = -2.0)
      .select(col("b").as("query_id"), col("a").as("doc_id"), col("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= poolK)
      .select(col("query_id"), col("doc_id"),
        round(col("sim") * 1e6, 0).cast("long").as("sim_q6"))
  }

  /** Exact top-5 cosine neighbors for queries vec_id < 20. */
  def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    val ds = vecDs(spark, dir)
    val probes = ds.filter(col("id") < 20).collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    pairSims(ds, probes, (c, q) => c != q, minSim = -2.0)
      .select(col("b").as("query_id"), col("a").as("neighbor_id"), col("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rn"),
        round(col("sim"), 4).as("sim_r4"))
  }

  /** Near-duplicate pairs by embedding cosine >= 0.4 (a < b).
    *
    * EXACT, as a single distributed job (no driver loop): the triangle
    * block-join below. Why not LSH here: this corpus's pair-similarity
    * distribution is continuous through the 0.4 threshold (pairs exist
    * at 0.3999 and 0.4010 at every SF), and the per-hyperplane
    * collision probability at sim 0.4 is only 1 - acos(0.4)/pi = 0.63
    * — no banding scheme can prune meaningfully AND recall a 0.401
    * pair with certainty. A threshold inside the bulk of the
    * distribution makes exact all-pairs inherently O(n^2); the job of
    * the engine is to make that quadratic work embarrassingly parallel
    * rather than pretend it away. When near-dups ARE separated from
    * the bulk (real dup corpora, sim >= 0.85), [[embedNearDupLsh]] is
    * the sub-quadratic scale path. */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val ds = vecDs(spark, dir)
    allPairsTriangle(ds, minSim = 0.4,
      groups = graft.Conf.int(spark, graft.Conf.NeardupGroups, 8))
      .select(col("a"), col("b"))
  }

  /** All-pairs (a < b) similarity as ONE bucket-keyed shuffle: the
    * triangle block-join. Vectors are hashed into G groups; each
    * unordered group pair (i, j), i <= j, is a work unit; a vector in
    * group x is replicated to the G units {sorted(x, y) : y < G}. One
    * exchange keyed by the group pair (shuffle volume O(n*G) rows),
    * then every unit runs the primitive-array kernel over its two
    * blocks — G*(G+1)/2 independent tasks, each holding 2n/G vectors.
    * G tunes the memory/replication trade: at 1000 executors pick
    * G ~ sqrt(2 * cores) so every core gets a unit and blocks stay
    * bounded. Same sequential per-pair accumulation as [[pairSims]],
    * so results are bit-equal to the SQL form and the DuckDB oracle. */
  def allPairsTriangle(ds: Dataset[Vec], minSim: Double,
      groups: Int = 8): Dataset[PairSim] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val g = groups
    ds.flatMap { v =>
      val x = ((v.id % g) + g) % g
      (0 until g).map { y =>
        (math.min(x, y.toLong), math.max(x, y.toLong), v)
      }
    }
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Vec)]) =>
        val (i, j) = key
        val members = it.map(_._3).toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[PairSim]
        def emit(u: Vec, w: Vec): Unit = {
          var dot = 0.0
          var d = 0
          val uv = u.v; val wv = w.v
          while (d < uv.length) { dot += uv(d) * wv(d); d += 1 }
          val sim = dot / (u.n * w.n)
          if (sim >= minSim)
            out += (if (u.id < w.id) PairSim(u.id, w.id, sim)
                    else PairSim(w.id, u.id, sim))
        }
        if (i == j) {
          var a = 0
          while (a < members.length) {
            var b = a + 1
            while (b < members.length) { emit(members(a), members(b)); b += 1 }
            a += 1
          }
        } else {
          val bi = members.filter(v => ((v.id % g) + g) % g == i)
          val bj = members.filter(v => ((v.id % g) + g) % g == j)
          var a = 0
          while (a < bi.length) {
            var b = 0
            while (b < bj.length) { emit(bi(a), bj(b)); b += 1 }
            a += 1
          }
        }
        out
      }
  }

  /** Number of IVF coarse centroids — FIXED, corpus-independent, so
    * assignment work is O(n*k) and the centroid broadcast is O(k*dim)
    * no matter how large the corpus grows. */
  val ivfK = 64

  /** Lloyd's refinement rounds over the sampled init. Two rounds move
    * the sampled points most of the way to a stable coarse quantizer;
    * more rounds buy little for a 64-cell IVF. */
  val ivfIters = 2

  /** Nearest-centroid assignment, MAP-SIDE ONLY: one native
    * `nearest_centroid` loop expression over the broadcast-by-reference
    * centroid matrix — no row blowup, no shuffle, and ONE small codegen
    * class no matter how many centroids or how often the table changes
    * (an earlier k-`cosine_sim`-exprs + `array_max` argmax paid a full
    * Janino compile per Lloyd round because each round's centroid
    * literals produced fresh source). Per-centroid math and the
    * smallest-id tie-break are bit-identical to the expression form. */
  private def assignToCentroids(e: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import graft.functions.VectorExpressions.nearest_centroid
    e.select(col("vec_id"), col("v"),
      nearest_centroid(col("v"), cents).as("cent_id"))
  }

  /** Driver-side memo of the trained coarse quantizer per corpus
    * directory. In production the IVF/SemDeDup quantizer is trained
    * ONCE as an offline batch job and shipped to every consumer query;
    * retraining it per query would re-run Lloyd's rounds over the full
    * corpus each time. The memo holds only k*Dim doubles, test corpora
    * are immutable, and [[kmeansCentroids]] is deterministic, so every
    * consumer (IVF single/multi-probe, semantic dedup) stays
    * bit-identical to the untrained-per-query path. */
  private val quantizerMemo =
    new scala.collection.concurrent.TrieMap[String, Seq[(Long, Seq[Double])]]
  private def kmeansCentroidsFor(dir: String, e: DataFrame): Seq[(Long, Seq[Double])] =
    quantizerMemo.getOrElseUpdate(dir, kmeansCentroids(e))

  /** Deterministic k-means coarse quantizer: init = the k vectors with
    * the smallest LCG permutation of vec_id (integer-exact in both
    * engines), refined by [[ivfIters]] Lloyd's rounds. Each round is
    * one distributed assignment pass (O(n*k) map-side work) plus a
    * posexplode + hash-agg per-dimension reduction; only k*Dim
    * aggregate rows reach the driver per round.
    *
    * The mean update is QUANTIZED: per-dimension sums accumulate
    * floor(x * 1e6) as exact integers, and the new component is
    * sum / (n * 1e6). Float summation order would otherwise make the
    * centroid bits depend on partitioning (and differ from any
    * re-implementation); integer sums are order-independent and
    * reproduce bit-identically in the DuckDB oracle, while the 1e-6
    * quantization is far below any clustering-relevant signal. Empty
    * cells keep their previous centroid. */
  private def kmeansCentroids(e: DataFrame): Seq[(Long, Seq[Double])] = {
    var cents: Seq[(Long, Seq[Double])] = e
      .withColumn("r",
        pmod(col("vec_id") * lit(1103515245L) + lit(12345L), lit(2147483648L)))
      .orderBy(col("r"), col("vec_id")).limit(ivfK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      .collect() // k rows — bounded and corpus-independent
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq)
      .toSeq.sortBy(_._1)
    for (_ <- 0 until ivfIters) {
      val byCent = assignToCentroids(e, cents)
        .select(col("cent_id"), posexplode(col("v")).as(Seq("p", "x")))
        .groupBy("cent_id", "p")
        .agg(sum(floor(col("x") * lit(1000000.0))).as("s"),
          count(lit(1)).as("n"))
        .collect() // k*Dim rows — bounded
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1)
      cents = cents.map { case (cid, old) =>
        byCent.get(cid).fold(cid -> old) { rows =>
          cid -> rows.sortBy(_._2)
            .map(t => t._3.toDouble / (t._4.toDouble * 1e6)).toIndexedSeq
        }
      }
    }
    cents
  }

  /** IVF-style ANN: every vector is assigned to its nearest coarse
    * centroid; a query probes only its own centroid's bucket; top-3 per
    * query. Centroids are deterministic k-means ([[kmeansCentroids]]):
    * LCG-sampled init + Lloyd's rounds — at 100 TB the refinement runs
    * as its own offline batch job on a sample, and the assignment /
    * probing dataflow here is unchanged by how centroids are produced.
    * The only shuffles are the per-round k*Dim centroid reduction, the
    * bucket-probe join, and the tiny per-query top-3 window.
    * Deterministic end-to-end (integer-quantized centroid sums,
    * sequential left-to-right float accumulation both here and in the
    * DuckDB oracle), so the gate hash-checks despite being
    * "approximate" w.r.t. true nearest neighbors. */
  def knnIvf(spark: SparkSession, dir: String): DataFrame =
    ivfTop3(spark, dir, kmeansCentroidsFor)

  /** The shared IVF probe dataflow of [[knnIvf]] and [[knnIvfSampled]]
    * — the two gates differ ONLY in how the coarse quantizer is
    * trained, so the assignment/probe/top-3 logic has one home and a
    * tie-break or probe fix cannot silently reach one gate and not the
    * other. */
  private def ivfTop3(spark: SparkSession, dir: String,
      centroids: (String, DataFrame) => Seq[(Long, Seq[Double])]): DataFrame = {
    import graft.functions.VectorExpressions.cosine_sim
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("v"))
      .cache() // scanned once per Lloyd round + once for final assignment
    // both the probe branch and the corpus branch read the assignment;
    // cache it so the k-expression argmax (and its codegen) runs once
    val assigned = assignToCentroids(e, centroids(dir, e)).cache()
    val queries = assigned.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("cent_id").as("qcent"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    graft.Conf.checkpointThenRelease(
      assigned.join(broadcast(queries), col("cent_id") === col("qcent")
          && col("vec_id") =!= col("query_id"))
        .withColumn("sim", cosine_sim(col("v"), col("qv")))
        .withColumn("rn", row_number().over(wTop).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rn"),
          round(col("sim"), 4).as("sim_r4")),
      e, assigned)
  }

  /** Training-sample modulus for [[knnIvfSampled]]: the coarse
    * quantizer trains on the ~1/ivfSampleMod hash-slice of the corpus. */
  val ivfSampleMod = 4L

  /** Deterministic hash-sample of the quantizer TRAINING set: keep
    * vectors whose LCG permutation of vec_id lands in residue 0 mod
    * [[ivfSampleMod]]. A different multiplier than the init
    * permutation (69069 vs 1103515245) so membership in the sample is
    * uncorrelated with init order. The LCG state is reduced mod the
    * ODD prime 2000000011 — never mod 2^31 — because an even
    * reduction modulus preserves vec_id's low bits under the odd
    * multiplier (69069 ≡ 1 mod 4), which would make the mod-4 sample
    * exactly {vec_id ≡ 3 (mod 4)}: a low-bit-pure training frame,
    * biased whenever embeddings correlate with id structure.
    * Engine-portable integer arithmetic (the oracle computes the same
    * residues); vec_id pre-reduced mod the same prime for 64-bit
    * headroom (a no-op mod P — ring homomorphism). */
  private def trainSample(e: DataFrame): DataFrame =
    e.filter(pmod(pmod(pmod(col("vec_id"), lit(2000000011L)) * lit(69069L)
      + lit(1L), lit(2000000011L)), lit(ivfSampleMod)) === 0)

  private val sampledQuantizerMemo =
    new scala.collection.concurrent.TrieMap[String, Seq[(Long, Seq[Double])]]
  private def kmeansCentroidsSampledFor(dir: String,
      e: DataFrame): Seq[(Long, Seq[Double])] =
    sampledQuantizerMemo.getOrElseUpdate(dir, kmeansCentroids(trainSample(e)))

  /** [[knnIvf]] with the quantizer trained on a deterministic ~25%
    * hash-sample instead of the full corpus — THE production shape at
    * 100 TB: Lloyd's rounds cost O(|sample|·k) instead of O(n·k) while
    * the assignment and probe dataflow over the full corpus is
    * untouched. (At gate scale both variants run end-to-end so the
    * oracle can rebuild each bit-identically; in production the
    * trained centroids ship as a broadcast artifact, which is exactly
    * what the per-dir quantizer memo models.) Results differ from
    * [[knnIvf]] only through centroid positions; recall vs the exact
    * top-k stays governed by k and nprobe, not by training-set size —
    * the sample only has to place 64 centroids, not memorize vectors. */
  def knnIvfSampled(spark: SparkSession, dir: String): DataFrame =
    ivfTop3(spark, dir, kmeansCentroidsSampledFor)

  /** In-cluster near-duplicate threshold for [[semanticDedup]] — same
    * 0.4 regime as [[embedNearDup]] so the corpus has real drop signal. */
  val semThreshold = 0.4

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023:
    * cluster the embedding space coarsely, then prune near-duplicates
    * WITHIN each cluster only): every vector is assigned to its nearest
    * deterministic k-means centroid ([[kmeansCentroids]] — the same
    * coarse quantizer IVF probing uses), and a vector is dropped when a
    * smaller-id vector in the SAME cluster has cosine >= the threshold
    * (deterministic keep-first survivor rule, as in exact dedup).
    *
    * This is the sub-quadratic companion to [[embedNearDup]]: pairwise
    * work is confined to cluster blocks (O(Σ|cluster|²) ≈ O(n²/k) for
    * balanced clusters, embarrassingly parallel across clusters and
    * tunable via k), at the cost of missing cross-cluster pairs — the
    * explicit SemDeDup trade. The only data-dependent shuffle is the
    * (cent_id, group-pair)-keyed triangle exchange, so even a
    * pathological mega-cluster spreads its quadratic work over bounded
    * tasks instead of one reducer; at 100 TB k additionally grows with
    * the corpus so cluster blocks stay small. */
  case class CMember(cent: Long, id: Long, v: Array[Double], n: Double)

  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("v"))
      .cache() // scanned per Lloyd round + once for final assignment
    val assigned = assignToCentroids(e, kmeansCentroidsFor(dir, e)).cache()
    // In-cluster pairwise pruning via the SAME triangle block-join as
    // [[allPairsTriangle]], keyed by (cent_id, group-pair): an earlier
    // cent_id-equi-join put a d-member cluster's d² pair rows on ONE
    // reducer — the hot-bucket cliff every other pairwise operator
    // here guards against. The triangle split keeps EXACT semantics
    // (no cap, no semantic change — the kernel's sequential
    // accumulation is bit-equal to the cosine_sim expression) while a
    // mega-cluster's quadratic work spreads over G*(G+1)/2 bounded
    // tasks. Emits the dropped side only: b of any in-cluster pair
    // a < b with sim >= the threshold.
    val g = graft.Conf.int(spark, graft.Conf.NeardupGroups, 8).toLong
    val dropped = assigned
      .select(col("cent_id").as("cent"), col("vec_id").as("id"), col("v"),
        norm(col("v")).as("n"))
      .as[CMember]
      .flatMap { m =>
        val x = ((m.id % g) + g) % g
        (0L until g).map(y => (math.min(x, y), math.max(x, y), m))
      }
      .groupByKey(t => (t._3.cent, t._1, t._2))
      .flatMapGroups { (key: (Long, Long, Long), it: Iterator[(Long, Long, CMember)]) =>
        val (_, i, j) = key
        val members = it.map(_._3).toArray
        val out = scala.collection.mutable.HashSet.empty[Long]
        def emit(u: CMember, w: CMember): Unit = {
          var dot = 0.0
          var d = 0
          val uv = u.v; val wv = w.v
          while (d < uv.length) { dot += uv(d) * wv(d); d += 1 }
          if (dot / (u.n * w.n) >= semThreshold)
            out += math.max(u.id, w.id)
        }
        if (i == j) {
          var a = 0
          while (a < members.length) {
            var b = a + 1
            while (b < members.length) { emit(members(a), members(b)); b += 1 }
            a += 1
          }
        } else {
          val bi = members.filter(m => ((m.id % g) + g) % g == i)
          val bj = members.filter(m => ((m.id % g) + g) % g == j)
          var a = 0
          while (a < bi.length) {
            var b = 0
            while (b < bj.length) { emit(bi(a), bj(b)); b += 1 }
            a += 1
          }
        }
        out.iterator
      }
      .toDF("vec_id").distinct()
      .withColumn("dropped", lit(true))
    graft.Conf.checkpointThenRelease(
      assigned.select(col("vec_id"), col("cent_id"))
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cent_id"),
          not(coalesce(col("dropped"), lit(false))).as("kept")),
      e, assigned)
  }

  /** Cells probed per query by [[knnIvfProbe]]. */
  val ivfNprobe = 2

  /** Multi-probe IVF — the standard recall knob: each query probes its
    * `ivfNprobe` nearest coarse cells instead of one, scanning
    * nprobe/k of the corpus for near-linear recall gains. Probe-cell
    * selection runs on the DRIVER over the bounded query set (20
    * vectors x k centroids — query-side planning, not data-side work;
    * the corpus never leaves executors), with the exact sequential
    * dot/sqrt arithmetic of the oracle so cell choices are
    * bit-reproducible. A corpus vector belongs to exactly one cell, so
    * probing distinct cells never duplicates candidates. */
  def knnIvfProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExpressions.cosine_sim
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("v"))
      .cache()
    val cents = kmeansCentroidsFor(dir, e)
    val assigned = assignToCentroids(e, cents).cache()
    val probes = e.filter(col("vec_id") < 20)
      .collect() // bounded query set
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probeCells = probes.flatMap { case (qid, qv) =>
      cents.map { case (cid, cv) => (qid, cid, cos(qv, cv)) }
        .sortBy { case (_, cid, sim) => (-sim, cid) }
        .take(ivfNprobe)
        .map { case (_, cid, _) => (qid, cid) }
    }
    import spark.implicits._
    val cells = probeCells.toSeq.toDF("query_id", "probe_cent")
    val qv = probes.toSeq.toDF("qid", "qv")
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val out = assigned
      .join(broadcast(cells), col("cent_id") === col("probe_cent"))
      .join(broadcast(qv), col("query_id") === col("qid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", cosine_sim(col("v"), col("qv")))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rn"),
        round(col("sim"), 4).as("sim_r4"))
    graft.Conf.checkpointThenRelease(out, e, assigned)
  }

  /** Metadata-filtered exact top-3 — the vector-DB staple (retrieve
    * only among rows passing a predicate; RAG with ACL/source/date
    * filters). This is the PRE-filter strategy: the predicate lands on
    * the corpus scan (pushed to parquet), then the broadcast-probe
    * kernel runs over survivors only — correct for any selectivity,
    * and at high selectivity strictly cheaper than post-filtering an
    * ANN result (which can starve below k). The IVF/PQ paths compose
    * with the same pushed filter when approximation is acceptable. */
  def knnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val allowed = Tables.load(spark, dir, "embeddings")
      .filter(col("label") % 2 === 0)
      .select(col("vec_id"), asD(col("embedding")).as("v"),
        norm(asD(col("embedding"))).as("nrm"))
    import spark.implicits._
    val ds = allowed
      .select(col("vec_id").as("id"), col("v"), col("nrm").as("n")).as[Vec]
    val probes = vecDs(spark, dir).filter(col("id") < 20).collect()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    pairSims(ds, probes, (c, q) => c != q, minSim = -2.0)
      .select(col("b").as("query_id"), col("a").as("neighbor_id"), col("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rn"),
        round(col("sim"), 4).as("sim_r4"))
  }

  /** Embedding-QA gate: flag vectors whose L2 norm strays a factor of
    * 2 from the corpus mean — the standard pre-index sanity filter
    * (zero/degenerate vectors break cosine math; exploded norms are
    * usually encoder bugs). Decision arithmetic is cross-multiplied
    * integers over 1e-6-quantized norms, so the flags are partition-
    * order-independent and reproduce exactly in DuckDB (norms
    * themselves are IEEE-exact: left-to-right fold + correctly-rounded
    * sqrt). The mean rides a ONE-ROW broadcast cross join — the
    * scalar-attach plan (a single lookup per row, O(n); Spark plans
    * uncorrelated scalar subqueries the same way). PlanAuditSpec
    * allowlists the resulting BroadcastNestedLoopJoin with this
    * justification. */
  def normOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("nrm_u6", floor(col("nrm") * lit(1000000.0)).cast("long"))
    val stats = e.agg(sum("nrm_u6").as("sum_u6"), count(lit(1)).as("n"))
    e.crossJoin(broadcast(stats))
      .select(col("vec_id"), round(col("nrm"), 4).as("nrm_r4"),
        (col("nrm_u6") * col("n") > lit(2) * col("sum_u6")).as("flag_high"),
        (lit(2) * col("nrm_u6") * col("n") < col("sum_u6")).as("flag_low"))
  }

  // --- Product quantization (PQ) ANN -------------------------------------

  /** PQ geometry (Jégou et al., TPAMI 2011): S contiguous subspaces of
    * dsub dims, K codes each. A 64-dim double vector (512 bytes)
    * compresses to 8 small integers — the search structure for a
    * 100 TB embedding corpus shrinks by ~64x and the ADC scan streams
    * codes, never vectors. */
  val pqSub = 8
  val pqDsub: Int = Dim / pqSub
  val pqK = 64

  /** Per-subspace Lloyd refinement rounds for the PQ codebook. An
    * UNtrained (sampled-only) codebook collapses on clustered corpora:
    * same-cluster vectors land on identical code words, ADC distances
    * tie en masse, and recall drops to near-chance (measured 0.05 on
    * this corpus). Two rounds of per-subspace k-means restore the
    * sub-quantizers' spread. */
  val pqIters = 2

  /** Deterministic trained PQ codebook, memoized per corpus like the
    * IVF quantizer (production trains it ONCE offline). Init: the pqK
    * corpus vectors with the smallest LCG permutation of vec_id (code
    * id = rank of vec_id among the sample), sliced per subspace. Then
    * [[pqIters]] rounds of per-subspace Lloyd: one distributed encode
    * pass (map-side codegen), then a (sub, code, dim)-keyed
    * integer-quantized mean — the same exact-arithmetic update as
    * [[kmeansCentroids]], so the DuckDB oracle reproduces it
    * bit-identically. Only pqSub*pqK*pqDsub aggregate rows reach the
    * driver per round; empty cells keep their previous entry. */
  private val pqMemo =
    new scala.collection.concurrent.TrieMap[String, Array[Array[Array[Double]]]]
  private def pqCodebookFor(dir: String, e: DataFrame): Array[Array[Array[Double]]] =
    pqMemo.getOrElseUpdate(dir, {
      import graft.functions.PqEncode.pq_encode
      val sample = e
        .withColumn("r",
          pmod(col("vec_id") * lit(1103515245L) + lit(12345L), lit(2147483648L)))
        .orderBy(col("r"), col("vec_id")).limit(pqK)
        .select(col("vec_id"), col("v"))
        .collect() // pqK rows — bounded and corpus-independent
        .map(r => r.getLong(0) -> r.getSeq[Double](1))
        .sortBy(_._1)
      require(sample.nonEmpty, "PQ codebook training needs a non-empty corpus")
      // corpora smaller than pqK cycle the sample (deterministic
      // duplicate entries — the same graceful degradation as
      // kmeansCentroids' short-sample path) instead of crashing on
      // sample(k) out of bounds; every gate SF carries >= pqK vectors,
      // so the gate oracles never see the cycled branch
      var cb = Array.tabulate(pqSub, pqK, pqDsub) { (s, k, d) =>
        sample(k % sample.length)._2(s * pqDsub + d)
      }
      for (_ <- 0 until pqIters) {
        val stats = e
          .select(col("v"),
            posexplode(pq_encode(col("v"), cb)).as(Seq("sub", "code")))
          .select(col("sub"), col("code"),
            posexplode(slice(col("v"), col("sub") * lit(pqDsub) + lit(1),
              lit(pqDsub))).as(Seq("d", "x")))
          .groupBy("sub", "code", "d")
          .agg(sum(floor(col("x") * lit(1000000.0))).as("s"),
            count(lit(1)).as("n"))
          .collect() // pqSub*pqK*pqDsub rows — bounded
          .map(r => ((r.getInt(0), r.getLong(1), r.getInt(2)),
            (r.getLong(3), r.getLong(4))))
          .toMap
        cb = Array.tabulate(pqSub, pqK, pqDsub) { (s, k, d) =>
          stats.get((s, k.toLong, d))
            .fold(cb(s)(k)(d)) { case (sm, n) =>
              sm.toDouble / (n.toDouble * 1e6)
            }
        }
      }
      cb
    })

  /** Gate query: PQ code per (vector, subspace). Encode is ONE
    * map-side codegen pass with NO shuffle (the posexplode is
    * row-local) — at 100 TB encoding parallelizes perfectly and ships
    * S longs per vector to the index sink. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqEncode.pq_encode
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("v"))
    e.select(col("vec_id"),
        posexplode(pq_encode(col("v"), pqCodebookFor(dir, e)))
          .as(Seq("sub", "code")))
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))
  }

  /** Gate query: per-vector PQ reconstruction error — the quantizer
    * quality metric (corpus mean picks S/K; per-vector outliers mark
    * points the codebook can't represent). One map-side codegen pass,
    * no shuffle. */
  def pqRecon(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqReconError.pq_recon_error
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("v"))
    e.select(col("vec_id"),
      round(pq_recon_error(col("v"), pqCodebookFor(dir, e)), 4).as("err_r4"))
  }

  case class PqCode(id: Long, codes: Array[Long])
  case class PqDist(query_id: Long, neighbor_id: Long, dist2: Double)

  /** PQ-ADC top-3: asymmetric distance computation. Each query builds
    * an S x K lookup table of exact subspace distances to every
    * codebook entry (driver-side — bounded probe set x S*K doubles,
    * broadcast to executors); the corpus pass then reads CODES, not
    * vectors, and a candidate's distance is S table lookups and adds.
    * Per-row scan cost drops from Dim mul-adds over 512 bytes to S
    * adds over 64 bytes — the PQ trade: approximate distances
    * (quantization error), exact ranking on those approximations.
    * Bit-exact: LUT terms and the s=0..S-1 accumulation are
    * sequential left-to-right, matching the DuckDB oracle. */
  def knnPqAdc(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqEncode.pq_encode
    import spark.implicits._
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("v"))
    val cb = pqCodebookFor(dir, e)
    val codes = e.select(col("vec_id").as("id"),
      pq_encode(col("v"), cb).as("codes")).as[PqCode]
    val probes = e.filter(col("vec_id") < 20)
      .collect() // bounded query set
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val luts: Array[(Long, Array[Array[Double]])] = probes.map { case (qid, qv) =>
      qid -> Array.tabulate(pqSub, pqK) { (s, k) =>
        var d2 = 0.0
        var d = 0
        while (d < pqDsub) {
          val t = qv(s * pqDsub + d) - cb(s)(k)(d)
          d2 += t * t
          d += 1
        }
        d2
      }
    }
    val bc = spark.sparkContext.broadcast(luts)
    val dists = codes.mapPartitions { it =>
      val qs = bc.value
      it.flatMap { c =>
        qs.iterator.collect { case (qid, lut) if qid != c.id =>
          var t = 0.0
          var s = 0
          while (s < lut.length) { t += lut(s)(c.codes(s).toInt); s += 1 }
          PqDist(qid, c.id, t)
        }
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("dist2").asc, col("neighbor_id").asc)
    dists.toDF()
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rn"),
        round(col("dist2"), 4).as("dist2_r4"))
  }

  case class PqCell(id: Long, cent: Long, codes: Array[Long])

  /** IVFADC — the FAISS-standard composition of the two structures
    * above (Jégou et al., TPAMI 2011, §IV): the IVF coarse quantizer
    * restricts each query's scan to its `ivfNprobe` nearest cells, and
    * within those cells distances come from the PQ-ADC lookup table
    * over 8-byte-per-vector codes instead of 512-byte vectors. At
    * 100 TB this is THE serving shape: memory holds cells of codes
    * (S bytes/vector), a query touches nprobe/k of them, and each
    * candidate costs S table adds — both the scan fraction and the
    * per-candidate cost are tuning knobs independent of corpus size.
    * Probe-cell selection and LUT construction are driver-side over
    * the bounded query set (same exact sequential arithmetic as the
    * oracle); the corpus pass is one mapPartitions over (cell, codes)
    * rows with broadcast LUTs. Deterministic end-to-end, so the gate
    * hash-checks the full IVF-training + PQ-training + probe + ADC
    * composition. */
  def knnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PqEncode.pq_encode
    import spark.implicits._
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("v"))
      .cache()
    val cents = kmeansCentroidsFor(dir, e)
    val cb = pqCodebookFor(dir, e)
    val codes = assignToCentroids(e, cents)
      .select(col("vec_id").as("id"), col("cent_id").as("cent"),
        pq_encode(col("v"), cb).as("codes")).as[PqCell]
    val probes = e.filter(col("vec_id") < 20)
      .collect() // bounded query set
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // nprobe nearest coarse cells per query — driver-side planning over
    // queries x k centroids, identical tie order to knnIvfProbe
    val probeCells: Map[Long, Set[Long]] = probes.map { case (qid, qv) =>
      qid -> cents.map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, sim) => (-sim, cid) }
        .take(ivfNprobe).map(_._1).toSet
    }.toMap
    val luts: Array[(Long, Array[Array[Double]])] = probes.map { case (qid, qv) =>
      qid -> Array.tabulate(pqSub, pqK) { (s, k) =>
        var d2 = 0.0
        var d = 0
        while (d < pqDsub) {
          val t = qv(s * pqDsub + d) - cb(s)(k)(d)
          d2 += t * t
          d += 1
        }
        d2
      }
    }
    val bc = spark.sparkContext.broadcast((luts, probeCells))
    val dists = codes.mapPartitions { it =>
      val (qs, cells) = bc.value
      it.flatMap { c =>
        qs.iterator.collect {
          case (qid, lut) if qid != c.id && cells(qid).contains(c.cent) =>
            var t = 0.0
            var s = 0
            while (s < lut.length) { t += lut(s)(c.codes(s).toInt); s += 1 }
            PqDist(qid, c.id, t)
        }
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("dist2").asc, col("neighbor_id").asc)
    val out = dists.toDF()
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rn"),
        round(col("dist2"), 4).as("dist2_r4"))
    graft.Conf.checkpointThenRelease(out, e)
  }

  // --- SRP-LSH near-dup (the sub-quadratic scale path) -------------------

  /** Signed-random-projection banding: `lshBands` bands of `lshBits`
    * sign bits each. Sub-quadratic pruning needs the per-hyperplane
    * collision probability p = 1 - theta/pi to be high for true pairs:
    * at sim 0.9, p = 0.86 and 8-bit bands prune hard; at sim 0.4,
    * p = 0.63 and ANY banding either misses pairs or keeps buckets
    * near-full — so production tunes (bits, bands) to the dup-sim
    * regime. (3, 8) here keeps recall ~0.9 at the gate's 0.4 threshold
    * while exercising the full band-bucket-join machinery. */
  val lshBands = 8
  val lshBits = 3

  /** Deterministic hyperplane component h(k, i): an LCG/Weyl sequence
    * over the flat index, centered on zero. Production would use a
    * proper hash (xxhash64); the LCG is integer-exact in both Spark and
    * DuckDB, which is what makes the LSH gate hash-checkable. */
  def hyper(k: Int, i: Int): Double =
    ((1103515245L * (k * Dim + i) + 12345L) % 2147483648L - 1073741824L).toDouble

  // --- Random-projection dimensionality reduction ------------------------

  /** Output dimensionality of [[projectEmbeddings]]; hyperplane rows
    * start at this offset into the LCG stream so they are disjoint
    * from the SRP-LSH planes below. */
  val projDim = 16
  private val projOffset = 100

  /** Johnson–Lindenstrauss-style random projection 64 -> 16 dims: each
    * output component is one codegen'd `dot_product` against a literal
    * LCG hyperplane row — pure map-side column work, no shuffle, no
    * UDF. This is the standard pre-ANN compaction at scale (4x fewer
    * bytes per vector through every downstream shuffle/broadcast);
    * relative distances are preserved in expectation, and the LCG
    * planes are integer-exact in the oracle so the gate hash-checks.
    * Production would normalize rows / use a proper hash — the
    * dataflow is unchanged. */
  def projectEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExpressions.dot_product
    val cols = (0 until projDim).map { k =>
      val plane = (0 until Dim).map(i => hyper(projOffset + k, i))
      dot_product(col("v"), typedlit(plane)).as(s"p$k")
    }
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id") +: asD(col("embedding")).as("v") +: Seq(): _*)
      .select(col("vec_id") +: cols: _*)
  }

  /** Modulus for the quantized-vector polynomial checksum (shared shape
    * with Dedup's char-poly hash; fits acc*31 + 127 well inside Long). */
  private val qPolyMod = 2000000011L

  /** Per-vector symmetric int8 quantization — the standard pre-ANN
    * compression at scale: q_i = round(x_i / s) with s = max|x_i|/127,
    * shrinking every vector 4-8x through downstream shuffles,
    * broadcasts, and the ANN index itself, at a reconstruction error
    * bounded by s/2 per element. Pure map-side column work (one
    * projection, no shuffle, no UDF); the per-vector scale rides along
    * for reconstruction (q_i * s).
    *
    * The gate emits a deterministic digest per vector — scale, q-range,
    * a sequential polynomial checksum of the int8 codes, and the L1
    * reconstruction error as a left-to-right fold — because every one
    * of those is integer math or an order-pinned double fold, hence
    * bit-identical in the DuckDB oracle (same trick as `cosSql`).
    * All-zero vectors quantize to all-zero codes (s = 0 guard) rather
    * than NaN. */
  def quantizeEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), asD(col("embedding")).as("v"))
      .withColumn("scale",
        array_max(transform(col("v"), x => abs(x))) / lit(127.0))
    def qi(x: Column): Column =
      when(col("scale") === 0, lit(0L))
        .otherwise(round(x / col("scale")).cast("long"))
    val q = e.withColumn("qv", transform(col("v"), x => qi(x)))
    q.select(
      col("vec_id"), col("scale"),
      array_min(col("qv")).as("q_min"),
      array_max(col("qv")).as("q_max"),
      aggregate(col("qv"), lit(0L),
        (acc, c) => (acc * 31L + c) % qPolyMod).as("q_poly"),
      aggregate(col("v"), lit(0.0),
        (acc, x) => acc + abs(x - qi(x) * col("scale"))).as("recon_err"))
  }

  /** Near-dup candidates via SRP-LSH banding, verified exactly: sign
    * bits from `lshBands * lshBits` hyperplane dots (codegen'd unrolled
    * sums — no HOF, no UDF), banded like [[Dedup.minhashBands]]; the
    * only data-dependent shuffle is the (band, bucket)-keyed candidate
    * join, then candidates are verified with the native `cosine_sim`
    * expression at the same 0.4 threshold as [[embedNearDup]]. Output
    * is a deterministic subset of the exact pairs (recall asserted in
    * SimilaritySpec; misses are pairs whose signatures never collide —
    * the tunable LSH trade). */
  def embedNearDupLsh(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExpressions.{cosine_sim, dot_product}
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asD(col("embedding")).as("v"))
    // loop-codegen'd dot against a literal hyperplane (an unrolled
    // per-element sum at 24 hyperplanes x 64 dims overflows Janino's
    // method limit and de-optimizes the whole projection)
    def sign(k: Int): Column = {
      val h = (0 until Dim).map(i => hyper(k, i))
      when(dot_product(col("v"), typedlit(h)) > 0, 1).otherwise(0)
    }
    val bandStructs = (0 until lshBands).map { b =>
      val bucket = (0 until lshBits).map(bit =>
        sign(b * lshBits + bit) * lit(1 << (lshBits - 1 - bit)))
        .reduceLeft(_ + _)
      struct(lit(b).as("band_id"), bucket.as("bucket"))
    }
    val bands = e
      .select(col("vec_id"), explode(array(bandStructs.toIndexedSeq: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band_id"), col("bb.bucket"))
    val cand = bands.alias("x").join(bands.alias("y"),
        col("x.band_id") === col("y.band_id")
          && col("x.bucket") === col("y.bucket")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("a"), col("v").as("va")), "a")
      .join(e.select(col("vec_id").as("b"), col("v").as("vb")), "b")
      .filter(cosine_sim(col("va"), col("vb")) >= 0.4)
      .select(col("a"), col("b"))
  }

  /** The `embpairs` staged family: the embedding near-dup GRAPH's
    * stored pair table — the [[Dedup.canonStaging]] convention applied
    * to the embeddings corpus: the verified LSH pair table is a
    * once-per-corpus stored artifact (keyed by embeddings.parquet's
    * content generation + the LSH banding params), and every graph
    * consumer (clusters, components, PageRank, triangles, k-core,
    * BFS, link prediction, LPA, modularity) reads storage, exactly as
    * a production dup-graph job runs over the dedup pipeline's
    * persisted output. The LSH pipeline itself stays timed and
    * oracled end-to-end by its own gates (`embed_neardup_lsh`, with
    * `embed_lsh_recall` proving recall against the exact baseline). */
  val embPairStaging: graft.store.Staging.Family = graft.store.Staging.Family(
      "embpairs", "embeddings", s"$lshBands:$lshBits:v1") { (spark, dir, tmp) =>
    embedNearDupLsh(spark, dir).write.mode("overwrite")
      .parquet(tmp.resolve("pairs.parquet").toString)
  }

  /** The published [[embPairStaging]] generation for `dir`. */
  private[graft] def ensureEmbedPairStaging(spark: SparkSession,
      dir: String): java.nio.file.Path = embPairStaging.ensure(spark, dir)

  /** [[embPairStaging]]'s explicit GC verb. */
  def evictEmbedPairStaging(dir: String, keepCurrent: Boolean = true): Unit =
    embPairStaging.evict(dir, keepCurrent)

  /** The staged verified pair table (a, b) for `dir`'s embeddings. */
  private def stagedEmbedPairs(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, ensureEmbedPairStaging(spark, dir)
      .resolve("pairs.parquet").toString)

  /** LSH recall scorecard — the one-row eval every approximate-dedup
    * deployment needs before trusting the sub-quadratic path: exact
    * near-dup pairs ([[embedNearDup]]) vs the SRP-LSH pair set
    * ([[embedNearDupLsh]]) at the same 0.4 threshold, joined on the
    * pair key, published as integer counts plus `recall_q6 =
    * 10^6·hits DIV exact` (positive integers, truncation identical in
    * both engines). LSH verifies candidates exactly, so its pairs are
    * a subset of the exact set and n_hit = n_lsh — the gate PROVES
    * that containment rather than assuming it. Plan: one full-outer
    * equi-join of two pair frames and a scalar agg; the exact side is
    * the corpus-quadratic baseline, so at 100 TB this runs on a fixed
    * EVALUATION SAMPLE (a few 10^5 vectors), not the corpus — recall
    * is a statistical property and sampling it is the standard
    * practice; the LSH side alone remains the production path. */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = embedNearDup(spark, dir).withColumn("in_e", lit(1L))
    val lsh = embedNearDupLsh(spark, dir).withColumn("in_l", lit(1L))
    exact.join(lsh, Seq("a", "b"), "full_outer")
      .agg(sum("in_e").as("n_exact"), sum("in_l").as("n_lsh"),
        sum(coalesce(col("in_e"), lit(0L)) * coalesce(col("in_l"), lit(0L)))
          .as("n_hit"))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        expr("1000000 * n_hit DIV n_exact").as("recall_q6"))
  }

  /** IVF recall scorecard — the ANN-quality twin of [[lshRecall]]: the
    * brute-force exact top-3 per probe query compared against the IVF
    * top-3 at nprobe=1 ([[knnIvf]]) and nprobe=2 ([[knnIvfProbe]]),
    * published as integer `10⁶·hits DIV n_exact` recalls. This is the
    * readout that justifies the nprobe knob: recall@nprobe=2 must
    * dominate nprobe=1 (spec-asserted), and an operator sizes nprobe
    * by watching exactly this curve on an evaluation slice. The exact
    * side is the quadratic baseline — at 100 TB it runs on a sampled
    * probe set (as here: the bounded 20-query probe set all three
    * pipelines share); the quantizer trains once (memoized) for both
    * IVF variants. Output is one row at any scale. */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = knnBrute(spark, dir).filter(col("rn") <= 3)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_e"))
    val p1 = knnIvf(spark, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_1"))
    val p2 = knnIvfProbe(spark, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_2"))
    exact.join(p1, Seq("query_id", "neighbor_id"), "full_outer")
      .join(p2, Seq("query_id", "neighbor_id"), "full_outer")
      .agg(sum("in_e").as("n_exact"), sum("in_1").as("n_p1"),
        sum("in_2").as("n_p2"),
        sum(coalesce(col("in_e"), lit(0L)) * coalesce(col("in_1"), lit(0L)))
          .as("hit1"),
        sum(coalesce(col("in_e"), lit(0L)) * coalesce(col("in_2"), lit(0L)))
          .as("hit2"))
      .select(col("n_exact"), col("n_p1"), col("n_p2"), col("hit1"),
        col("hit2"),
        expr("1000000 * hit1 DIV n_exact").as("recall1_q6"),
        expr("1000000 * hit2 DIV n_exact").as("recall2_q6"))
  }

  /** Embedding near-dup CLUSTERS end-to-end: the verified SRP-LSH pair
    * graph ([[embedNearDupLsh]]) closed into connected components by
    * the same star alternation documents use
    * ([[Dedup.dupClustersStar]]) — every vector labeled with the
    * smallest vec_id reachable through near-dup pairs, which is the
    * actionable keep-list form of embedding dedup. Same scoped shuffle
    * sizing as the document clustering gates (per-round frames are
    * edges). */
  def embedClusters(spark: SparkSession, dir: String): DataFrame =
    graft.Conf.withConf(spark, "spark.sql.shuffle.partitions", "8") {
      val nodes = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id").as("doc_id"))
      val pairs = stagedEmbedPairs(spark, dir)
        .select(col("a").as("da"), col("b").as("db"))
      Dedup.dupClustersStar(nodes, pairs)._1
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
    }

  /** Per-vector triangle participation in the verified near-dup graph —
    * the standard graph-density diagnostic on a dedup pair set (a
    * triangle-rich neighborhood is a boilerplate family; a triangle-
    * free one is chained drift — exactly the shapes that pick between
    * [[Dedup.dupClusters]] and [[Dedup.dupClustersStar]]). Classic
    * two-hop triangle join over the ordered edge list (x<y<z, so each
    * triangle counts once): work is bounded by candidate-pair volume,
    * which LSH banding already bounds; at real scale the join order
    * follows vertex degree (count small-degree side first) but the
    * shape is identical. Edges cache once; the three self-join arms
    * read the cached frame, not three LSH reruns. */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame = {
    val p = stagedEmbedPairs(spark, dir).cache()
    val tri = p.alias("e1")
      .join(p.alias("e2"), col("e2.a") === col("e1.b"))
      .join(p.alias("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val out = tri.select(col("x").as("vec_id"))
      .union(tri.select(col("y").as("vec_id")))
      .union(tri.select(col("z").as("vec_id")))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_tri"))
    graft.Conf.checkpointThenRelease(out, p)
  }

  /** Gate form: the global census (one row, even on a triangle-free
    * graph — a sparse SF has no near-dup triangles, and "none" is a
    * legitimate, reportable density reading, not an empty result).
    * `sum(n_tri) = 3 * n_triangles` exactly — each triangle is counted
    * once per corner — so the census folds out of the per-vertex frame
    * with no extra pass over the edges. */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(spark, dir).agg(
      coalesce(floor(sum("n_tri") / 3), lit(0L)).cast("long").as("n_triangles"),
      count(lit(1)).as("n_vertices"),
      coalesce(max("n_tri"), lit(0L)).cast("long").as("max_per_vertex"))

  /** Component-size census of the near-dup graph — the distribution
    * readout a dedup run is judged by ("how big are the duplicate
    * families?"): for each component size, how many components have
    * it, how many vectors they hold in total, and the share of the
    * corpus in components of that size (`·10^6 DIV`, exact integers).
    * Size 1 = unique vectors; the long tail of big components is the
    * boilerplate signal. Composes [[embedClusters]]' star-alternation
    * labels with two bounded hash aggs (label → size, size → census);
    * nothing beyond the clustering itself scales with data, and the
    * census frame is at most |distinct sizes| rows. */
  def componentSizes(spark: SparkSession, dir: String): DataFrame = {
    val total = Tables.load(spark, dir, "embeddings").count() // scalar
    embedClusters(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_components"))
      .select(col("size"), col("n_components"),
        (col("size") * col("n_components")).as("n_vectors"),
        expr(s"1000000 * (size * n_components) DIV $total")
          .as("corpus_share_q6"))
  }

  /** Depth bound and seed rule for [[bfsHops]]. */
  val bfsDepth = 4
  val bfsSeedMod = 50

  /** Multi-source bounded-depth BFS core: min-hop distance from any
    * seed, layered frontier expansion. Round r expands ONLY the
    * vertices first reached at round r-1 (BFS layering makes that the
    * complete frontier — a min distance never decreases later), so
    * per-round work is |frontier ⋈ edges|, and the running `dist`
    * frame is bounded by the reached neighborhood, not the graph.
    * `localCheckpoint` per round cuts the lineage so round r+1 joins a
    * materialized frame instead of replanning r rounds of LSH — the
    * same iteration discipline as the clustering loops. */
  def bfsHopsFrom(edges: DataFrame, seeds: DataFrame): DataFrame = {
    var dist = seeds.select(col("n"), lit(0L).as("d"))
    for (r <- 1 to bfsDepth) {
      val frontier = dist.filter(col("d") === (r - 1))
      val nxt = frontier.join(edges, frontier("n") === edges("u"))
        .select(col("v").as("n"), lit(r.toLong).as("d"))
      dist = dist.union(nxt).groupBy("n").agg(min("d").as("d"))
        .localCheckpoint()
    }
    dist
  }

  /** Gate form: distance from the nearest SEED vector (every 50th
    * vec_id — a deterministic 2% scatter) through verified near-dup
    * edges, within [[bfsDepth]] hops; unreached vectors are absent.
    * This is the reachability primitive the graph family was missing
    * next to PageRank/triangles/components: "how many dedup hops
    * separate this vector from an audited one" is the query a
    * spot-check-then-spread labeling workflow runs. All-source at
    * once (one BFS for the whole seed set), never per-seed. */
  def bfsHops(spark: SparkSession, dir: String): DataFrame =
    graft.Conf.withConf(spark, "spark.sql.shuffle.partitions", "8") {
      val pairs = stagedEmbedPairs(spark, dir)
      val edges = pairs
        .select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("a").as("v")))).as("e"))
        .select(col("e.u"), col("e.v"))
        .repartition(col("u"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seeds = Tables.load(spark, dir, "embeddings")
        .filter(col("vec_id") % bfsSeedMod === 0)
        .select(col("vec_id").as("n"))
      graft.Conf.checkpointThenRelease(
        bfsHopsFrom(edges, seeds)
          .select(col("n").as("vec_id"), col("d").as("dist")),
        edges)
    }

  /** Degree cap for [[linkPredict]] wedge centers. A center vertex w
    * contributes deg(w)·(deg(w)-1)/2 wedges, so hubs dominate the join
    * quadratically while contributing ~nothing to the resource-
    * allocation score (their 1/deg weight vanishes) — dropping them is
    * the standard hub guard, the same move as the LSH bucket caps. */
  val lpMaxDeg = 64L

  /** Fixed-point unit for the resource-allocation score: each common
    * neighbor w adds `1e6 div deg(w)` — truncating integer division,
    * bit-identical in Spark (`div`) and DuckDB (`//`), so the score
    * hash-checks without float-order ambiguity. */
  val lpRaScale = 1000000L

  /** Link prediction over the verified near-dup graph — the missing
    * member of the graph family next to PageRank/triangles/components:
    * for every NON-adjacent pair (a, b) sharing at least one neighbor,
    * the common-neighbor count and the resource-allocation index
    * Σ_w 1/deg(w) (Zhou/Lü/Zhang 2009 — the strongest of the simple
    * local indices). On a dedup graph this is the "probable missed
    * duplicate" queue: pairs the LSH bands never collided but whose
    * shared neighborhoods say they should have — exactly what a human
    * audit loop reviews next.
    *
    * Scale shape: one wedge self-join keyed on the center vertex —
    * per-center work is deg² and [[lpMaxDeg]] bounds it (hub centers
    * carry ~zero RA weight, so the cap trades noise, not signal) —
    * then ONE hash agg on the (a, b) pair key and an anti-join back
    * against the edge list to keep predictions only. Nothing here is
    * all-pairs; work is bounded by Σ min(deg, cap)² over vertices,
    * the same budget as the triangle census. */
  def linkPredict(spark: SparkSession, dir: String): DataFrame =
    graft.Conf.withConf(spark, "spark.sql.shuffle.partitions", "8") {
      val pairs = stagedEmbedPairs(spark, dir).cache()
      val edges = pairs
        .select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("a").as("v")))).as("e"))
        .select(col("e.u"), col("e.v"))
      val deg = edges.groupBy("u").agg(count(lit(1)).as("d"))
      val centered = edges.join(deg.filter(col("d") <= lpMaxDeg), "u")
      val wedges = centered.alias("x").join(centered.alias("y"),
          col("x.u") === col("y.u") && col("x.v") < col("y.v"))
        .select(col("x.v").as("a"), col("y.v").as("b"), col("x.d").as("d"))
      graft.Conf.checkpointThenRelease(
        wedges.groupBy("a", "b")
          .agg(count(lit(1)).as("cn"),
            sum(expr(s"$lpRaScale div d")).as("ra_fp"))
          .join(pairs, Seq("a", "b"), "left_anti"),
        pairs)
    }

  /** Core order and unrolled peel rounds for [[kcore]]. */
  val kcoreK = 2
  val kcoreRounds = 6

  /** k-core of the near-dup graph (here k = [[kcoreK]]): the maximal
    * subgraph where every vertex keeps ≥ k neighbors — the standard
    * dense-region extractor (Seidman 1983). On a dedup graph the
    * 2-core separates genuine boilerplate FAMILIES (cycles/cliques
    * survive) from chains of pairwise drift (trees peel away to
    * nothing) — exactly the distinction that decides whether to keep
    * one representative or review the whole cluster.
    *
    * Iterative peeling, unrolled to [[kcoreRounds]] synchronous
    * rounds (the prIters pattern — a fixed plan, no driver loop; the
    * spec asserts the fixpoint is reached, and a production job loops
    * to convergence with the same per-round body). Per round: restrict
    * cached edges to surviving endpoints (two semi-join-shaped equi
    * joins), ONE degree hash-agg, filter ≥ k — the shuffle carries
    * vertex/degree rows only, never the graph; `localCheckpoint`
    * truncates the growing lineage. Emits survivors with their final
    * in-core degree. */
  def kcore(spark: SparkSession, dir: String): DataFrame =
    graft.Conf.withConf(spark, "spark.sql.shuffle.partitions", "8") {
      val pairs = stagedEmbedPairs(spark, dir)
      val edges = pairs
        .select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("a").as("v")))).as("e"))
        .select(col("e.u"), col("e.v"))
        .repartition(col("u"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var live = edges.select(col("u"), lit(0L).as("d")).distinct()
      for (_ <- 1 to kcoreRounds) {
        live = edges
          .join(live.select(col("u")), "u")
          .join(live.select(col("u").as("v")), "v")
          .groupBy("u").agg(count(lit(1)).as("d"))
          .filter(col("d") >= kcoreK)
          .localCheckpoint()
      }
      // live is already checkpoint-materialized; just release the edges
      edges.unpersist()
      live.select(col("u").as("vec_id"), col("d").as("deg"))
    }

  /** Gate form: the core census (one row even when the graph has no
    * 2-core — a sparse SF legitimately reports "no dense families",
    * the [[triangles]] pattern): members, their degree mass, and the
    * max in-core degree. */
  def kcoreCensus(spark: SparkSession, dir: String): DataFrame =
    kcore(spark, dir).agg(
      count(lit(1)).as("n_core"),
      coalesce(sum("deg"), lit(0L)).cast("long").as("deg_sum"),
      coalesce(max("deg"), lit(0L)).cast("long").as("max_deg"))

  // --- Fixed-point PageRank over the near-dup graph ----------------------

  /** Fixed iteration count and fixed-point unit for [[pageRank]]. The
    * damping factor is the exact rational 17/20 (= 0.85) and every
    * update is INTEGER arithmetic on `prScale`-scaled values — floating
    * addition is order-dependent, so a float PageRank can't be
    * hash-compared against any oracle, while truncating integer
    * division is bit-identical in Spark (`div`) and DuckDB (`//`) on
    * the non-negative values that rank mass always is. */
  val prIters = 5
  val prScale = 1000000000000L // 1e12: ~12 significant digits of rank
  private val prBase = prScale * 3 / 20 // (1 - d) * scale, d = 17/20

  /** PageRank (d = 0.85, [[prIters]] synchronous iterations, no
    * dangling-mass redistribution — an isolated vector keeps the base
    * rank) over the symmetric verified near-dup graph, ranking how
    * central a document is inside its duplication neighborhood — the
    * standard centrality signal for picking a representative of a
    * boilerplate family, complementing the quality-argmax rule in
    * [[Dedup.canonicalQuery]].
    *
    * Scale shape: the edge list builds once (map-side explode for the
    * symmetric closure), pre-partitions on the join key, and persists;
    * each iteration is ONE join of the (small) rank frame against the
    * cached edges plus one hash-agg — the per-iteration shuffle carries
    * rank rows, never the graph. Iterations are a fixed plan unrolling (5 joins in one
    * DAG), not driver-side collects. Overflow-safe: per-node inbound
    * mass is bounded by total mass n·prScale ≈ 2e15 at sf0.1, and
    * 17 × that is far under Long.MaxValue. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = stagedEmbedPairs(spark, dir)
    // localCheckpoint(eager): materialize the edge list ONCE before the
    // 5-iteration unroll references it ten times. A lazy persist lets the
    // first action fan the LSH candidate-generation subtree into every
    // iteration join (concurrent stages race the cache fill and Catalyst
    // re-optimizes the giant subtree per reference); checkpointing both
    // fills the cache up front and truncates the lineage to a plain scan.
    val edges = pairs
      .select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u"), col("e.v"))
      .repartition(col("u"))
      .localCheckpoint(true)
    val deg = edges.groupBy("u").agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val nodes = Tables.load(spark, dir, "embeddings").select(col("vec_id"))
    var pr = nodes.withColumn("pr", lit(prScale))
    for (_ <- 1 to prIters) {
      val contribs = pr.join(deg, pr("vec_id") === deg("u"))
        .select(col("u"), expr("pr div d").as("c"))
        .join(edges, "u")
        .groupBy("v").agg(sum("c").as("s"))
      // damping in DECIMAL(38,0): inbound mass s to a hub is bounded
      // only by total mass n*prScale, so the 17x amplification wraps a
      // LONG once n exceeds ~5.4e5 — the decimal multiply is exact up
      // to the long-sum envelope (n <= ~9.2e6 at prScale 1e12; beyond
      // that, lower prScale), matching the oracle's HUGEINT arithmetic
      pr = nodes.join(contribs, nodes("vec_id") === contribs("v"), "left")
        .select(col("vec_id"),
          (lit(prBase) + expr(
            "(17 * cast(coalesce(s, 0L) as decimal(38,0))) div 20")).as("pr"))
    }
    pr.select(col("vec_id"), col("pr").as("pr_fp"))
  }

  /** Hard-negative mining — for each probe, the top-5 most-similar
    * vectors carrying a DIFFERENT label (the contrastive-training
    * batch-construction primitive: negatives that are hard precisely
    * because the embedding thinks they match). Reuses the [[pairSims]]
    * broadcast kernel; the label attach is one keyed join of the
    * (probes x corpus) sim frame against the id->label projection, and
    * the top-5 cut is the standard per-query window. At scale the probe
    * set is whatever anchor batch is being mined (bounded), so the
    * whole operator is one corpus pass + one join. */
  def knnHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val ds = vecDs(spark, dir)
    val probes = ds.filter(col("id") < 20).collect()
    val sims = pairSims(ds, probes, (c, q) => c != q, minSim = -2.0)
      .select(col("b").as("query_id"), col("a").as("neighbor_id"), col("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    sims
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("q_label")), "query_id")
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), "neighbor_id")
      .filter(col("q_label") =!= col("n_label"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("q_label"),
        col("n_label"), col("rn"), round(col("sim"), 4).as("sim_r4"))
  }

  /** Per-label mean embedding (the class prototype — k-means'
    * assignment target and the noisy-label pruning reference point),
    * in exact fixed point: each float lands on a 1e-6 grid (the
    * repo's cent-grid pattern — `round` on doubles agrees across
    * engines), per-(label, dimension) sums are exact BIGINTs, so the
    * result is independent of partial-aggregation order. Plan:
    * posexplode to (label, pos, x) — map-side, no shuffle — then ONE
    * hash agg keyed by (label, pos); emitted as (n, sum) pairs, the
    * mergeable sufficient statistic, not a pre-divided mean. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"),
        sum(round(col("x") * 1e6).cast("long")).as("sum_u6"))
      .select(col("label"), col("pos").cast("long").as("pos"),
        col("n"), col("sum_u6"))

  /** Synchronous rounds for [[labelProp]]. Fixed (not run-to-
    * convergence): synchronous LPA can oscillate on bipartite
    * structures, so a fixed unroll is both the deterministic choice
    * and the scalable one — the published statistic is "the label
    * state after R rounds", the same discipline as [[prIters]]. */
  val lpRounds = 4

  /** Label-propagation community detection (Raghavan et al. 2007) over
    * the verified near-dup graph — the cheap community extractor that
    * groups boilerplate FAMILIES (tighter than connected components,
    * which chain through single weak links; coarser than k-core's
    * dense kernel). Every node starts as its own label; each round a
    * node adopts the MAJORITY label among its neighbors PLUS ITS OWN
    * current label (one self-vote), ties to the smallest label (an
    * explicit engine-portable rule — argmax alone is nondeterministic
    * in any engine), isolated nodes keep their own. The self-vote is
    * the deterministic anti-oscillation choice for SYNCHRONOUS
    * updates: without it, two mutually-connected degree-1 nodes swap
    * labels every round and an even unroll returns them to their own
    * labels — cutting the very edge LPA exists to capture (Raghavan
    * et al. §3 resolve this with asynchronous order, which is not
    * reproducible across engines; the self-vote is).
    *
    * Scale shape, same discipline as [[pageRank]]: the edge list
    * builds once and localCheckpoints (lineage cut at the loop
    * boundary); each round is ONE join of the (node-sized) label
    * frame against the cached edges, one (u, lbl) count agg, and one
    * bounded argmax struct-max — the per-round shuffle carries label
    * rows, never the graph. Rounds are a fixed plan unrolling. */
  def labelProp(spark: SparkSession, dir: String): DataFrame =
    labelPropOver(spark, dir, stagedEmbedPairs(spark, dir))

  /** [[labelProp]] body over a caller-supplied undirected pair frame
    * `(a, b)` — lets [[modularity]] score the SAME pair materialization
    * it tags, instead of re-deriving the LSH pyramid twice. */
  private[graft] def labelPropOver(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u"), col("e.v"))
      .repartition(col("u"))
      .localCheckpoint(true)
    val nodes = Tables.load(spark, dir, "embeddings").select(col("vec_id"))
    var lbl = nodes.withColumn("lbl", col("vec_id"))
    for (_ <- 1 to lpRounds) {
      val pick = edges
        .join(lbl.select(col("vec_id").as("v"), col("lbl")), "v")
        .select(col("u"), col("lbl"))
        // the self-vote: every node contributes its own current label
        .unionByName(lbl.select(col("vec_id").as("u"), col("lbl")))
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("cnt"))
        // majority label, ties to the SMALLEST label: struct max on
        // (cnt, -lbl) — lexicographic, codegen'd, no window needed
        .groupBy("u")
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("top"))
        .select(col("u"), (-col("top.nl")).as("new_lbl"))
      lbl = nodes.join(pick, nodes("vec_id") === pick("u"), "left")
        .select(col("vec_id"),
          coalesce(col("new_lbl"), col("vec_id")).as("lbl"))
    }
    lbl.select(col("vec_id"), col("lbl").as("community"))
  }

  /** Newman modularity of the [[labelProp]] partition — the eval that
    * closes the community loop (the same role [[lshRecall]] plays for
    * ANN): Q = Σ_c [L_c/m − (d_c/2m)²] (Newman & Girvan 2004), one row
    * per community with its size, intra-edge count L_c, degree sum
    * d_c, and exact-integer contribution q_c_q6 = 10⁶·(4m·L_c − d_c²)
    * DIV 4m² (NULL when the graph has no edges). Q > 0 means the
    * labels beat a random degree-preserving rewiring.
    *
    * Plan: the pair frame materializes ONCE (localCheckpoint) and
    * feeds both the label rounds and the tagging join; tagging is one
    * join of pairs against the node-sized label frame per endpoint;
    * everything after (L_c, d_c, sizes, the 2m grand total) is hash
    * aggregation to a ≤|communities| frame, where m falls out of the
    * degree sums (Σd_c = 2m) — no second corpus pass, and the final
    * arithmetic runs on the bounded frame via
    * [[graft.Tables.boundedGlobalFrame]]. Operands of DIV are kept
    * non-negative (sign split out, the [[graft.analytics.StatsQueries]]
    * rule) because engines differ on negative truncation. */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = stagedEmbedPairs(spark, dir).localCheckpoint(true)
    // Materialize the node-sized label frame once: it feeds THREE
    // consumers (the two tagging joins and the community-size agg),
    // and without the cut each would re-execute the full 4-round
    // unrolled LPA DAG (measured 5.65 s -> the checkpoint removes the
    // redundant re-runs; same discipline as pageRank's edge cut).
    val lbl = labelPropOver(spark, dir, pairs).localCheckpoint(true)
    val tagged = pairs
      .join(lbl.select(col("vec_id").as("a"), col("community").as("ca")), "a")
      .join(lbl.select(col("vec_id").as("b"), col("community").as("cb")), "b")
      .localCheckpoint(true) // bounded: one row per verified near-dup pair
    val intra = tagged.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("l_c"))
    val degs = tagged
      .select(explode(array(col("ca"), col("cb"))).as("community"))
      .groupBy("community").agg(count(lit(1)).as("d_c"))
    lbl.groupBy("community").agg(count(lit(1)).as("n_nodes"))
      .join(intra, Seq("community"), "left")
      .join(degs, Seq("community"), "left")
      .na.fill(0L, Seq("l_c", "d_c"))
      .withColumn("m2", sum(col("d_c")).over(Tables.boundedGlobalFrame))
      .withColumn("num", expr( // 4m·L_c − d_c², exact in DECIMAL(38,0)
        "2 * CAST(m2 AS DECIMAL(38,0)) * l_c " +
          "- CAST(d_c AS DECIMAL(38,0)) * d_c"))
      .selectExpr("community", "n_nodes", "l_c", "d_c",
        "CAST(CASE WHEN num < 0 THEN -((1000000 * -num) " +
          "DIV nullif(CAST(m2 AS DECIMAL(38,0)) * m2, 0)) " +
          "ELSE (1000000 * num) " +
          "DIV nullif(CAST(m2 AS DECIMAL(38,0)) * m2, 0) END" +
          " AS BIGINT) AS q_c_q6")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_modularity" -> modularity _,
    "graph_label_prop" -> labelProp _,
    "knn_hard_negatives" -> knnHardNegatives _,
    "embed_centroids" -> labelCentroids _,
    "graph_pagerank" -> pageRank _,
    "graph_triangles" -> triangles _,
    "graph_component_sizes" -> componentSizes _,
    "graph_bfs_hops" -> bfsHops _,
    "graph_link_predict" -> linkPredict _,
    "graph_kcore" -> kcoreCensus _,
    "knn_brute" -> knnBrute _,
    "embed_neardup" -> embedNearDup _,
    "embed_neardup_lsh" -> embedNearDupLsh _,
    "embed_lsh_recall" -> lshRecall _,
    "embed_clusters" -> embedClusters _,
    "knn_ivf" -> knnIvf _,
    "knn_ivf_sampled" -> knnIvfSampled _,
    "knn_ivf_probe2" -> knnIvfProbe _,
    "knn_ivf_recall" -> ivfRecall _,
    "dedup_semantic" -> semanticDedup _,
    "embed_project" -> projectEmbeddings _,
    "embed_quantize" -> quantizeEmbeddings _,
    "embed_pq_codes" -> pqCodes _,
    "knn_pq_adc" -> knnPqAdc _,
    "knn_ivf_pq" -> knnIvfPq _,
    "embed_pq_recon" -> pqRecon _,
    "knn_filtered" -> knnFiltered _,
    "embed_norm_outliers" -> normOutliers _)

  /** Flat CTE list ending in `vp(a, b)` — the verified SRP-LSH near-dup
    * pairs; shared by the pair gate and the clustering gate. */
  private def lshPairCtes: String = {
    val weights = (0 until lshBits).map(bit =>
      s"WHEN ${bit} THEN ${1 << (lshBits - 1 - bit)}").mkString(" ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bits AS (
       |  SELECT e.vec_id, k.band, k.bit,
       |    CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range($Dim), i -> e.v[i+1] *
       |        CAST((1103515245*((k.band*$lshBits + k.bit)*$Dim + i) + 12345)
       |             % 2147483648 - 1073741824 AS DOUBLE))),
       |      (p,q) -> p+q) > 0
       |    THEN 1 ELSE 0 END AS s
       |  FROM e CROSS JOIN (
       |    SELECT b.range AS band, t.range AS bit
       |    FROM range($lshBands) b CROSS JOIN range($lshBits) t) k),
       |buckets AS (
       |  SELECT vec_id, band,
       |    sum(s * CASE bit $weights END) AS bucket
       |  FROM bits GROUP BY vec_id, band),
       |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |   AND x.vec_id < y.vec_id),
       |vp AS (SELECT cand.a, cand.b FROM cand
       |  JOIN e ea ON ea.vec_id = cand.a
       |  JOIN e eb ON eb.vec_id = cand.b
       |  WHERE ${cosSql("ea.v", "eb.v")} >= 0.4)""".stripMargin
  }

  /** DuckDB cosine with the same left-to-right accumulation order as
    * [[CosineSimilarity]]/[[pairSims]] — bit-identical doubles, so
    * unrounded sims can drive ORDER BY in the oracle. */
  private def cosSql(a: String, b: String): String = {
    def fold(x: String, y: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range($Dim), i -> $x[i+1] * $y[i+1])), (p,q) -> p+q)"
    s"(${fold(a, b)} / (sqrt(${fold(a, a)}) * sqrt(${fold(b, b)})))"
  }

  /** Squared L2 between the `$sub`-th dsub-dim slice of full vector x
    * and an 8-dim codebook entry y, accumulated left-to-right — the
    * DuckDB rendering of the [[graft.functions.PqEncode]] inner loop.
    * `sub` is a SQL expression for the subspace index. */
  private def pqD2Sql(x: String, sub: String, y: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range($pqDsub), d -> " +
      s"($x[$sub*$pqDsub + d + 1] - $y[d+1]) * " +
      s"($x[$sub*$pqDsub + d + 1] - $y[d+1]))), " +
      s"(p,q) -> p+q)"

  /** Shared base CTE: raw embeddings as `e(vec_id, v)`. Factored out so
    * the IVFADC oracle can splice the IVF and PQ CTE pyramids (each of
    * which needs `e`) into ONE WITH list without a duplicate name. */
  private def eCte: String =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  /** Flat CTE list ending in `pq_cb(sub, code, cv)` (the trained
    * codebook — LCG-sampled init + [[pqIters]] per-subspace Lloyd
    * rounds with integer-quantized means, bit-identical to
    * [[pqCodebookFor]]) and `pq_best(vec_id, sub, code)` (the encode
    * against it); shared by the code gate and the ADC search gate.
    * Assumes `e` is already defined ([[eCte]]). */
  private def pqCtesBody: String = {
    def lloyd(t: Int, prev: String): String =
      s"""pq_d$t AS (SELECT e.vec_id, c.sub, c.code,
         |    ${pqD2Sql("e.v", "c.sub", "c.cv")} AS d2
         |  FROM e CROSS JOIN $prev c),
         |pq_a$t AS (SELECT vec_id, sub, code FROM (
         |  SELECT vec_id, sub, code, row_number() OVER (
         |    PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn
         |  FROM pq_d$t) WHERE rn = 1),
         |pq_s$t AS (SELECT b.sub, b.code, i.range AS d,
         |    sum(CAST(floor(e.v[b.sub*$pqDsub + i.range + 1] * 1000000.0)
         |        AS BIGINT)) AS s,
         |    count(*) AS n
         |  FROM pq_a$t b JOIN e USING (vec_id) CROSS JOIN range($pqDsub) i
         |  GROUP BY 1, 2, 3),
         |pq_cb$t AS (SELECT c.sub, c.code, coalesce(u.cv, c.cv) AS cv
         |  FROM $prev c LEFT JOIN (
         |    SELECT sub, code, list(CAST(s AS DOUBLE)
         |      / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY d) AS cv
         |    FROM pq_s$t GROUP BY 1, 2) u USING (sub, code))""".stripMargin
    val rounds = (1 to pqIters)
      .map(t => lloyd(t, if (t == 1) "pq_cb0" else s"pq_cb${t - 1}"))
      .mkString(",\n")
    s"""pq_cb0 AS (SELECT s.range AS sub, t.code,
       |    list_transform(range($pqDsub), d -> t.v[s.range*$pqDsub + d + 1]) AS cv
       |  FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
       |        FROM (SELECT vec_id, v FROM e
       |              ORDER BY (vec_id * 1103515245 + 12345) % 2147483648, vec_id
       |              LIMIT $pqK)) t
       |  CROSS JOIN range($pqSub) s),
       |$rounds,
       |pq_cb AS (SELECT sub, code, cv FROM pq_cb$pqIters),
       |pq_df AS (SELECT e.vec_id, c.sub, c.code,
       |    ${pqD2Sql("e.v", "c.sub", "c.cv")} AS d2
       |  FROM e CROSS JOIN pq_cb c),
       |pq_best AS (SELECT vec_id, sub, code FROM (
       |  SELECT vec_id, sub, code, row_number() OVER (
       |    PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn
       |  FROM pq_df) WHERE rn = 1)""".stripMargin
  }

  private def pqCtes: String = s"$eCte,\n$pqCtesBody"

  /** Unrolled fixed-point PageRank iterations p1..p[[prIters]] as a CTE
    * chain (DuckDB's recursive CTEs forbid aggregation in the recursive
    * member, and the iteration count is a fixed constant anyway). */
  private def prStepCtes: String = (1 to prIters).map { k =>
    s"""p$k AS (SELECT n.vec_id,
       |  CAST($prBase + (17 * coalesce(s.c, 0)) // 20 AS BIGINT) AS pr
       |  FROM nodes n LEFT JOIN (
       |    SELECT e2.v AS v, sum(p.pr // dg.d) AS c
       |    FROM p${k - 1} p
       |    JOIN deg dg ON dg.u = p.vec_id
       |    JOIN edges e2 ON e2.u = p.vec_id
       |    GROUP BY e2.v) s ON s.v = n.vec_id)""".stripMargin
  }.mkString(",\n")

  /** CTE prefix shared by the [[labelProp]] and [[modularity]] oracles:
    * `$lshPairCtes` + `edges`/`nodes`/`l0` + the [[lpRounds]] unrolled
    * label rounds ending at `l$lpRounds`. l{r} is referenced by
    * cnt{r+1} — MATERIALIZED so DuckDB never inlines the LSH pyramid
    * into an exponential re-evaluation. */
  private def lpCtes: String = {
    val rounds = (1 to lpRounds).map { r =>
      s"""cnt$r AS (SELECT u, lbl, count(*) AS cnt FROM (
         |    SELECT e.u, x.lbl
         |    FROM edges e JOIN l${r - 1} x ON x.vec_id = e.v
         |    UNION ALL SELECT vec_id AS u, lbl FROM l${r - 1})
         |  GROUP BY 1, 2),
         |pick$r AS (SELECT u, lbl FROM (
         |    SELECT u, lbl, row_number() OVER (PARTITION BY u
         |      ORDER BY cnt DESC, lbl ASC) AS rn
         |    FROM cnt$r) WHERE rn = 1),
         |l$r AS MATERIALIZED (SELECT n.vec_id,
         |    coalesce(p.lbl, n.vec_id) AS lbl
         |  FROM nodes n LEFT JOIN pick$r p ON p.u = n.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""$lshPairCtes,
       |edges AS MATERIALIZED (SELECT a AS u, b AS v FROM vp
       |  UNION ALL SELECT b AS u, a AS v FROM vp),
       |nodes AS (SELECT vec_id FROM embeddings),
       |l0 AS MATERIALIZED (SELECT vec_id, vec_id AS lbl FROM nodes),
       |$rounds""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "graph_label_prop" ->
      s"""WITH $lpCtes
         |SELECT vec_id, lbl AS community FROM l$lpRounds""".stripMargin,
    "graph_modularity" ->
      s"""WITH $lpCtes,
         |tagged AS MATERIALIZED (SELECT p.a, p.b,
         |    xa.lbl AS ca, xb.lbl AS cb
         |  FROM vp p
         |  JOIN l$lpRounds xa ON xa.vec_id = p.a
         |  JOIN l$lpRounds xb ON xb.vec_id = p.b),
         |intra AS (SELECT ca AS community, count(*) AS l_c
         |  FROM tagged WHERE ca = cb GROUP BY 1),
         |degs AS (SELECT community, count(*) AS d_c FROM (
         |    SELECT ca AS community FROM tagged
         |    UNION ALL SELECT cb FROM tagged) GROUP BY 1),
         |sz AS (SELECT lbl AS community, count(*) AS n_nodes
         |  FROM l$lpRounds GROUP BY 1),
         |j AS (SELECT s.community, s.n_nodes,
         |    coalesce(i.l_c, 0) AS l_c, coalesce(d.d_c, 0) AS d_c
         |  FROM sz s
         |  LEFT JOIN intra i ON i.community = s.community
         |  LEFT JOIN degs d ON d.community = s.community),
         |t AS (SELECT *, CAST(sum(d_c) OVER () AS HUGEINT) AS m2,
         |    2 * CAST(sum(d_c) OVER () AS HUGEINT) * l_c
         |      - CAST(d_c AS HUGEINT) * d_c AS num
         |  FROM j)
         |SELECT community, n_nodes, l_c, d_c,
         |  CAST(CASE WHEN num < 0
         |    THEN -((1000000 * -num) // nullif(m2 * m2, 0))
         |    ELSE (1000000 * num) // nullif(m2 * m2, 0) END
         |    AS BIGINT) AS q_c_q6
         |FROM t""".stripMargin,
    "graph_pagerank" ->
      s"""WITH $lshPairCtes,
         |edges AS (SELECT a AS u, b AS v FROM vp
         |  UNION ALL SELECT b AS u, a AS v FROM vp),
         |deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
         |nodes AS (SELECT vec_id FROM embeddings),
         |p0 AS (SELECT vec_id, CAST($prScale AS BIGINT) AS pr FROM nodes),
         |$prStepCtes
         |SELECT vec_id, pr AS pr_fp FROM p$prIters""".stripMargin,
    "graph_bfs_hops" ->
      s"""WITH RECURSIVE $lshPairCtes,
         |edges AS (SELECT a AS u, b AS v FROM vp
         |          UNION SELECT b, a FROM vp),
         |reach(n, d) AS (
         |  SELECT vec_id, 0 FROM embeddings WHERE vec_id % $bfsSeedMod = 0
         |  UNION
         |  SELECT ed.v, reach.d + 1 FROM edges ed
         |  JOIN reach ON reach.n = ed.u WHERE reach.d < $bfsDepth)
         |SELECT n AS vec_id, CAST(min(d) AS BIGINT) AS dist
         |FROM reach GROUP BY n""".stripMargin,
    "graph_kcore" -> {
      // every c_r is referenced TWICE by c_{r+1}; without MATERIALIZED
      // DuckDB may inline the reference, re-evaluating the whole LSH
      // pyramid 2^rounds times
      val rounds = (1 to kcoreRounds).map { r =>
        s"""c$r AS MATERIALIZED (SELECT e.u, count(*) AS d
           |  FROM edges e
           |  JOIN c${r - 1} x ON x.u = e.u
           |  JOIN c${r - 1} y ON y.u = e.v
           |  GROUP BY e.u HAVING count(*) >= $kcoreK)""".stripMargin
      }.mkString(",\n")
      s"""WITH $lshPairCtes,
         |edges AS MATERIALIZED (SELECT a AS u, b AS v FROM vp
         |  UNION ALL SELECT b AS u, a AS v FROM vp),
         |c0 AS MATERIALIZED (
         |  SELECT DISTINCT u, CAST(0 AS BIGINT) AS d FROM edges),
         |$rounds
         |SELECT CAST(count(*) AS BIGINT) AS n_core,
         |  CAST(coalesce(sum(d), 0) AS BIGINT) AS deg_sum,
         |  CAST(coalesce(max(d), 0) AS BIGINT) AS max_deg
         |FROM c$kcoreRounds""".stripMargin
    },
    "graph_link_predict" ->
      s"""WITH $lshPairCtes,
         |edges AS (SELECT a AS u, b AS v FROM vp
         |  UNION ALL SELECT b AS u, a AS v FROM vp),
         |deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
         |ce AS (SELECT e.u, e.v, deg.d FROM edges e
         |  JOIN deg ON deg.u = e.u WHERE deg.d <= $lpMaxDeg),
         |wedge AS (SELECT x.v AS a, y.v AS b, x.d AS d
         |  FROM ce x JOIN ce y ON x.u = y.u AND x.v < y.v),
         |scored AS (SELECT a, b, count(*) AS cn,
         |    CAST(sum($lpRaScale // d) AS BIGINT) AS ra_fp
         |  FROM wedge GROUP BY a, b)
         |SELECT s.a, s.b, s.cn, s.ra_fp FROM scored s
         |WHERE NOT EXISTS (SELECT 1 FROM vp
         |  WHERE vp.a = s.a AND vp.b = s.b)""".stripMargin,
    "graph_triangles" ->
      s"""WITH $lshPairCtes,
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM vp e1
         |  JOIN vp e2 ON e2.a = e1.b
         |  JOIN vp e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tn AS (SELECT x AS vec_id FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri),
         |pv AS (SELECT vec_id, count(*) AS n_tri FROM tn GROUP BY vec_id)
         |SELECT CAST(coalesce(floor(sum(n_tri) / 3), 0) AS BIGINT) AS n_triangles,
         |       count(*) AS n_vertices,
         |       CAST(coalesce(max(n_tri), 0) AS BIGINT) AS max_per_vertex
         |FROM pv""".stripMargin,
    "knn_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS q_label,
        |             CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 20)
        |SELECT query_id, neighbor_id, q_label, n_label, rn,
        |  round(sim, 4) AS sim_r4 FROM (
        |  SELECT q.query_id, e.vec_id AS neighbor_id, q.q_label,
        |    e.label AS n_label,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim,
        |    CAST(row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |        DESC, e.vec_id ASC) AS BIGINT) AS rn
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id AND e.label <> q.q_label)
        |WHERE rn <= 5""".stripMargin,
    "embed_centroids" ->
      """WITH x AS (SELECT label, j AS pos, embedding[j + 1] AS x
        |  FROM embeddings, unnest(range(len(embedding))) AS u(j))
        |SELECT label, CAST(pos AS BIGINT) AS pos, count(*) AS n,
        |  CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))
        |    AS BIGINT) AS sum_u6
        |FROM x GROUP BY 1, 2""".stripMargin,
    "knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |             CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 20)
        |SELECT query_id, neighbor_id, rn, round(sim, 4) AS sim_r4 FROM (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS sim,
        |    CAST(row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |        DESC, e.vec_id ASC) AS BIGINT) AS rn
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id)
        |WHERE rn <= 5""".stripMargin,
    "embed_neardup" ->
      """SELECT a.vec_id AS a, b.vec_id AS b
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.4""".stripMargin,
    "embed_neardup_lsh" ->
      s"""WITH $lshPairCtes
         |SELECT a, b FROM vp""".stripMargin,
    "embed_lsh_recall" ->
      s"""WITH $lshPairCtes,
         |exact AS (SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                               CAST(b.embedding AS DOUBLE[])) >= 0.4),
         |j AS (SELECT
         |    CASE WHEN exact.a IS NOT NULL THEN 1 ELSE 0 END AS in_e,
         |    CASE WHEN vp.a IS NOT NULL THEN 1 ELSE 0 END AS in_l
         |  FROM exact FULL OUTER JOIN vp
         |    ON exact.a = vp.a AND exact.b = vp.b)
         |SELECT CAST(sum(in_e) AS BIGINT) AS n_exact,
         |  CAST(sum(in_l) AS BIGINT) AS n_lsh,
         |  CAST(sum(in_e * in_l) AS BIGINT) AS n_hit,
         |  CAST(1000000 * sum(in_e * in_l) // sum(in_e) AS BIGINT)
         |    AS recall_q6
         |FROM j""".stripMargin,
    "embed_clusters" ->
      s"""WITH RECURSIVE $lshPairCtes,
         |edges AS (SELECT a AS u, b AS v FROM vp
         |          UNION SELECT b, a FROM vp),
         |reach(n, r) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT ed.u, reach.r FROM edges ed JOIN reach ON reach.n = ed.v)
         |SELECT n AS vec_id, min(r) AS cluster_id FROM reach GROUP BY n""".stripMargin,
    "graph_component_sizes" ->
      s"""WITH RECURSIVE $lshPairCtes,
         |edges AS (SELECT a AS u, b AS v FROM vp
         |          UNION SELECT b, a FROM vp),
         |reach(n, r) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT ed.u, reach.r FROM edges ed JOIN reach ON reach.n = ed.v),
         |lab AS (SELECT n, min(r) AS cluster_id FROM reach GROUP BY n),
         |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS size
         |  FROM lab GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM embeddings)
         |SELECT size, CAST(count(*) AS BIGINT) AS n_components,
         |  CAST(size * count(*) AS BIGINT) AS n_vectors,
         |  CAST(1000000 * size * count(*) // max(tot.total) AS BIGINT)
         |    AS corpus_share_q6
         |FROM cs, tot GROUP BY size""".stripMargin,
    "embed_quantize" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    list_max(list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> abs(x))) / 127.0 AS scale
         |  FROM embeddings),
         |q AS (SELECT vec_id, scale, v,
         |    list_transform(v, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
         |      ELSE CAST(round(x / scale) AS BIGINT) END) AS qv
         |  FROM e)
         |SELECT vec_id, scale,
         |  list_min(qv) AS q_min, list_max(qv) AS q_max,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
         |    (acc, c) -> (acc * 31 + c) % $qPolyMod) AS q_poly,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), v),
         |    (acc, x) -> acc + abs(x - (CASE WHEN scale = 0 THEN 0
         |      ELSE round(x / scale) END) * scale)) AS recon_err
         |FROM q""".stripMargin,
    "embed_project" -> {
      // one sequential fold per output dim against the same LCG plane
      def fold(k: Int): String =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
          s"list_transform(range($Dim), i -> v[i+1] * " +
          s"CAST((1103515245*(($projOffset + $k)*$Dim + i) + 12345) " +
          s"% 2147483648 - 1073741824 AS DOUBLE))), (p,q) -> p+q)"
      val cols = (0 until projDim)
        .map(k => s"${fold(k)} AS p$k").mkString(",\n  ")
      s"""SELECT vec_id,
         |  $cols
         |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)""".stripMargin
    },
    "knn_ivf_recall" ->
      s"""WITH $assignedCtes,
         |qb AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
         |te AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, x.vec_id AS neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY list_cosine_similarity(x.v, q.qv) DESC,
         |        x.vec_id ASC) AS BIGINT) AS rn
         |  FROM e x CROSS JOIN qb q WHERE x.vec_id <> q.query_id)
         |  WHERE rn <= 3),
         |q1 AS (SELECT vec_id AS query_id, v AS qv, cent_id AS qcent
         |      FROM assigned WHERE vec_id < 20),
         |t1 AS (SELECT query_id, neighbor_id FROM (
         |  SELECT c.query_id, c.neighbor_id, CAST(row_number() OVER (
         |    PARTITION BY c.query_id ORDER BY c.sim DESC, c.neighbor_id ASC)
         |      AS BIGINT) AS rn
         |  FROM (SELECT q.query_id, a.vec_id AS neighbor_id,
         |          ${cosSql("a.v", "q.qv")} AS sim
         |        FROM assigned a
         |        JOIN q1 q ON a.cent_id = q.qcent
         |          AND a.vec_id <> q.query_id) c)
         |  WHERE rn <= 3),
         |qc2 AS (SELECT q.query_id, c.cent_id,
         |         ${cosSql("q.qv", "c.cv")} AS csim
         |       FROM qb q CROSS JOIN kc$ivfIters c),
         |top2 AS (SELECT query_id, cent_id FROM (
         |    SELECT query_id, cent_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY csim DESC, cent_id ASC) AS crn
         |    FROM qc2) WHERE crn <= $ivfNprobe),
         |t2 AS (SELECT query_id, neighbor_id FROM (
         |  SELECT c.query_id, c.neighbor_id, CAST(row_number() OVER (
         |    PARTITION BY c.query_id ORDER BY c.sim DESC, c.neighbor_id ASC)
         |      AS BIGINT) AS rn
         |  FROM (SELECT t.query_id, a.vec_id AS neighbor_id,
         |          ${cosSql("a.v", "q.qv")} AS sim
         |        FROM assigned a
         |        JOIN top2 t ON a.cent_id = t.cent_id
         |        JOIN qb q ON q.query_id = t.query_id
         |        WHERE a.vec_id <> t.query_id) c)
         |  WHERE rn <= 3)
         |SELECT
         |  (SELECT count(*) FROM te) AS n_exact,
         |  (SELECT count(*) FROM t1) AS n_p1,
         |  (SELECT count(*) FROM t2) AS n_p2,
         |  (SELECT count(*) FROM te JOIN t1 USING (query_id, neighbor_id))
         |    AS hit1,
         |  (SELECT count(*) FROM te JOIN t2 USING (query_id, neighbor_id))
         |    AS hit2,
         |  CAST((1000000 * (SELECT count(*) FROM te JOIN t1
         |    USING (query_id, neighbor_id)))
         |    // (SELECT count(*) FROM te) AS BIGINT) AS recall1_q6,
         |  CAST((1000000 * (SELECT count(*) FROM te JOIN t2
         |    USING (query_id, neighbor_id)))
         |    // (SELECT count(*) FROM te) AS BIGINT) AS recall2_q6""".stripMargin,
    "knn_ivf" ->
      s"""WITH $assignedCtes,
         |q AS (SELECT vec_id AS query_id, v AS qv, cent_id AS qcent
         |      FROM assigned WHERE vec_id < 20),
         |cand AS (SELECT q.query_id, a.vec_id AS neighbor_id,
         |           ${cosSql("a.v", "q.qv")} AS sim
         |         FROM assigned a
         |         JOIN q ON a.cent_id = q.qcent AND a.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, rn, round(sim, 4) AS sim_r4 FROM (
         |  SELECT query_id, neighbor_id, sim, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
         |      AS BIGINT) AS rn
         |  FROM cand) WHERE rn <= 3""".stripMargin,
    "knn_ivf_sampled" ->
      s"""WITH $eCte,
         |es AS (SELECT * FROM e
         |       WHERE (vec_id % 2000000011 * 69069 + 1) % 2000000011 % $ivfSampleMod = 0),
         |${assignedCtesBody("es")},
         |q AS (SELECT vec_id AS query_id, v AS qv, cent_id AS qcent
         |      FROM assigned WHERE vec_id < 20),
         |cand AS (SELECT q.query_id, a.vec_id AS neighbor_id,
         |           ${cosSql("a.v", "q.qv")} AS sim
         |         FROM assigned a
         |         JOIN q ON a.cent_id = q.qcent AND a.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, rn, round(sim, 4) AS sim_r4 FROM (
         |  SELECT query_id, neighbor_id, sim, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
         |      AS BIGINT) AS rn
         |  FROM cand) WHERE rn <= 3""".stripMargin,
    "knn_ivf_probe2" ->
      s"""WITH $assignedCtes,
         |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
         |qc AS (SELECT q.query_id, c.cent_id,
         |         ${cosSql("q.qv", "c.cv")} AS csim
         |       FROM qs q CROSS JOIN kc$ivfIters c),
         |top2 AS (SELECT query_id, cent_id FROM (
         |    SELECT query_id, cent_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY csim DESC, cent_id ASC) AS crn
         |    FROM qc) WHERE crn <= $ivfNprobe),
         |cand AS (SELECT t.query_id, a.vec_id AS neighbor_id,
         |           ${cosSql("a.v", "q.qv")} AS sim
         |         FROM assigned a
         |         JOIN top2 t ON a.cent_id = t.cent_id
         |         JOIN qs q ON q.query_id = t.query_id
         |         WHERE a.vec_id <> t.query_id)
         |SELECT query_id, neighbor_id, rn, round(sim, 4) AS sim_r4 FROM (
         |  SELECT query_id, neighbor_id, sim, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
         |      AS BIGINT) AS rn
         |  FROM cand) WHERE rn <= 3""".stripMargin,
    "dedup_semantic" ->
      s"""WITH $assignedCtes,
         |drops AS (SELECT DISTINCT y.vec_id
         |  FROM assigned x JOIN assigned y
         |    ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id
         |  WHERE ${cosSql("x.v", "y.v")} >= $semThreshold)
         |SELECT a.vec_id, a.cent_id, d.vec_id IS NULL AS kept
         |FROM assigned a LEFT JOIN drops d ON d.vec_id = a.vec_id""".stripMargin,
    "embed_norm_outliers" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |    FROM embeddings),
         |nn AS (SELECT vec_id, sqrt(list_reduce(list_prepend(
         |    CAST(0 AS DOUBLE),
         |    list_transform(range($Dim), i -> v[i+1] * v[i+1])),
         |    (p,q) -> p+q)) AS nrm FROM e),
         |u AS (SELECT vec_id, nrm,
         |    CAST(floor(nrm * 1000000.0) AS BIGINT) AS nrm_u6 FROM nn),
         |s AS (SELECT CAST(sum(nrm_u6) AS BIGINT) AS sum_u6,
         |    count(*) AS n FROM u)
         |SELECT vec_id, round(nrm, 4) AS nrm_r4,
         |  u.nrm_u6 * s.n > 2 * s.sum_u6 AS flag_high,
         |  2 * u.nrm_u6 * s.n < s.sum_u6 AS flag_low
         |FROM u CROSS JOIN s""".stripMargin,
    "embed_pq_recon" ->
      s"""WITH $pqCtes,
         |pq_min AS (SELECT vec_id, sub, min(d2) AS d2
         |  FROM pq_df GROUP BY 1, 2),
         |piv AS (SELECT vec_id,
         |           max(CASE WHEN sub = 0 THEN d2 END) AS s0,
           max(CASE WHEN sub = 1 THEN d2 END) AS s1,
           max(CASE WHEN sub = 2 THEN d2 END) AS s2,
           max(CASE WHEN sub = 3 THEN d2 END) AS s3,
           max(CASE WHEN sub = 4 THEN d2 END) AS s4,
           max(CASE WHEN sub = 5 THEN d2 END) AS s5,
           max(CASE WHEN sub = 6 THEN d2 END) AS s6,
           max(CASE WHEN sub = 7 THEN d2 END) AS s7
         |  FROM pq_min GROUP BY 1)
         |SELECT vec_id, round(((((((((CAST(0 AS DOUBLE) + s0) + s1) + s2) + s3) + s4) + s5) + s6) + s7), 4) AS err_r4
         |FROM piv""".stripMargin,
    "knn_filtered" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    label FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
         |cand AS (SELECT q.query_id, a.vec_id AS neighbor_id,
         |           ${cosSql("a.v", "q.qv")} AS sim
         |         FROM e a CROSS JOIN q
         |         WHERE a.label % 2 = 0 AND a.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, rn, round(sim, 4) AS sim_r4 FROM (
         |  SELECT query_id, neighbor_id, sim, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
         |      AS BIGINT) AS rn
         |  FROM cand) WHERE rn <= 3""".stripMargin,
    "embed_pq_codes" ->
      s"""WITH $pqCtes
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub,
         |  CAST(code AS BIGINT) AS code FROM pq_best""".stripMargin,
    "knn_pq_adc" -> {
      val subCols = (0 until pqSub)
        .map(s => s"max(CASE WHEN l.sub = $s THEN l.d2 END) AS s$s")
        .mkString(",\n           ")
      val sumExpr = (0 until pqSub)
        .foldLeft("CAST(0 AS DOUBLE)")((acc, s) => s"($acc + s$s)")
      s"""WITH $pqCtes,
         |lut AS (SELECT q.vec_id AS query_id, c.sub, c.code,
         |    ${pqD2Sql("q.v", "c.sub", "c.cv")} AS d2
         |  FROM (SELECT * FROM e WHERE vec_id < 20) q CROSS JOIN pq_cb c),
         |tot AS (SELECT l.query_id, b.vec_id AS neighbor_id,
         |           $subCols
         |  FROM pq_best b JOIN lut l ON l.sub = b.sub AND l.code = b.code
         |  WHERE b.vec_id <> l.query_id
         |  GROUP BY 1, 2),
         |td AS (SELECT query_id, neighbor_id, $sumExpr AS dist2 FROM tot)
         |SELECT query_id, neighbor_id, rn, round(dist2, 4) AS dist2_r4 FROM (
         |  SELECT query_id, neighbor_id, dist2, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY dist2 ASC, neighbor_id ASC)
         |      AS BIGINT) AS rn
         |  FROM td) WHERE rn <= 3""".stripMargin
    },
    // IVFADC: the IVF and PQ training pyramids spliced into one WITH
    // list (shared `e`), probe-cell selection as in knn_ivf_probe2,
    // ADC distances as in knn_pq_adc, candidates restricted to the
    // probed cells' members
    "knn_ivf_pq" -> {
      val subCols = (0 until pqSub)
        .map(s => s"max(CASE WHEN l.sub = $s THEN l.d2 END) AS s$s")
        .mkString(",\n           ")
      val sumExpr = (0 until pqSub)
        .foldLeft("CAST(0 AS DOUBLE)")((acc, s) => s"($acc + s$s)")
      s"""WITH $eCte,
         |${assignedCtesBody()},
         |$pqCtesBody,
         |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
         |qc AS (SELECT q.query_id, c.cent_id,
         |         ${cosSql("q.qv", "c.cv")} AS csim
         |       FROM qs q CROSS JOIN kc$ivfIters c),
         |cells AS (SELECT query_id, cent_id FROM (
         |    SELECT query_id, cent_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY csim DESC, cent_id ASC) AS crn
         |    FROM qc) WHERE crn <= $ivfNprobe),
         |lut AS (SELECT q.query_id, c.sub, c.code,
         |    ${pqD2Sql("q.qv", "c.sub", "c.cv")} AS d2
         |  FROM qs q CROSS JOIN pq_cb c),
         |tot AS (SELECT l.query_id, b.vec_id AS neighbor_id,
         |           $subCols
         |  FROM pq_best b
         |  JOIN assigned a ON a.vec_id = b.vec_id
         |  JOIN cells t ON t.cent_id = a.cent_id
         |  JOIN lut l ON l.query_id = t.query_id
         |    AND l.sub = b.sub AND l.code = b.code
         |  WHERE b.vec_id <> t.query_id
         |  GROUP BY 1, 2),
         |td AS (SELECT query_id, neighbor_id, $sumExpr AS dist2 FROM tot)
         |SELECT query_id, neighbor_id, rn, round(dist2, 4) AS dist2_r4 FROM (
         |  SELECT query_id, neighbor_id, dist2, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY dist2 ASC, neighbor_id ASC)
         |      AS BIGINT) AS rn
         |  FROM td) WHERE rn <= 3""".stripMargin
    })

  /** Flat CTE list ending in `assigned(vec_id, v, cent_id)` — the DuckDB
    * rendering of [[kmeansCentroids]] + [[assignToCentroids]], shared by
    * the `knn_ivf` and `dedup_semantic` oracles. Each Lloyd round
    * re-assigns against the previous centroid table and recomputes the
    * integer-quantized per-dimension means, bit-identically to the
    * Spark job. Assumes `e` is already defined ([[eCte]]).
    * `train` names the CTE the quantizer TRAINS on (init + Lloyd
    * rounds); the final assignment always covers full `e` — this is
    * how the sampled-training oracle reuses the whole pyramid. */
  private def assignedCtesBody(train: String = "e"): String = {
    // one Lloyd round: assignment vs centroid table `prev`, then the
    // same integer-quantized per-dimension mean as kmeansCentroids
    def lloydCtes(t: Int, prev: String): String =
      s"""ka$t AS (
         |  SELECT vec_id, v, cent_id FROM (
         |    SELECT e.vec_id, e.v, c.cent_id, row_number() OVER (
         |      PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cent_id ASC) AS crn
         |    FROM $train e CROSS JOIN $prev c) WHERE crn = 1),
         |ks$t AS (
         |  SELECT cent_id, i.range AS p,
         |    sum(CAST(floor(a.v[CAST(i.range + 1 AS INTEGER)] * 1000000.0)
         |        AS BIGINT)) AS s,
         |    count(*) AS n
         |  FROM ka$t a CROSS JOIN range($Dim) i GROUP BY 1, 2),
         |kc$t AS (
         |  SELECT c.cent_id, coalesce(u.cv, c.cv) AS cv
         |  FROM $prev c LEFT JOIN (
         |    SELECT cent_id, list(CAST(s AS DOUBLE)
         |      / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY p) AS cv
         |    FROM ks$t GROUP BY cent_id) u USING (cent_id))""".stripMargin
    val rounds = (1 to ivfIters)
      .map(t => lloydCtes(t, if (t == 1) "kc0" else s"kc${t - 1}"))
      .mkString(",\n")
    s"""kc0 AS (SELECT vec_id AS cent_id, v AS cv FROM $train
       |      ORDER BY (vec_id * 1103515245 + 12345) % 2147483648, vec_id
       |      LIMIT $ivfK),
       |$rounds,
       |a0 AS (SELECT e.vec_id, e.v, c.cent_id,
       |         ${cosSql("e.v", "c.cv")} AS csim
       |       FROM e CROSS JOIN kc$ivfIters c),
       |assigned AS (
       |  SELECT vec_id, v, cent_id FROM (
       |    SELECT vec_id, v, cent_id, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY csim DESC, cent_id ASC) AS crn
       |    FROM a0) WHERE crn = 1)""".stripMargin
  }

  private def assignedCtes: String = s"$eCte,\n${assignedCtesBody()}"
}
