package graft.operators

import graft.Tables
import graft.functions.TextAnalysis
import graft.functions.TextAnalysis.tokens
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Training-set preparation operators over `documents` — the last mile
  * of an LLM-data pipeline once dedup/quality/similarity have done
  * their work: leakage-free splits, stratified subsampling, fixed
  * token-budget sequence packing, and the curation join that ties the
  * whole pipeline together.
  *
  * Scale design (the 100 TB story):
  *  - the split is a pure per-row hash expression — no shuffle, no
  *    state, and CONTENT-keyed so byte-identical duplicates land in the
  *    same split (id-keyed splits leak dup pairs across train/test);
  *  - stratified sampling is one window pass per stratum partition —
  *    the only shuffle is the stratum exchange, and the kept fraction
  *    is exact per stratum, not expected-value;
  *  - packing shuffles once on the shard key and then runs a bounded
  *    sequential fill per shard; shard count scales with the corpus so
  *    per-task state stays O(1);
  *  - curation is survivor-join ∘ quality-filter ∘ lang-gate — each
  *    stage is an operator this engine already gates individually.
  */
object TrainPrep extends graft.GateModule {

  /** Row shapes for the packing kernel (top-level-object nested case
    * classes get stable encoders). */
  case class ShardDoc(shard: Long, doc_id: Long, n_tokens: Long)
  case class PackedDoc(doc_id: Long, shard: Long, bin_id: Long, n_tokens: Long)

  // --- Deterministic content-hash split ----------------------------------

  /** Split-bucket arithmetic shared with the oracle: the reproducible
    * char-poly content hash reduced mod 100. Production would use
    * `xxhash64(text)` (better mixing, one native op); the char-poly
    * keeps the gate hash-checkable, exactly as in [[Dedup]]. */
  private val splitMod = 100L

  /** Full-period LCG permutation of a nonnegative id — the
    * deterministic rank key shared by the sampling family. ORDERING
    * use only: as a small-modulus bucket key its low bits carry the
    * id's structure (see [[lcgBucket]]). One home for the magic
    * constants, which must stay byte-identical to their oracle
    * renderings. */
  private def lcgRank(c: Column): Column =
    pmod(c * lit(1103515245L) + lit(12345L), lit(2147483648L))

  /** Small-modulus bucket assignment of an id: LCG, then reduce mod
    * the PRIME 2000000011 BEFORE the small modulus. Reducing the LCG
    * mod 2^31 preserves the id's parity (odd·id + odd keeps the low
    * bit when the modulus is even), so e.g. a mod-10 fold key would
    * lock even ids out of folds {0,2,4,6,8} entirely — a
    * doc-id-parity-biased eval set the shared-formula oracle could
    * never catch. The odd-prime reduction (the [[splitBucket]]
    * pattern) destroys that structure. */
  private def lcgBucket(c: Column, m: Long): Column =
    pmod(pmod(c * lit(1103515245L) + lit(12345L), lit(2000000011L)), lit(m))

  private def splitBucket(reproducible: Boolean) = {
    val h =
      if (reproducible) Dedup.charPolyHash(col("text"), 31L, 2000000011L)
      else pmod(xxhash64(col("text")), lit(2000000011L))
    pmod(h, lit(splitMod))
  }

  /** Leakage-free train/valid/test assignment (80/10/10): the bucket is
    * a CONTENT hash, so identical documents — and with a fuzzy hash,
    * near-identical ones — can never straddle a split boundary the way
    * they can under doc_id-ranged or random splits. Pure map-side
    * column work. */
  def splitAssign(docs: DataFrame, reproducible: Boolean = false): DataFrame =
    docs.select(col("doc_id"), splitBucket(reproducible).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid")
          .otherwise("test"))

  def splitQuery(spark: SparkSession, dir: String): DataFrame =
    splitAssign(Tables.docs(spark, dir), reproducible = true)

  /** Cluster-safe split — the NEAR-dup upgrade of [[splitAssign]]'s
    * leakage guarantee: the content-keyed split keeps byte-identical
    * copies together, but a near-duplicate (one word changed) still
    * straddles train/eval and leaks. Here the fold key is the
    * document's duplicate-CLUSTER id (connected components over LSH
    * candidates, [[Dedup.dupClustersStar]] via [[Dedup.clustersQuery]]), LCG-permuted then mod 10 —
    * so an entire near-dup cluster lands in one fold by construction.
    * The extra cost over the plain split is exactly the clustering
    * (linear-shuffle per its own SCALE.md entry); the fold assignment
    * itself stays a pure per-row expression. */
  def clusterSafeSplit(spark: SparkSession, dir: String): DataFrame =
    Dedup.clustersQuery(spark, dir)
      .select(col("doc_id"), col("cluster_id"),
        lcgBucket(col("cluster_id"), 10L).as("fold"))
      .withColumn("is_eval", col("fold") === 0L)

  // --- Stratified sampling ------------------------------------------------

  /** Keep fraction for the stratified-sample gate. */
  val sampleFrac = 0.2

  /** Exact-fraction stratified sample: within each stratum, rank rows
    * by an LCG permutation of doc_id (deterministic stand-in for a
    * seeded shuffle — integer-exact in the oracle) and keep the first
    * ceil(frac * |stratum|). Unlike `df.sample`, the kept count per
    * stratum is exact, so class balance is preserved to the row. One
    * stratum-keyed window pass; no driver participation. */
  def stratifiedSample(docs: DataFrame, stratum: String,
      frac: Double): DataFrame =
    rankedKeep(docs, stratum, lit(frac), "n_stratum")

  /** The shared exact-fraction keep kernel of [[stratifiedSample]] and
    * [[mixtureSample]] (they differ only in stratum column and how the
    * fraction resolves): LCG-rank rows within each stratum, keep the
    * first ceil(frac·|stratum|). One home for the rank/tie-break
    * convention so a fix cannot reach one sampler and not the other. */
  private def rankedKeep(docs: DataFrame, stratum: String, frac: Column,
      nName: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratum))
      .orderBy(col("r"), col("doc_id"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratum))
    docs
      .withColumn("r", lcgRank(col("doc_id")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn(nName, count(lit(1)).over(wAll))
      .filter(col("rn") <= ceil(frac * col(nName).cast("double")))
      .select(col("doc_id"), col(stratum), col("rn"), col(nName))
  }

  // raw scan, not Tables.docs: the sampler reads (doc_id, lang) only —
  // per-row work is LCG arithmetic, and the stratum window re-shuffles
  // anyway, so a text fan-out exchange is pure tax (r12 verdict #2)
  def sampleQuery(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.load(spark, dir, "documents"), "lang", sampleFrac)

  // --- Weighted source mixture --------------------------------------------

  /** Mixture weights for the gate: upsample two named sources, thin the
    * long tail — the "data mixture" recipe of a pretraining run. */
  val mixWeights: Map[String, Double] = Map("src0" -> 0.8, "src1" -> 0.5)
  val mixDefault = 0.1

  /** Weighted mixture sampling: per-source keep fraction (exact
    * ceil(w*n) rows, same LCG-rank determinism as
    * [[stratifiedSample]]), with a default weight for unlisted
    * sources. This is the mixture-weights step of a pretraining data
    * recipe — one window pass, weights resolved as a literal CASE, no
    * extra shuffle over the stratified form. */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double],
      default: Double): DataFrame = {
    val frac = weights.foldLeft(lit(default)) { case (acc, (s, f)) =>
      when(col("source") === s, f).otherwise(acc)
    }
    rankedKeep(docs, "source", frac, "n_source")
  }

  // raw scan: (doc_id, source) only — see sampleQuery
  def mixQuery(spark: SparkSession, dir: String): DataFrame =
    mixtureSample(Tables.load(spark, dir, "documents"), mixWeights, mixDefault)

  // --- Token-budget sequence packing --------------------------------------

  /** Context-window budget and shard count for the packing gate. */
  val packBudget = 256L
  val packShards = 8L

  /** Greedy no-straddle sequence packing: documents are hash-sharded,
    * each shard's docs are taken in doc_id order, and a document opens
    * a new bin when it would overflow the token budget (oversized docs
    * get a bin of their own). Packing is inherently sequential WITHIN a
    * shard — so the shard is the unit of parallelism: one exchange on
    * the shard key, a distributed spillable `sortWithinPartitions`, and
    * an O(1)-state `mapPartitions` fill (no per-group in-memory
    * collection; a partition streams whole shards in order). Shard
    * count scales with the corpus, per-shard work stays bounded.
    * Deterministic: shard assignment, order, and fill are all
    * arithmetic on (doc_id, n_tokens). */
  def packSequences(docs: DataFrame, budget: Long = packBudget,
      shards: Long = packShards): Dataset[PackedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(pmod(col("doc_id"), lit(shards)).as("shard"),
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .as[ShardDoc]
      .mapPartitions { it =>
        var shard = -1L
        var bin = 0L
        var cum = 0L
        it.map { d =>
          if (d.shard != shard) { shard = d.shard; bin = 0L; cum = 0L }
          if (cum > 0 && cum + d.n_tokens > budget) { bin += 1; cum = 0L }
          cum += d.n_tokens
          PackedDoc(d.doc_id, d.shard, bin, d.n_tokens)
        }
      }
  }

  def packQuery(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables.docs(spark, dir)).toDF()

  // --- Curation (the composed pipeline) -----------------------------------

  /** The end-to-end curation pass: exact-dedup survivors, quality-gated
    * (the same n_tokens >= 40 && stop_cnt > 0 rule the quality gate
    * classifies by), carrying the language label and token count a
    * downstream sampler/packer needs.
    *
    * ONE scan, ONE exchange: quality is a pure function of the text, so
    * identical documents pass or fail together — the filter commutes
    * with survivor selection and runs BEFORE the shuffle. The exchange
    * then carries only (content_hash, doc_id, lang, counts): 32-byte
    * keys and small ints, never document bodies, and the min-doc_id
    * survivor is a row_number over the hash. Equivalent to joining
    * [[Dedup.exactDedup]]'s keep-list (the individually-gated
    * ingredients), at half the scans and a fraction of the shuffle
    * bytes. */
  def curate(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t).cast("long")
    val stopCnt = TextAnalysis.stopCount(t)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash")).orderBy(col("doc_id"))
    Tables.docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        sha2(col("text"), 256).as("content_hash"),
        nTok.as("n_tokens"), stopCnt.as("stop_cnt"))
      .filter(TextAnalysis.qualityKeep(col("n_tokens"), col("stop_cnt")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("stop_cnt"))
  }

  /** Documents kept per source by [[sourceCap]]. */
  val sourceCapK = 10

  /** Per-source document cap — the web-curation staple (bound any one
    * domain/feed's share of the corpus before mixing): keep the
    * [[sourceCapK]] highest-priority docs per source, priority = the
    * LCG permutation of doc_id (a deterministic uniform draw, so the
    * cap is an unbiased per-source subsample rather than
    * "first-by-id"). Runs through the bounded top-k `Aggregator`, NOT
    * a row_number window: the shuffle carries O(sources * k) buffer
    * rows instead of every document, so one mega-source (the 100 TB
    * reality — a single crawl domain with billions of pages) costs the
    * same exchange volume as a tiny one. */
  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopK
    val topk = udaf(new TopK.TopKAgg(sourceCapK),
      org.apache.spark.sql.Encoders.product[TopK.Scored])
    // raw scan, not Tables.docs: the cap reads (source, doc_id) only and
    // its per-row work is one LCG multiply — the r12 text fan-out
    // exchange DOUBLED this gate at the canonical 32-core config
    // (0.32 → 0.74 s) for zero parallel-expression gain (verdict #2)
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        lcgRank(col("doc_id")).cast("double").as("pri"))
      .groupBy("source")
      .agg(topk(col("pri"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("source"), (col("i") + 1).cast("long").as("rn"),
        col("s.key").as("doc_id"), col("s.score").cast("long").as("pri"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., 2020 §4.3: split
    * the corpus into head/middle/tail by LM score and mix buckets
    * downstream): each document's unigram surprisal
    * ([[TextAnalysis.lmScore]] semantics, inlined in SQL) lands in
    * 'head' (<= P25, most fluent), 'tail' (>= P75) or 'middle'. The
    * quartile thresholds attach as an uncorrelated SCALAR SUBQUERY —
    * Spark runs it once and embeds the 2-element array as a literal,
    * so no join operator exists in the plan at all (the crossJoin form
    * would plan a BroadcastNestedLoopJoin; the DataFrame API cannot
    * express scalar subqueries, hence spark.sql — the sql_surface /
    * equi-depth-histogram pattern). Quartile probabilities 0.25/0.75
    * are exactly representable doubles, so both engines interpolate
    * from identical inputs. */
  /** Shared SQL skeleton — the Spark text and the DuckDB oracle differ
    * only in the dialect functions passed in. Both quartiles come from
    * ONE array-percentile subquery repeated verbatim: the two
    * occurrences canonicalize identically, so Spark's ReuseSubquery
    * plans the corpus-scale sc aggregation once (two DIFFERENT scalar
    * subqueries — percentile 0.25 vs 0.75 — defeat the reuse and
    * instantiate the whole tf/uni pipeline per threshold). `idx`
    * renders element access (Spark arrays are 0-based, DuckDB lists
    * 1-based). */
  private[operators] def pplBucketsText(qArr: String, idx: Int => String,
      splitTokens: String, flog2: String => String): String =
    s"""WITH tf AS (SELECT doc_id, term, count(1) AS tf FROM (
       |    SELECT doc_id, $splitTokens AS term FROM documents) x
       |  GROUP BY doc_id, term),
       |uni AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
       |sc AS (SELECT tf.doc_id,
       |    CAST(sum(tf.tf * (${flog2("(SELECT n_total FROM tot)")}
       |      - ${flog2("uni.c")})) AS DOUBLE)
       |      / CAST(sum(tf.tf) AS DOUBLE) AS avg_bits
       |  FROM tf JOIN uni ON tf.term = uni.term GROUP BY tf.doc_id)
       |SELECT doc_id, avg_bits,
       |  CASE WHEN avg_bits <= (SELECT $qArr FROM sc)${idx(0)} THEN 'head'
       |       WHEN avg_bits >= (SELECT $qArr FROM sc)${idx(1)} THEN 'tail'
       |       ELSE 'middle' END AS bucket
       |FROM sc""".stripMargin

  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir, "documents")
    def fl(x: String) = s"(length(conv(CAST($x AS STRING), 10, 2)) - 1)"
    spark.sql(pplBucketsText(
      "percentile(avg_bits, array(0.25D, 0.75D))", i => s"[$i]",
      "explode(split(text, ' '))", fl))
  }

  /** PER-LANGUAGE head/middle/tail bucketing — the full CCNet recipe
    * (Wenzek et al. 2020 run their quality split per language, because
    * one global threshold lets a high-resource language's score
    * distribution define "low quality" for every other language).
    * Scoring reuses the [[pplBucketsText]] surprisal (corpus-global
    * unigram model — this synthetic corpus shares one vocabulary across
    * langs; production swaps in per-language models by adding `lang` to
    * the model key, same plan shape); the quartile THRESHOLDS are
    * per-language aggregates, so a doc competes only against its own
    * language. Plan deltas vs the global gate: one extra join to attach
    * `lang` (documents is the probe side of a key join) and a
    * |langs|-bounded threshold frame joined back broadcast-style —
    * nothing new scales with the corpus. */
  private[operators] def pplBucketsLangText(q25: String, q75: String,
      splitTokens: String, flog2: String => String): String =
    s"""WITH tf AS (SELECT doc_id, term, count(1) AS tf FROM (
       |    SELECT doc_id, $splitTokens AS term FROM documents) x
       |  GROUP BY doc_id, term),
       |uni AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
       |sc AS (SELECT tf.doc_id,
       |    CAST(sum(tf.tf * (${flog2("(SELECT n_total FROM tot)")}
       |      - ${flog2("uni.c")})) AS DOUBLE)
       |      / CAST(sum(tf.tf) AS DOUBLE) AS avg_bits
       |  FROM tf JOIN uni ON tf.term = uni.term GROUP BY tf.doc_id),
       |sl AS (SELECT sc.doc_id, d.lang, sc.avg_bits
       |  FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
       |th AS (SELECT lang, $q25 AS q25, $q75 AS q75 FROM sl GROUP BY lang)
       |SELECT sl.doc_id, sl.lang, sl.avg_bits,
       |  CASE WHEN sl.avg_bits <= th.q25 THEN 'head'
       |       WHEN sl.avg_bits >= th.q75 THEN 'tail'
       |       ELSE 'middle' END AS bucket
       |FROM sl JOIN th ON sl.lang = th.lang""".stripMargin

  def pplBucketsLang(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir, "documents")
    def fl(x: String) = s"(length(conv(CAST($x AS STRING), 10, 2)) - 1)"
    spark.sql(pplBucketsLangText(
      "percentile(avg_bits, 0.25D)", "percentile(avg_bits, 0.75D)",
      "explode(split(text, ' '))", fl))
  }

  /** Temperature-flattened language mixing — the multilingual-corpus
    * rebalancing recipe (mT5/XLM-R: sample language l with probability
    * ∝ p_l^α, α<1, to keep low-resource languages from vanishing).
    * α = 0.5 here: keep ceil(sqrt(n_lang * n_min)) docs per language,
    * the geometric mean of the language's size and the smallest
    * language's — the smallest keeps everything, larger ones flatten
    * toward it. Selection is the LCG-rank prefix (an unbiased
    * deterministic subsample); sqrt of an exact integer product is
    * IEEE-correctly-rounded, so keep counts reproduce bit-identically.
    * n_min attaches as an uncorrelated scalar subquery over the
    * LANGUAGE aggregate (bounded rows, no join operator in the plan).
    * The SQL text is dialect-neutral: the DuckDB oracle runs it
    * verbatim (the sql_surface pattern). */
  private[operators] def mixTemperatureText: String =
    """WITH r AS (SELECT doc_id, lang,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY (doc_id * 1103515245 + 12345) % 2147483648, doc_id)
      |      AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
      |  FROM documents)
      |SELECT doc_id, lang, rn, n_lang,
      |  CAST(ceil(sqrt(CAST(n_lang * (SELECT min(c) FROM (
      |    SELECT count(*) AS c FROM documents GROUP BY lang) t)
      |    AS DOUBLE))) AS BIGINT) AS keep_n
      |FROM r
      |WHERE rn <= ceil(sqrt(CAST(n_lang * (SELECT min(c) FROM (
      |  SELECT count(*) AS c FROM documents GROUP BY lang) t) AS DOUBLE)))"""
      .stripMargin

  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir, "documents")
    spark.sql(mixTemperatureText)
  }

  // --- Weighted reservoir-style sampling ----------------------------------

  /** Rows kept by the weighted-sample gate. */
  val weightedK = 200

  /** Deterministic weighted sampling without replacement: every doc
    * gets priority `h * w` — the LCG permutation of doc_id scaled by an
    * integer weight — and the global top-[[weightedK]] priorities win.
    * Selection probability is monotone in the weight (a weight-10 doc
    * outranks a weight-1 doc unless its draw was 10x worse), which is
    * the quality-weighted corpus subsample recipe ("sample proportional
    * to the classifier score") in exact integer arithmetic; the
    * float-exact A-ES key u^(1/w) (Efraimidis-Spirakis) is the
    * production refinement and changes only this priority expression.
    * The weight here is a content-derived stand-in (1 + n_chars mod
    * 10) so the gate exercises a non-uniform integer weight domain.
    *
    * Scale shape: priority is pure map-side arithmetic and the global
    * top-k plans as TakeOrderedAndProject — per-partition heaps of k
    * rows, one k-row merge at the driver side of the exchange; no
    * global sort materializes. */
  def weightedSample(docs: DataFrame, k: Int = weightedK): DataFrame =
    docs.select(col("doc_id"),
        (lit(1L) + pmod(col("n_chars"), lit(10L))).as("weight"))
      .withColumn("pri", lcgRank(col("doc_id")) * col("weight"))
      .orderBy(col("pri").desc, col("doc_id"))
      .limit(k)

  // raw scan: (doc_id, n_chars) only, TakeOrderedAndProject does the
  // rest — see sampleQuery
  def weightedQuery(spark: SparkSession, dir: String): DataFrame =
    weightedSample(Tables.load(spark, dir, "documents"))

  // --- Fixed-width stride chunking ----------------------------------------

  /** Chunk width / stride (tokens) for the chunking gate: 32-token
    * windows every 24 tokens = 8 tokens of overlap, the standard
    * context-window chunking for training and for retrieval indexing
    * (overlap so no span is ever split across a boundary without a
    * chunk that contains it whole). */
  val chunkWidth = 32
  val chunkStride = 24

  /** Cut every document into fixed-width token chunks on a stride —
    * the map from documents to training/index rows. Pure map-side
    * column work: tokenize once, explode an arithmetic start-offset
    * sequence, slice — no shuffle, no state; 100 TB chunks exactly as
    * fast as 100 TB scans. Chunk starts are 0, stride, 2*stride, ...
    * while < n_tokens, so every token is covered and the final chunk
    * may run short (never empty). */
  def chunkDocs(docs: DataFrame, width: Int = chunkWidth,
      stride: Int = chunkStride): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr(
          s"sequence(0L, ((n - 1) DIV $stride) * $stride, $stride)"))
          .as("chunk_start"))
      .withColumn("chunk", expr(s"slice(toks, chunk_start + 1, $width)"))
      .select(col("doc_id"),
        (col("chunk_start") / stride).cast("long").as("chunk_id"),
        col("chunk_start"),
        size(col("chunk")).cast("long").as("n_chunk"),
        array_join(col("chunk"), " ").as("chunk_text"))

  def chunkQuery(spark: SparkSession, dir: String): DataFrame =
    chunkDocs(Tables.docs(spark, dir))

  // --- DSIR importance scoring --------------------------------------------

  /** Hashed-feature bucket count for [[dsirScore]]. Production uses
    * 10k-100k buckets; 1024 keeps the model frame trivially
    * broadcastable at gate scale (the dataflow is bucket-count
    * independent). */
  val dsirBuckets = 1024L

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how target-like its hashed unigram features are,
    * log p_target(doc) - log p_raw(doc) under bag-of-buckets unigram
    * models — here in the engine's exact integer bit arithmetic
    * (surprisal = flog2(N) - flog2(c), as [[TextAnalysis.lmScore]]),
    * with `lang = 'en'` standing in for the target corpus. Positive
    * bits = looks more like the target than like the average raw doc;
    * downstream selection keeps the top slice (resampling on these
    * scores is the published method's Gumbel step).
    *
    * Scale shape: one (doc, bucket) hash-agg over tokenized text (the
    * tf-idf plan), two BOUNDED per-bucket aggregates (≤ [[dsirBuckets]]
    * rows — the totals ride vocabulary-bounded windows exactly like
    * lmScore's), and the model re-joins map-side as a broadcast. Works
    * at any corpus size because the model frame is fixed-size by
    * construction — that is the point of hashed features. Buckets the
    * target never saw carry no evidence and drop from the model (inner
    * join), mirroring the published estimator's shared-support
    * assumption.
    *
    * On THIS synthetic corpus every language shares one 31-token
    * vocabulary with near-identical frequencies, so the target and raw
    * unigram models coincide and every importance weight is exactly 0
    * — the estimator correctly reporting "no distribution shift to
    * exploit" (sub-bit frequency wobble is below floor-log2
    * resolution by design: libm-free gates round to whole bits). The
    * gate therefore pins the distributed dataflow and the oracle
    * agreement; the SEMANTIC discrimination is pinned by the spec on a
    * planted two-vocabulary corpus, where target-vocab docs separate
    * by tens of bits (the multimodal-decode pattern: deterministic
    * harness corpus for the behavior, real corpus for the plan). */
  def dsirScore(spark: SparkSession, dir: String): DataFrame =
    dsirScoreDocs(Tables.docs(spark, dir))

  /** [[dsirScore]] over an explicit docs frame (doc_id, text, lang);
    * `targetLang` selects the target corpus. */
  def dsirScoreDocs(docs: DataFrame, targetLang: String = "en"): DataFrame = {
    import graft.functions.TextAnalysis.flog2
    val tf = docs
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("term"))
      .withColumn("b",
        pmod(Dedup.charPolyHash(col("term"), 31L, 2000000011L),
          lit(dsirBuckets)))
      .groupBy("doc_id", "lang", "b")
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wAll = graft.Tables.boundedGlobalFrame
    val raw = tf.groupBy("b").agg(sum("tf").as("c_r"))
      .withColumn("n_r", sum(col("c_r")).over(wAll))
    val tgt = tf.filter(col("lang") === targetLang)
      .groupBy("b").agg(sum("tf").as("c_t"))
      .withColumn("n_t", sum(col("c_t")).over(wAll))
    val model = raw.join(tgt, "b")
      .select(col("b"),
        ((flog2(col("n_r")) - flog2(col("c_r")))
          - (flog2(col("n_t")) - flog2(col("c_t")))).as("lam"))
    val scored = tf.join(broadcast(model), "b")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_feat"),
        sum(col("tf") * col("lam")).as("dsir_bits"))
    // checkpoint-then-release (CacheHygieneSpec): one row per doc out;
    // the bucketed tf frame must not outlive the call
    graft.Conf.checkpointThenRelease(
      docs.select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_feat"), lit(0L)).as("n_feat"),
          coalesce(col("dsir_bits"), lit(0L)).as("dsir_bits")),
      tf)
  }

  // --- Cross-modal joint curation -----------------------------------------

  /** Per-class keep cap for [[jointCurate]]. */
  val jointCapK = 25

  /** Cross-modal joint curation — the text table and the embedding
    * table vetoing each other, which is how multimodal corpora are
    * actually cleaned (a caption can pass every text rule while its
    * vector is degenerate, and vice versa): a document survives iff
    * (a) TEXT: word count in [5, 2000] and integer mean-word-length
    * ≤ 12 (cross-multiplied `chars ≤ 12·words`, no division);
    * (b) VECTOR: its quantized L2 norm is not a high outlier WITHIN
    * ITS CLASS (`nrm_u6·n_label ≤ 2·sum_u6_label` — the normOutliers
    * rule made per-label, since class norm distributions differ);
    * (c) DIVERSITY: at most [[jointCapK]] survivors per class, best
    * word counts first — the per-class balance cap that keeps one
    * over-represented cluster from flooding the training mix.
    * Plan: one key-equi join (both tables id-keyed, 1:1), a
    * |labels|-bounded stats frame broadcast back, map-side gates, and
    * a per-label rank window whose partitions are bounded by the class
    * count — corpus-linear with one shuffle pair. */
  def jointCurate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.docs(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        length(regexp_replace(col("text"), " ", "")).cast("long")
          .as("chars_ns"))
    // fanned like the text side: the unrolled Dim-term norm is per-row
    // expression work off another 1-split scan (r13)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), col("label").cast("long").as("label"),
        Similarity.norm(col("embedding").cast("array<double>")).as("nrm"))
      .withColumn("nrm_u6", floor(col("nrm") * lit(1000000.0)).cast("long"))
    val j = d.join(e, "doc_id")
    val stats = j.groupBy("label")
      .agg(sum("nrm_u6").as("sum_u6"), count(lit(1)).as("n_label"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("label")
      .orderBy(col("n_words").desc, col("doc_id").asc)
    j.join(broadcast(stats), "label")
      .filter(col("n_words").between(5, 2000)
        && col("chars_ns") <= lit(12) * col("n_words")
        && col("nrm_u6") * col("n_label") <= lit(2) * col("sum_u6"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= jointCapK)
      .select("label", "doc_id", "n_words", "rn")
  }

  // --- In-engine classifier training --------------------------------------

  /** Perceptron training rounds (unrolled in the oracle). */
  val perceptronRounds = 3

  /** Hashed-feature buckets for [[perceptron]]. */
  val perceptronBuckets = 256L

  /** In-engine linear-classifier TRAINING — the fastText-shaped quality
    * / language filter actually trained by the engine instead of
    * imported: a batch perceptron over hashed unigram PRESENCE features
    * (b = polyhash(term) mod [[perceptronBuckets]]), label +1 for the
    * target language. Each round is pure aggregation — margin_d =
    * Σ_{b∈d} w_b (one feature-keyed join + doc agg), misclassified =
    * y·margin ≤ 0, Δw_b = Σ_{misclassified d ∋ b} y_d (one agg), w ←
    * w + Δ — so the fixpoint is partitioning-independent and every
    * quantity stays integer (no learning-rate floats). This is the
    * "training as dataflow" pattern: at 100 TB the corpus-scale frames
    * are the persisted presence pairs (linear, 2 passes per round) and
    * the model is a bucket-bounded frame that broadcasts, exactly the
    * DSIR/quality-score serving plans in reverse. Gate output is the
    * per-document final margin/prediction — it pins the whole weight
    * trajectory, not just the last argmax. */
  def perceptron(spark: SparkSession, dir: String): DataFrame = {
    val feats = Tables.docs(spark, dir)
      .select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
        explode(tokens(col("text"))).as("term"))
      .withColumn("b",
        pmod(Dedup.charPolyHash(col("term"), 31L, 2000000011L),
          lit(perceptronBuckets)))
      .select("doc_id", "y", "b").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def margins(w: Option[DataFrame]): DataFrame = w match {
      case None => feats.select("doc_id", "y").distinct()
        .withColumn("m", lit(0L))
      case Some(wf) => feats.join(broadcast(wf), Seq("b"), "left")
        .groupBy("doc_id", "y")
        .agg(coalesce(sum(col("w")), lit(0L)).as("m"))
    }
    var w: Option[DataFrame] = None
    for (round <- 1 to perceptronRounds) {
      // Round 1 shortcut (algebraic, not approximate): with w = 0
      // every margin is 0 and y·0 ≤ 0 marks EVERY document
      // misclassified, so Δw = Σ_all-docs y per bucket — the margin
      // join + doc-distinct pass computed only a constant. One full
      // presence-pair pass removed from both perceptron gates.
      val delta =
        if (round == 1)
          feats.groupBy("b").agg(sum(col("y")).as("dw"))
        else {
          val mis = margins(w).filter(col("y") * col("m") <= 0)
            .select("doc_id", "y")
          feats.join(mis.select("doc_id"), "doc_id")
            .groupBy("b").agg(sum(col("y")).as("dw"))
        }
      val next = w match {
        case None => delta.select(col("b"), col("dw").as("w"))
        case Some(wf) => wf.join(delta, Seq("b"), "full_outer")
          .select(col("b"),
            (coalesce(col("w"), lit(0L)) + coalesce(col("dw"), lit(0L)))
              .as("w"))
      }
      // bucket-bounded frame; checkpoint truncates the per-round plan
      w = Some(next.localCheckpoint())
    }
    // checkpoint-then-release (CacheHygieneSpec): one row per doc out;
    // the presence-pair frame must not outlive the call
    graft.Conf.checkpointThenRelease(
      margins(w)
        .select(col("doc_id"), col("y").as("label"), col("m").as("margin"),
          when(col("m") > 0, 1L).otherwise(-1L).as("pred"))
        .withColumn("correct", col("pred") === col("label")),
      feats)
  }

  /** Classifier evaluation for [[perceptron]] — the readout every
    * engine-trained filter needs before it gates a corpus: confusion
    * counts, precision/recall/F1, and ROC-AUC. AUC is the Mann–Whitney
    * identity AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) over tie-averaged
    * margin ranks — and because margins are INTEGERS, ranks come from
    * a margin DICTIONARY (groupBy margin), not a corpus sort: the
    * ordered cumulative runs over ≤|distinct margins| rows (bounded by
    * the weight-sum span Σ|w| — model-sized, n-independent; a corpus
    * where margins outgrow that quantizes them to a fixed grid first,
    * the [[graft.analytics.StatsQueries.spearman]] remedy), and EVERY
    * published number — confusion cells included — falls out of that
    * same bounded frame in one global agg. Doubled ranks keep ties
    * integer-exact; u2 = Σ⁺rank2 = 2R⁺, so auc_q6 = 10⁶·(u2 −
    * n⁺(n⁺+1)) DIV 2n⁺n⁻ with all DIV operands non-negative by
    * construction (min Σ⁺rank2 is n⁺(n⁺+1)). Headroom: 10⁶·u2 ≈
    * 2·10⁶·n² → n ≤ 10¹⁵ rows in DECIMAL(38,0).
    *
    * On THIS corpus the readout is deliberately humbling: the
    * synthetic documents draw one shared vocabulary for every lang, so
    * the label is nearly independent of unigram presence and AUC ≈
    * 0.52 IS the ceiling (measured: more buckets 0.527, more rounds
    * 0.58 with the batch updates oscillating between majority poles).
    * That is the gate's purpose — an engine-resident eval that says
    * "this filter has no signal, don't gate a corpus with it" BEFORE
    * the filter ships, rather than a cherry-picked benchmark. */
  def trainEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dict = perceptron(spark, dir)
      .groupBy(col("margin"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("label") === 1, 1L).otherwise(0L)).as("cnt_pos"))
    // frame = the margin dictionary (model-bounded, see Scaladoc)
    val w = Tables.boundedGlobalWindow(col("margin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    dict
      .withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("rank2", lit(2) * col("below") + col("cnt") + 1)
      .agg(sum(col("cnt")).as("n"), sum(col("cnt_pos")).as("n_pos"),
        sum(when(col("margin") > 0, col("cnt_pos")).otherwise(0L))
          .as("tp"),
        sum(when(col("margin") > 0, col("cnt") - col("cnt_pos"))
          .otherwise(0L)).as("fp"),
        sum(when(col("margin") <= 0, col("cnt_pos")).otherwise(0L))
          .as("fn"),
        sum(when(col("margin") <= 0, col("cnt") - col("cnt_pos"))
          .otherwise(0L)).as("tn"),
        sum(expr("CAST(cnt_pos AS DECIMAL(38,0)) * rank2")).as("u2"))
      .selectExpr("n", "n_pos", "tp", "fp", "fn", "tn",
        "CAST((1000000 * tp) DIV nullif(tp + fp, 0) AS BIGINT)" +
          " AS prec_q6",
        "CAST((1000000 * tp) DIV nullif(tp + fn, 0) AS BIGINT)" +
          " AS recall_q6",
        "CAST((2000000 * tp) DIV nullif(2 * tp + fp + fn, 0) AS BIGINT)" +
          " AS f1_q6",
        "CAST((1000000 * (u2 - CAST(n_pos AS DECIMAL(38,0)) " +
          "* (n_pos + 1))) DIV nullif(2 * CAST(n_pos AS DECIMAL(38,0)) " +
          "* (n - n_pos), 0) AS BIGINT) AS auc_q6")
  }

  // --- Corpus report card -------------------------------------------------

  /** Per-source corpus report — the "datasheet" table every training
    * run logs before touching a corpus: document and token volumes,
    * exact token-length percentiles, language breadth and the max
    * single-document weight. One tokenize pass, one source-keyed hash
    * agg; the percentiles ride Spark's exact `percentile` (matched by
    * DuckDB's `quantile_cont` on the same integer lengths, the
    * `agg_percentiles` convention). Sources are few, so the group-by
    * is exchange-light; every other stat is algebraic. */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    // r13 (verdict #5): the single agg mixed countDistinct with TWO
    // built-in `percentile`s — a non-codegen ObjectHashAggregate fed
    // through Expand (every row duplicated per distinct-agg class),
    // each percentile boxing every value into a per-partition map
    // merged in one final task. Split instead: the algebraic stats stay
    // one codegen hash agg, the quantiles ride the ExactPercentiles
    // sort-window form (bit-identical doubles), and the ≤|sources|-row
    // frames join broadcast. Tokenize once via the persisted key frame
    // (two consumers — the tokenBudget pattern).
    val base = Tables.docs(spark, dir)
      .select(col("source"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        max(col("n_tok")).as("tok_max"),
        countDistinct(col("lang")).as("n_langs"))
    val pcts = graft.analytics.ExactPercentiles.groupPercentiles(
      base, Seq("source"), col("n_tok"),
      Seq("tok_p50" -> 0.5, "tok_p90" -> 0.9))
    graft.Conf.checkpointThenRelease(
      stats.join(broadcast(pcts), "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("tok_p50"), col("tok_p90"), col("tok_max"), col("n_langs")),
      base)
  }

  /** Priority-band width for the [[tokenBudget]] distributed prefix
    * sum: prio_q6 ∈ [0, 10^6] DIV 10^4 → ≤ 101 bands. */
  val budgetBandWidth = 10000L

  /** Token-budget curation cut — "take the best documents until the
    * budget is spent", the selection rule every pretraining mix ends
    * with once per-source caps and quality gates have run. Documents
    * are ordered by fluency priority (stopword density, `10^6·stops
    * DIV tokens` — the [[curate]] signal as an integer rate), doc_id
    * tie-break, and kept while the running token total stays within
    * the budget (here: half the corpus' tokens, so the gate is
    * scale-factor-independent).
    *
    * The running total is the scale hazard: a naive
    * `sum OVER (ORDER BY prio)` is ONE task sorting the corpus. This
    * is the classic two-level distributed prefix sum instead: rows
    * prefix-sum WITHIN their priority band (a partitioned window,
    * parallel across [[budgetBandWidth]]-wide bands), band totals
    * prefix-sum ACROSS bands (a window over the ≤101-row band frame —
    * bounded by construction, not by data), and the global cumulative
    * is `band offset + in-band prefix`. Band order (band DESC, then
    * prio DESC within) equals global prio DESC exactly because the
    * band is a monotone function of the priority. One tokenize scan,
    * one band-keyed exchange, one broadcast of the 101-row offsets. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    // `d` feeds BOTH the in-band prefix sum and the band-offset frame.
    // As a lazy frame, Catalyst plans the two consumers as two
    // independent subtrees — TWO full tokenize passes (and, fanned, two
    // full-text exchanges, which is what regressed this gate 3.4x at
    // the canonical r12 config). The frame is four longs per doc —
    // corpus-keys, never text — so persist it and tokenize ONCE
    // (guide §1.2: don't recompute what two branches share; the
    // dsirScore/tfIdf cache-hygiene pattern).
    val d = Tables.docs(spark, dir)
      .select(col("doc_id"), size(t).cast("long").as("n_tokens"),
        TextAnalysis.stopCount(t).as("stop_cnt"))
      .withColumn("prio_q6", expr("1000000 * stop_cnt DIV n_tokens"))
      .withColumn("band", expr(s"prio_q6 DIV $budgetBandWidth"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("band")
      .orderBy(col("prio_q6").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val withCum = d.withColumn("cum_in", sum(col("n_tokens")).over(wIn))
    // band frame: ≤101 rows by construction — the global windows below
    // are bounded-frame, the ts_seasonal pattern
    val wOff = graft.Tables.boundedGlobalWindow(col("band").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = d.groupBy("band").agg(sum(col("n_tokens")).as("btot"))
      .withColumn("off", coalesce(sum(col("btot")).over(wOff), lit(0L)))
      .withColumn("total", sum(col("btot")).over(graft.Tables.boundedGlobalFrame))
      .select(col("band"), col("off"), col("total"))
    // checkpoint-then-release (CacheHygieneSpec): output is the kept
    // half of the corpus in key columns; `d` must not outlive the call
    graft.Conf.checkpointThenRelease(
      withCum.join(broadcast(offsets), "band")
        .withColumn("cum_tokens", col("off") + col("cum_in"))
        .filter(col("cum_tokens") * 2 <= col("total"))
        .select(col("doc_id"), col("n_tokens"), col("prio_q6"),
          col("cum_tokens")),
      d)
  }

  /** Epoch-schedule upsampling — the inverse of [[sourceCap]]: small
    * sources REPEAT until every source contributes the token mass of
    * the largest one (the "N epochs of the small domain per epoch of
    * the big one" rule real pretraining mixes use). Each source's
    * repeat factor is the exact rational `maxtot/stot` as an integer
    * `rep_q6`; every document gets `rep_q6 DIV 10^6` full copies, and
    * one extra copy when its LCG coordinate `(doc_id·69069 + 1) mod
    * 2^31 mod 10^6` falls under the fractional part — the same
    * engine-portable deterministic sampler as [[weightedQuery]] /
    * [[sourceCap]], so expected upsampled token mass matches the
    * target per source with zero RNG state. Output is one row per
    * (doc, copy) with a dense copy_id — exactly the schedule a data
    * loader consumes.
    *
    * Plan: one tokenize scan + a source-keyed agg (|sources| rows);
    * the max ratio is a window over that bounded frame; repeat
    * factors broadcast back and copies materialize MAP-SIDE via
    * `sequence`/`explode` — output scales with the schedule, shuffles
    * scale with |sources|. */
  def upsample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.docs(spark, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
    // |sources| rows — the global window below is bounded-frame
    val wAll = graft.Tables.boundedGlobalFrame
    val reps = d.groupBy("source").agg(sum(col("n_tokens")).as("stot"))
      .withColumn("maxtot", max(col("stot")).over(wAll))
      .withColumn("rep_q6", expr("1000000 * maxtot DIV stot"))
      .select(col("source"), col("rep_q6"))
    d.join(broadcast(reps), "source")
      .withColumn("n_copies", expr("rep_q6 DIV 1000000") +
        when(expr("(doc_id * 69069 + 1) % 2147483648 % 1000000") <
          expr("rep_q6 % 1000000"), 1L).otherwise(0L))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "train_upsample" -> upsample _,
    "train_token_budget" -> tokenBudget _,
    "corpus_report" -> corpusReport _,
    "train_sample_weighted" -> weightedQuery _,
    "train_chunks" -> chunkQuery _,
    "curate_dsir" -> dsirScore _,
    "train_perceptron" -> perceptron _,
    "train_eval" -> trainEval _,
    "curate_joint" -> jointCurate _,
    "train_mix_temperature" -> mixTemperature _,
    "curate_ppl_buckets" -> pplBuckets _,
    "curate_ppl_buckets_lang" -> pplBucketsLang _,
    "curate_source_cap" -> sourceCap _,
    "train_split" -> splitQuery _,
    "train_split_safe" -> clusterSafeSplit _,
    "train_sample_stratified" -> sampleQuery _,
    "train_mix" -> mixQuery _,
    "train_pack" -> packQuery _,
    "train_shuffle" -> shuffleQuery _,
    "train_pipeline" -> pipelineQuery _,
    "train_curate" -> curate _)

  /** The CAPSTONE composite: the full curation pipeline as one plan —
    * exact-dedup survivors ∘ benchmark decontamination ∘ quality
    * classifier ∘ leakage-free split — i.e. every upstream gate
    * composed the way a real pretraining data run chains them. Each
    * stage is individually oracle-gated; this gate proves they
    * compose.
    *
    * RESTRUCTURED in r13 (r12 verdict #1: the join-of-four-gate-outputs
    * form fanned `docs` out four separate times — four full-text
    * exchanges plus three doc_id joins — and collapsed 16x at the
    * canonical 32-core config). Semantics are UNCHANGED (same DuckDB
    * oracle, hash-checked): every per-document predicate is a pure
    * function of `text`, so the quality filter commutes with survivor
    * selection (byte-identical duplicates pass or fail together), and
    * the inner-join composition means contamination/survivorship only
    * need computing for documents that pass the cheaper filters:
    *  - ONE fanned (doc_id, text) frame feeds every branch — the
    *    branches are filters/projections over the SAME exchange
    *    subtree, so physical planning reuses one shuffle
    *    (ReusedExchange) instead of four;
    *  - quality keep = map-side filter (no join);
    *  - split = map-side content-hash expression (no join);
    *  - exact-dedup survivorship = min(doc_id) over a content_hash
    *    window on the KEPT slice (equivalent to joining
    *    [[Dedup.exactDedup]]'s keep-list: quality is content-keyed, so
    *    a kept doc's whole duplicate group is kept and the group min
    *    is unchanged; wholly-dropped groups were dropped by the join
    *    anyway) — the [[curate]] discipline, keys not bodies;
    *  - contamination = the [[Decontaminate.report]] dataflow with the
    *    benchmark side built over the FULL corpus slice (bcnt/bdoc
    *    must see every benchmark doc) but the probe side restricted to
    *    kept docs, finished as one LEFT ANTI join (n_hits = 0 ⟺ no
    *    hit rows) instead of left-join + filter + count. */
  def pipelineQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.docs(spark, dir).select(col("doc_id"), col("text"))
    val kept = base
      .filter(TextAnalysis.qualityScoreExpr >= TextAnalysis.qualityScoreKeepAt)
    // survivor + split over keys only: (doc_id, content_hash, split)
    // ride the window exchange, never the text
    val wH = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash"))
    val surv = kept
      .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"),
        when(splitBucket(reproducible = true) < 80, "train")
          .when(splitBucket(reproducible = true) < 90, "valid")
          .otherwise("test").as("split"))
      .withColumn("min_id", min(col("doc_id")).over(wH))
      .filter(col("doc_id") === col("min_id"))
      .select(col("doc_id"), col("split"))
    // benchmark summary over the full corpus' benchmark slice (the
    // filter rides the shared exchange; the slice is 1/benchMod of the
    // corpus so its shingle+distinct stages are proportionally tiny)
    val benchStats = Dedup.shingleRows(
        base.filter(col("doc_id") % Decontaminate.benchMod === 0),
        Decontaminate.ngramN)
      .distinct()
      .groupBy("g")
      .agg(count(lit(1)).as("bcnt"), min("doc_id").as("bdoc"))
    val contaminated = Dedup.shingleRows(kept, Decontaminate.ngramN)
      .distinct()
      .join(broadcast(benchStats), "g")
      .filter(col("bcnt") > 1 || col("bdoc") =!= col("doc_id"))
      .select("doc_id")
    surv.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("split"))
  }

  /** Number of output shards for the deterministic corpus shuffle. At
    * 100 TB this scales with the corpus (shards sized to the trainer's
    * file appetite); 16 exercises the layout at gate scale. */
  val shuffleShards = 16

  /** Deterministic global training shuffle: every document gets an LCG
    * permutation key of its doc_id, a shard (key mod S), and its
    * position within the shard — the standard pre-training data layout
    * (shuffled once at prep time so training reads sequentially).
    *
    * Scale shape: NO global sort and NO single-task window — the only
    * exchange is the shard partition, and each shard orders its own
    * members (Spark runs the per-shard window after an in-partition
    * sort, all shards in parallel). Position is per-shard rather than
    * global for exactly that reason: a global row_number would funnel
    * the corpus through one task, while (shard, pos_in_shard) is the
    * same information under the layout a trainer actually consumes. */
  def shuffleQuery(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    // raw scan: doc_id only, the shard window re-shuffles anyway — see
    // sampleQuery
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), lcgRank(col("doc_id")).as("skey"))
      // shard membership through lcgBucket, NOT skey % S: with the
      // 2^31 modulus, skey % 16 collapses to the affine (13·doc_id+9)
      // mod 16 — relabeled round-robin, so any doc_id-periodic source
      // interleave maps whole groups to fixed shards
      .withColumn("shard",
        lcgBucket(col("doc_id"), shuffleShards.toLong))
      .withColumn("pos_in_shard", row_number().over(w).cast("long"))
  }

  /** CTE chain shared by the [[perceptron]] and [[trainEval]] oracles:
    * hashed presence features `f`, the [[perceptronRounds]] unrolled
    * margin/update/weight rounds, ending at the final per-document
    * margin CTE `m${perceptronRounds + 1}`. Margin CTE m{t} uses
    * weights w{t-1} (m1 sees the zero model); update CTE d{t}/w{t}
    * folds round t's misclassified set in. */
  private def perceptronCtes: String = {
    val h = Dedup.polySql("term", 31L, 2000000011L)
    val body = (1 to perceptronRounds).map { t =>
      val m =
        if (t == 1)
          s"""m1 AS (SELECT doc_id, y, CAST(0 AS BIGINT) AS m
             |  FROM (SELECT DISTINCT doc_id, y FROM f) d0)""".stripMargin
        else
          s"""m$t AS (SELECT f.doc_id, f.y,
             |    CAST(coalesce(sum(w${t - 1}.w), 0) AS BIGINT) AS m
             |  FROM f LEFT JOIN w${t - 1} USING (b) GROUP BY 1, 2)"""
            .stripMargin
      val d =
        s"""d$t AS (SELECT b, CAST(sum(y) AS BIGINT) AS dw FROM f
           |  WHERE doc_id IN (SELECT doc_id FROM m$t WHERE y * m <= 0)
           |  GROUP BY b)""".stripMargin
      val w =
        if (t == 1) "w1 AS (SELECT b, dw AS w FROM d1)"
        else
          s"""w$t AS (SELECT coalesce(a.b, d.b) AS b,
             |    CAST(coalesce(a.w, 0) + coalesce(d.dw, 0) AS BIGINT) AS w
             |  FROM w${t - 1} a FULL JOIN d$t d ON a.b = d.b)""".stripMargin
      s"$m,\n$d,\n$w"
    }.mkString(",\n")
    val fin = perceptronRounds + 1
    s"""f AS (SELECT DISTINCT doc_id,
       |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |    ($h) % $perceptronBuckets AS b
       |  FROM (SELECT doc_id, lang, unnest(str_split(text, ' ')) AS term
       |        FROM documents) x),
       |$body,
       |m$fin AS (SELECT f.doc_id, f.y,
       |    CAST(coalesce(sum(w$perceptronRounds.w), 0) AS BIGINT) AS m
       |  FROM f LEFT JOIN w$perceptronRounds USING (b) GROUP BY 1, 2)"""
      .stripMargin
  }

  val oracles: Map[String, String] = Map(
    "train_upsample" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS stot
        |  FROM d GROUP BY 1),
        |m AS (SELECT source, stot,
        |    CAST(max(stot) OVER () AS BIGINT) AS maxtot FROM s),
        |r AS (SELECT source,
        |    CAST(1000000 * maxtot // stot AS BIGINT) AS rep_q6 FROM m),
        |x AS (SELECT d.doc_id, d.source, d.n_tokens,
        |    rep_q6 // 1000000 + CASE
        |      WHEN (d.doc_id * 69069 + 1) % 2147483648 % 1000000
        |           < rep_q6 % 1000000 THEN 1 ELSE 0 END AS n_copies
        |  FROM d JOIN r USING (source))
        |SELECT doc_id, source, n_tokens, CAST(u.c AS BIGINT) AS copy_id
        |FROM x, unnest(generate_series(0, n_copies - 1)) AS u(c)""".stripMargin,
    "train_token_budget" ->
      """WITH s AS (SELECT doc_id,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(1000000 * CAST(len(list_filter(str_split(text, ' '),
        |      x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT)
        |      // len(str_split(text, ' ')) AS BIGINT) AS prio_q6
        |  FROM documents),
        |c AS (SELECT *,
        |    CAST(sum(n_tokens) OVER (ORDER BY prio_q6 DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens,
        |    CAST(sum(n_tokens) OVER () AS BIGINT) AS total
        |  FROM s)
        |SELECT doc_id, n_tokens, prio_q6, cum_tokens
        |FROM c WHERE cum_tokens * 2 <= total""".stripMargin,
    "corpus_report" ->
      """WITH d AS (SELECT source, lang,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  quantile_cont(n_tok, 0.5) AS tok_p50,
        |  quantile_cont(n_tok, 0.9) AS tok_p90,
        |  max(n_tok) AS tok_max,
        |  count(DISTINCT lang) AS n_langs
        |FROM d GROUP BY source""".stripMargin,
    "train_sample_weighted" ->
      s"""SELECT doc_id, 1 + n_chars % 10 AS weight,
         |  ((doc_id * 1103515245 + 12345) % 2147483648)
         |    * (1 + n_chars % 10) AS pri
         |FROM documents
         |ORDER BY pri DESC, doc_id
         |LIMIT $weightedK""".stripMargin,
    "train_chunks" ->
      s"""WITH d AS (SELECT doc_id, str_split(text, ' ') AS toks,
         |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents),
         |s AS (SELECT doc_id, toks, n,
         |    unnest(range(0, n, $chunkStride)) AS chunk_start
         |  FROM d)
         |SELECT doc_id, chunk_start // $chunkStride AS chunk_id,
         |  chunk_start,
         |  CAST(len(list_slice(toks, chunk_start + 1,
         |    chunk_start + $chunkWidth)) AS BIGINT) AS n_chunk,
         |  array_to_string(list_slice(toks, chunk_start + 1,
         |    chunk_start + $chunkWidth), ' ') AS chunk_text
         |FROM s""".stripMargin,
    "curate_joint" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars_ns
         |  FROM documents),
         |e AS (SELECT vec_id AS doc_id, CAST(label AS BIGINT) AS label,
         |    CAST(floor(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(CAST(embedding AS DOUBLE[]),
         |        x -> x * x)), (p, q) -> p + q)) * 1000000.0) AS BIGINT)
         |      AS nrm_u6
         |  FROM embeddings),
         |j AS (SELECT e.label, d.doc_id, d.n_words, d.chars_ns, e.nrm_u6
         |  FROM d JOIN e ON d.doc_id = e.doc_id),
         |s AS (SELECT label, CAST(sum(nrm_u6) AS BIGINT) AS sum_u6,
         |    count(*) AS n_label FROM j GROUP BY label),
         |p AS (SELECT j.label, j.doc_id, j.n_words
         |  FROM j JOIN s ON j.label = s.label
         |  WHERE j.n_words BETWEEN 5 AND 2000
         |    AND j.chars_ns <= 12 * j.n_words
         |    AND j.nrm_u6 * s.n_label <= 2 * s.sum_u6)
         |SELECT label, doc_id, n_words,
         |  CAST(row_number() OVER (PARTITION BY label
         |    ORDER BY n_words DESC, doc_id ASC) AS BIGINT) AS rn
         |FROM p
         |QUALIFY row_number() OVER (PARTITION BY label
         |    ORDER BY n_words DESC, doc_id ASC) <= $jointCapK""".stripMargin,
    "train_perceptron" ->
      s"""WITH $perceptronCtes
         |SELECT doc_id, CAST(y AS BIGINT) AS label, m AS margin,
         |  CAST(CASE WHEN m > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
         |  (CASE WHEN m > 0 THEN 1 ELSE -1 END) = y AS correct
         |FROM m${perceptronRounds + 1}""".stripMargin,
    "train_eval" ->
      s"""WITH $perceptronCtes,
         |dict AS (SELECT m AS margin, count(*) AS cnt,
         |    sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS cnt_pos
         |  FROM m${perceptronRounds + 1} GROUP BY 1),
         |r AS (SELECT *, 2 * coalesce(sum(cnt) OVER (ORDER BY margin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    + cnt + 1 AS rank2 FROM dict),
         |a AS (SELECT CAST(sum(cnt) AS HUGEINT) AS n,
         |    CAST(sum(cnt_pos) AS HUGEINT) AS n_pos,
         |    CAST(sum(CASE WHEN margin > 0 THEN cnt_pos ELSE 0 END)
         |      AS HUGEINT) AS tp,
         |    CAST(sum(CASE WHEN margin > 0 THEN cnt - cnt_pos ELSE 0 END)
         |      AS HUGEINT) AS fp,
         |    CAST(sum(CASE WHEN margin <= 0 THEN cnt_pos ELSE 0 END)
         |      AS HUGEINT) AS fn,
         |    CAST(sum(CASE WHEN margin <= 0 THEN cnt - cnt_pos ELSE 0 END)
         |      AS HUGEINT) AS tn,
         |    CAST(sum(CAST(cnt_pos AS HUGEINT) * rank2) AS HUGEINT) AS u2
         |  FROM r)
         |SELECT CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
         |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
         |  CAST((1000000 * tp) // nullif(tp + fp, 0) AS BIGINT)
         |    AS prec_q6,
         |  CAST((1000000 * tp) // nullif(tp + fn, 0) AS BIGINT)
         |    AS recall_q6,
         |  CAST((2000000 * tp) // nullif(2 * tp + fp + fn, 0) AS BIGINT)
         |    AS f1_q6,
         |  CAST((1000000 * (u2 - n_pos * (n_pos + 1)))
         |    // nullif(2 * n_pos * (n - n_pos), 0) AS BIGINT) AS auc_q6
         |FROM a""".stripMargin,
    "curate_dsir" -> {
      val h = Dedup.polySql("term", 31L, 2000000011L)
      def fl(x: String) = s"(length(printf('%b', CAST($x AS BIGINT))) - 1)"
      s"""WITH tf AS (SELECT doc_id, lang, ($h) % $dsirBuckets AS b,
         |    count(*) AS tf FROM (
         |    SELECT doc_id, lang, unnest(str_split(text, ' ')) AS term
         |    FROM documents) x GROUP BY 1, 2, 3),
         |raw AS (SELECT b, CAST(sum(tf) AS BIGINT) AS c_r FROM tf GROUP BY b),
         |tgt AS (SELECT b, CAST(sum(tf) AS BIGINT) AS c_t
         |  FROM tf WHERE lang = 'en' GROUP BY b),
         |nr AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r FROM raw),
         |nt AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t FROM tgt),
         |model AS (SELECT b,
         |    (${fl("nr.n_r")} - ${fl("raw.c_r")})
         |      - (${fl("nt.n_t")} - ${fl("tgt.c_t")}) AS lam
         |  FROM raw JOIN tgt USING (b) CROSS JOIN nr CROSS JOIN nt),
         |sc AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_feat,
         |    CAST(sum(tf.tf * model.lam) AS BIGINT) AS dsir_bits
         |  FROM tf JOIN model USING (b) GROUP BY 1)
         |SELECT d.doc_id, coalesce(sc.n_feat, 0) AS n_feat,
         |  coalesce(sc.dsir_bits, 0) AS dsir_bits
         |FROM (SELECT doc_id FROM documents) d
         |LEFT JOIN sc USING (doc_id)""".stripMargin
    },
    "train_mix_temperature" -> mixTemperatureText,
    "curate_ppl_buckets" -> pplBucketsText(
      "quantile_cont(avg_bits, [0.25, 0.75])", i => s"[${i + 1}]",
      "unnest(str_split(text, ' '))",
      x => s"(length(printf('%b', CAST($x AS BIGINT))) - 1)"),
    "curate_ppl_buckets_lang" -> pplBucketsLangText(
      "quantile_cont(avg_bits, 0.25)", "quantile_cont(avg_bits, 0.75)",
      "unnest(str_split(text, ' '))",
      x => s"(length(printf('%b', CAST($x AS BIGINT))) - 1)"),
    "curate_source_cap" ->
      s"""WITH p AS (SELECT source, doc_id,
         |    (doc_id * 1103515245 + 12345) % 2147483648 AS pri
         |  FROM documents)
         |SELECT source,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY pri DESC, doc_id ASC) AS BIGINT) AS rn,
         |  doc_id, pri
         |FROM p
         |QUALIFY row_number() OVER (PARTITION BY source
         |    ORDER BY pri DESC, doc_id ASC) <= $sourceCapK""".stripMargin,
    "train_pipeline" -> {
      val h = Dedup.polySql("text", 31L, 2000000011L)
      s"""WITH ${Decontaminate.hitCtes},
         |${graft.functions.TextAnalysis.qualityScoreCtes},
         |surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |sp AS (SELECT doc_id, ($h) % $splitMod AS bucket FROM documents)
         |SELECT d.doc_id,
         |  CASE WHEN sp.bucket < 80 THEN 'train'
         |       WHEN sp.bucket < 90 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM documents d
         |JOIN surv ON surv.doc_id = d.doc_id
         |JOIN qs ON qs.doc_id = d.doc_id AND qs.score >= 6
         |JOIN sp ON sp.doc_id = d.doc_id
         |LEFT JOIN h ON h.doc_id = d.doc_id
         |WHERE coalesce(h.n_hits, 0) = 0""".stripMargin
    },
    "train_split_safe" ->
      s"""WITH RECURSIVE ${Dedup.closureCtes}
         |SELECT doc_id, cluster_id,
         |  ((cluster_id * 1103515245 + 12345) % 2000000011) % 10
         |    AS fold,
         |  ((cluster_id * 1103515245 + 12345) % 2000000011) % 10 = 0
         |    AS is_eval
         |FROM cl""".stripMargin,
    "train_shuffle" ->
      s"""WITH s AS (SELECT doc_id,
         |    (doc_id * 1103515245 + 12345) % 2147483648 AS skey,
         |    ((doc_id * 1103515245 + 12345) % 2000000011)
         |      % $shuffleShards AS shard
         |  FROM documents)
         |SELECT doc_id, skey, shard,
         |  CAST(row_number() OVER (PARTITION BY shard
         |    ORDER BY skey, doc_id) AS BIGINT) AS pos_in_shard
         |FROM s""".stripMargin,
    "train_split" -> {
      val h = Dedup.polySql("text", 31L, 2000000011L)
      s"""SELECT doc_id, $h % $splitMod AS bucket,
         |  CASE WHEN $h % $splitMod < 80 THEN 'train'
         |       WHEN $h % $splitMod < 90 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin
    },
    "train_mix" ->
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    (doc_id * 1103515245 + 12345) % 2147483648 AS r,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY (doc_id * 1103515245 + 12345) % 2147483648, doc_id)
         |      AS BIGINT) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n_source
         |  FROM documents)
         |SELECT doc_id, source, rn, n_source FROM r
         |WHERE rn <= ceil((CASE source ${mixWeights.map { case (s, f) =>
             s"WHEN '$s' THEN $f" }.mkString(" ")}
         |  ELSE $mixDefault END) * CAST(n_source AS DOUBLE))""".stripMargin,
    "train_sample_stratified" ->
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |    (doc_id * 1103515245 + 12345) % 2147483648 AS r,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY (doc_id * 1103515245 + 12345) % 2147483648, doc_id)
         |      AS BIGINT) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n_stratum
         |  FROM documents)
         |SELECT doc_id, lang, rn, n_stratum FROM r
         |WHERE rn <= ceil($sampleFrac * CAST(n_stratum AS DOUBLE))""".stripMargin,
    "train_pack" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, doc_id % $packShards AS shard,
         |    CAST(len(str_split(text, ' ')) AS BIGINT) AS tk
         |  FROM documents),
         |o AS (SELECT doc_id, shard, tk,
         |    CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id)
         |      AS BIGINT) AS rn
         |  FROM t),
         |pack AS (
         |  SELECT shard, rn, doc_id, tk, CAST(0 AS BIGINT) AS bin, tk AS cum
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.shard, o.rn, o.doc_id, o.tk,
         |    CASE WHEN p.cum + o.tk > $packBudget THEN p.bin + 1
         |         ELSE p.bin END,
         |    CASE WHEN p.cum + o.tk > $packBudget THEN o.tk
         |         ELSE p.cum + o.tk END
         |  FROM pack p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1)
         |SELECT doc_id, shard, bin AS bin_id, tk AS n_tokens FROM pack""".stripMargin,
    "train_curate" ->
      """WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |s AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(len(str_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(str_split(d.text, ' '),
        |      x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT)
        |      AS stop_cnt
        |  FROM documents d JOIN surv USING (doc_id))
        |SELECT * FROM s WHERE n_tokens >= 40 AND stop_cnt > 0""".stripMargin)
}
