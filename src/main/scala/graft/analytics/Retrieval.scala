package graft.analytics

import graft.Tables
import graft.functions.TextAnalysis.tokens
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval over the documents corpus — the query-side
  * complement of `text_inverted_index`: given a small set of keyword
  * queries, rank every matching document by Okapi BM25 (Robertson et
  * al., TREC-3) and keep the top-k per query. A curation pipeline runs
  * exactly this shape for corpus search, targeted decontamination
  * ("find the docs that look like this benchmark prompt") and
  * retrieval-augmented dataset construction.
  *
  * Exact-arithmetic scoring: BM25 is a product of floats in every
  * textbook, and floats don't hash-compare across engines. With
  * k1 = 6/5 and b = 3/4 the per-term score
  *
  *   idf · tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)
  *
  * multiplied through by 10·T (T = corpus token count, avgdl = T/N)
  * becomes the integer rational
  *
  *   idf20 · 22·tf·T  /  (10·T·tf + 3·T + 9·dl·N)
  *
  * and the gate emits its floor at 1e4 scale via integer DIV — exact
  * in both engines. idf20 is the floor-log2 idf at 2^20 scale
  * (flog2((N<<20) DIV df)), the same libm-free surrogate every other
  * scoring gate here uses: whole-bit resolution for the rarity factor,
  * full integer resolution for the tf/length saturation that does the
  * in-query ranking work. Magnitude bound: idf20·22·tf·T·10^4 needs
  * T·tf ≲ 4e13 — fine to ~10^11 corpus tokens; past that the scale
  * factor drops or the numerator rides DECIMAL(38,0) (ordering is
  * unaffected either way).
  *
  * Scale shape: query terms are a handful of literals, so the doc-term
  * explode FILTERS to them before the (doc, term) hash-agg — the
  * shuffled tf frame is O(docs·|q|), not O(corpus tokens). Per-term df
  * aggregates to ≤|q| rows and re-joins as a broadcast. N and T are two
  * longs collected once (the Zorder min/max pattern). Top-k per query
  * is a |q|-partition window rank — WindowGroupLimit pushes the k cut
  * below the sort at every executor.
  */
object Retrieval extends graft.GateModule {

  /** Fixed keyword query set (query_id → terms). Term choice spans the
    * df spectrum of the synthetic vocabulary: `dup` is rare (high idf),
    * the rest are common terms ranked purely by tf/length saturation. */
  val bm25Queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("dup", "merge"),
    1L -> Seq("fast", "query", "scan"),
    2L -> Seq("spark", "window"))

  /** Results kept per query. */
  val bm25K = 10

  /** Scaled-integer BM25 top-[[bm25K]] per query. Emits
    * (query_id, rank, doc_id, n_hit, score_q4): `n_hit` = how many of
    * the query's terms the doc contains, `score_q4` = the summed
    * per-term floor-scaled scores. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    // two bounded longs to the driver (same pattern as Zorder min/max)
    val Array(n, t) = docs.agg(count(lit(1)), sum(col("dl")))
      .collect()(0).toSeq.map(_.toString.toLong).toArray

    val qterms = bm25Queries
      .flatMap { case (qid, ts) => ts.map(qid -> _) }
      .toDF("query_id", "term")
    val termSet = bm25Queries.flatMap(_._2).distinct

    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isInCollection(termSet))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf20",
        graft.functions.TextAnalysis.flog2(expr(s"${n << 20}L DIV df")))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_q4").desc, col("doc_id"))
    tf.join(broadcast(df), "term")
      .join(broadcast(qterms), "term")
      .withColumn("score_term_q4", expr(
        s"(idf20 * 22L * tf * ${t}L * 10000L)" +
          s" DIV (10L * ${t}L * tf + 3L * ${t}L + 9L * dl * ${n}L)"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hit"),
        sum(col("score_term_q4")).as("score_q4"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= bm25K)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_hit"), col("score_q4"))
  }

  /** RRF constant (Cormack & Clarke SIGIR'09 use 60) and the integer
    * scale: a rank-r hit contributes floor(1e6 / (60 + r)). */
  val rrfK = 60
  val rrfScale = 1000000L

  /** Hybrid search: BM25 keyword ranks fused with embedding-cosine
    * ranks by Reciprocal Rank Fusion — the standard way modern search
    * stacks (Elastic, Vespa, every RAG pipeline) combine lexical and
    * dense retrieval without score calibration. Query q's vector side
    * uses the embedding of vec_id = q (probe ids 0..2 mirror
    * [[bm25Queries]] ids).
    *
    * RRF score = Σ_systems 1/(k + rank), here as the exact integer
    * floor(1e6/(60+rank)) so fusion is order-independent and
    * hash-comparable. Each system contributes only its top
    * [[bm25K]] list, so fusion joins two k-row-per-query frames —
    * O(q·k) work regardless of corpus size; the heavy lifting stays
    * in the two retrievers, each already scale-shaped (filtered tf
    * shuffle; broadcast-probe corpus pass). */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val t = bm25TopK(spark, dir)
      .select(col("query_id"), col("doc_id"), col("rank").as("trank"))
    val v = graft.operators.Similarity
      .cosineTopK(spark, dir, maxProbeId = bm25Queries.length.toLong,
        k = bm25K)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    t.join(v, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr(s"$rrfScale DIV (${rrfK}L + trank)"), lit(0L)) +
          coalesce(expr(s"$rrfScale DIV (${rrfK}L + vrank)"), lit(0L)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        coalesce(col("trank"), lit(0L)).as("text_rank"),
        coalesce(col("vrank"), lit(0L)).as("vec_rank"),
        col("rrf_score"))
  }

  /** MMR pool size per query, results kept, and query count. */
  val mmrPoolK = 20
  val mmrK = 5
  val mmrQueries = 3

  case class MmrCand(query_id: Long, doc_id: Long, sim_q6: Long)
  case class MmrPair(query_id: Long, a: Long, b: Long, psim_q6: Long)
  case class MmrPick(query_id: Long, step: Long, doc_id: Long,
      score_q6: Long)

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98): greedily build a top-k that balances query relevance
    * against redundancy with what's already picked —
    * argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), here λ = 1/2 so the
    * integer form is score = 5·sim_q6 − 5·maxsel_q6 (both sims
    * quantized at 1e-6 before ANY decision: selection is exact integer
    * arithmetic, hash-identical across engines).
    *
    * Shape: candidate generation — the only corpus-size-dependent part
    * — is the broadcast-probe corpus pass ([[graft.operators
    * .Similarity.mmrCandidates]]); the pool pairwise sims are a
    * per-query self-join of a k-bounded frame. Selection itself is
    * inherently sequential (each pick depends on all previous), but
    * its state is O(k²) per query, so it runs INSIDE a per-query
    * cogroup — millions of queries parallelize across the cluster and
    * no candidate ever reaches the driver. */
  def mmrDiversify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorExpressions.cosine_sim
    val cand = graft.operators.Similarity
      .mmrCandidates(spark, dir, mmrQueries.toLong, mmrPoolK).persist()
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = cand.select(col("query_id"), col("doc_id").as("a"))
      .join(cand.select(col("query_id"), col("doc_id").as("b")), "query_id")
      .filter(col("a") =!= col("b"))
      .join(e.select(col("vec_id").as("a"), col("v").as("va")), "a")
      .join(e.select(col("vec_id").as("b"), col("v").as("vb")), "b")
      .select(col("query_id"), col("a"), col("b"),
        round(cosine_sim(col("va"), col("vb")) * 1e6, 0).cast("long")
          .as("psim_q6"))
    val picks = cand.as[MmrCand].groupByKey(_.query_id)
      .cogroup(pairs.as[MmrPair].groupByKey(_.query_id)) { (q, cs, psIt) =>
        val cArr = cs.toArray
        val ps = psIt.map(p => (p.a, p.b) -> p.psim_q6).toMap
        val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
        val k = math.min(mmrK, cArr.length)
        while (sel.length < k) {
          var best: MmrCand = null
          var bestScore = Long.MinValue
          for (c <- cArr if !sel.contains(c.doc_id)) {
            val maxp =
              if (sel.isEmpty) 0L
              else sel.iterator.map(s => ps((c.doc_id, s))).max
            val score = 5L * c.sim_q6 - 5L * maxp
            if (score > bestScore ||
                (score == bestScore && c.doc_id < best.doc_id)) {
              best = c; bestScore = score
            }
          }
          sel += best.doc_id
          out += MmrPick(q, sel.length.toLong, best.doc_id, bestScore)
        }
        out
      }
    // checkpoint-then-release (CacheHygieneSpec): k rows per query
    // out; the candidate pool must not outlive the call
    graft.Conf.checkpointThenRelease(picks.toDF(), cand)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bm25" -> bm25TopK _,
    "search_hybrid_rrf" -> hybridRrf _,
    "search_mmr" -> mmrDiversify _)

  /** Shared BM25 scoring CTE chain (ends at `s(query_id, doc_id,
    * n_hit, score_q4)`), reused by the bm25 and hybrid oracles. */
  private def bm25Ctes: String = {
    val qvals = bm25Queries
      .flatMap { case (qid, ts) =>
        ts.map(t => s"(CAST($qid AS BIGINT), '$t')") }
      .mkString(", ")
    s"""q(query_id, term) AS (VALUES $qvals),
       |d AS (SELECT doc_id, str_split(text, ' ') AS toks,
       |    CAST(len(str_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(dl) AS BIGINT) AS t FROM d),
       |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM (
       |    SELECT doc_id, dl, unnest(toks) AS term FROM d) x
       |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
       |idf AS (SELECT term, count(*) AS df,
       |    (length(printf('%b',
       |      (SELECT n FROM nt) * 1048576 // count(*))) - 1) AS idf20
       |  FROM tf GROUP BY term),
       |s AS (SELECT q.query_id, tf.doc_id, count(*) AS n_hit,
       |    CAST(sum((idf.idf20 * 22 * tf.tf * nt.t * 10000)
       |      // (10 * nt.t * tf.tf + 3 * nt.t + 9 * tf.dl * nt.n))
       |      AS BIGINT) AS score_q4
       |  FROM tf JOIN idf USING (term) JOIN q USING (term)
       |    CROSS JOIN nt
       |  GROUP BY 1, 2)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "text_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT query_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY score_q4 DESC, doc_id)
         |    AS BIGINT) AS rank,
         |  doc_id, n_hit, score_q4
         |FROM s
         |QUALIFY rank <= $bm25K""".stripMargin,
    "search_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
         |t AS (SELECT query_id, doc_id, trank FROM (
         |    SELECT query_id, doc_id, CAST(row_number() OVER (
         |        PARTITION BY query_id ORDER BY score_q4 DESC, doc_id)
         |        AS BIGINT) AS trank
         |    FROM s) x WHERE trank <= $bm25K),
         |qv AS (SELECT vec_id AS query_id,
         |    CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < ${bm25Queries.length}),
         |v AS (SELECT query_id, doc_id, vrank FROM (
         |    SELECT qv.query_id, e.vec_id AS doc_id,
         |      CAST(row_number() OVER (PARTITION BY qv.query_id
         |        ORDER BY list_cosine_similarity(
         |          CAST(e.embedding AS DOUBLE[]), qv.qv) DESC,
         |          e.vec_id ASC) AS BIGINT) AS vrank
         |    FROM embeddings e CROSS JOIN qv
         |    WHERE e.vec_id <> qv.query_id) x WHERE vrank <= $bm25K),
         |f AS (SELECT COALESCE(t.query_id, v.query_id) AS query_id,
         |    COALESCE(t.doc_id, v.doc_id) AS doc_id,
         |    COALESCE(t.trank, 0) AS text_rank,
         |    COALESCE(v.vrank, 0) AS vec_rank,
         |    COALESCE($rrfScale // ($rrfK + t.trank), 0)
         |      + COALESCE($rrfScale // ($rrfK + v.vrank), 0) AS rrf_score
         |  FROM t FULL JOIN v
         |    ON t.query_id = v.query_id AND t.doc_id = v.doc_id)
         |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank,
         |  doc_id, text_rank, vec_rank, rrf_score
         |FROM f""".stripMargin,
    "search_mmr" -> {
      // greedy selection unrolled to mmrK non-recursive CTE levels:
      // sel_i = picks so far, m_i = per-candidate max pool-sim into
      // sel_i, s_i = integer-argmax pick — plain SQL, no recursion
      val steps = (2 to mmrK).map { i =>
        val prevSel = if (i == 2) "SELECT query_id, doc_id FROM s1"
          else s"SELECT query_id, doc_id FROM sel${i - 1} " +
            s"UNION ALL SELECT query_id, doc_id FROM s${i - 1}"
        s"""sel$i AS ($prevSel),
           |m$i AS (SELECT c.query_id, c.doc_id, c.sim_q6,
           |    max(p.psim_q6) AS mx
           |  FROM cand c
           |  JOIN sel$i sl ON sl.query_id = c.query_id
           |  JOIN p ON p.query_id = c.query_id AND p.a = c.doc_id
           |    AND p.b = sl.doc_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel$i x
           |    WHERE x.query_id = c.query_id AND x.doc_id = c.doc_id)
           |  GROUP BY 1, 2, 3),
           |s$i AS (SELECT query_id, doc_id,
           |    5 * sim_q6 - 5 * mx AS score_q6 FROM (
           |    SELECT query_id, doc_id, sim_q6, mx, row_number() OVER (
           |      PARTITION BY query_id
           |      ORDER BY 5 * sim_q6 - 5 * mx DESC, doc_id) AS rn
           |    FROM m$i) x WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val union = (1 to mmrK).map(i =>
        s"SELECT query_id, CAST($i AS BIGINT) AS step, doc_id, score_q6 " +
          s"FROM s$i").mkString("\nUNION ALL\n")
      s"""WITH qv AS (SELECT vec_id AS query_id,
         |    CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < $mmrQueries),
         |cand AS (SELECT query_id, doc_id,
         |    CAST(round(sim * 1000000) AS BIGINT) AS sim_q6 FROM (
         |    SELECT qv.query_id, e.vec_id AS doc_id,
         |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |        qv.v) AS sim,
         |      row_number() OVER (PARTITION BY qv.query_id
         |        ORDER BY list_cosine_similarity(
         |          CAST(e.embedding AS DOUBLE[]), qv.v) DESC,
         |          e.vec_id) AS rn
         |    FROM embeddings e CROSS JOIN qv
         |    WHERE e.vec_id <> qv.query_id) x
         |  WHERE rn <= $mmrPoolK),
         |p AS (SELECT c1.query_id, c1.doc_id AS a, c2.doc_id AS b,
         |    CAST(round(list_cosine_similarity(
         |      CAST(ea.embedding AS DOUBLE[]),
         |      CAST(eb.embedding AS DOUBLE[])) * 1000000) AS BIGINT)
         |      AS psim_q6
         |  FROM cand c1 JOIN cand c2 ON c1.query_id = c2.query_id
         |    AND c1.doc_id <> c2.doc_id
         |  JOIN embeddings ea ON ea.vec_id = c1.doc_id
         |  JOIN embeddings eb ON eb.vec_id = c2.doc_id),
         |s1 AS (SELECT query_id, doc_id, 5 * sim_q6 AS score_q6 FROM (
         |    SELECT query_id, doc_id, sim_q6, row_number() OVER (
         |      PARTITION BY query_id ORDER BY sim_q6 DESC, doc_id) AS rn
         |    FROM cand) x WHERE rn = 1),
         |$steps
         |$union""".stripMargin
    })
}
