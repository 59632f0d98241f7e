package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark decontamination for LLM training pipelines: flag training
  * documents that share a word n-gram with a held-out evaluation set,
  * the standard contamination test (n-gram collision against the
  * benchmark, as popularized by the GPT-3/PaLM data papers).
  *
  * Scale design: the benchmark side is aggregated FIRST — per distinct
  * n-gram, only (count-of-benchmark-docs, min-benchmark-doc) survives —
  * so the join is training-grams against a small summary (broadcast when
  * the benchmark fits, as any real eval suite does; a shuffled semi-join
  * otherwise). Each training gram row matches AT MOST ONE summary row,
  * so join output is linear in training-gram volume no matter how many
  * documents share a boilerplate n-gram — there is no gram-keyed
  * self-join anywhere (the d² hot-key cliff the Jaccard verifier also
  * avoids). At 100 TB: one pass over the corpus to shingle (shuffle-free
  * generate), one broadcast join, one doc-keyed count.
  */
object Decontaminate extends graft.GateModule {

  /** Overlap n-gram width. 5 keeps the collision signal sparse but
    * non-trivial on the synthetic corpus (~30-word vocabulary);
    * production uses 8-13 per the decontamination literature. */
  val ngramN = 5

  /** Membership rule for the held-out benchmark set — a deterministic
    * 1% slice standing in for an external eval suite. */
  val benchMod = 100

  /** Per-document contamination report: how many of the document's
    * distinct n-grams also occur in a benchmark document OTHER than the
    * document itself (so benchmark members aren't self-contaminated),
    * and the keep/flag boolean a curation pipeline would act on. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    report(Tables.docs(spark, dir))

  def report(docs: DataFrame): DataFrame = {
    val grams = Dedup.shingleRows(Dedup.tokenRows(docs), ngramN).distinct()
    // benchmark summary: per gram, #benchmark docs containing it + the
    // one doc id when that count is 1 (for the self-match exclusion)
    val benchStats = grams.filter(col("doc_id") % benchMod === 0)
      .groupBy("g")
      .agg(count(lit(1)).as("bcnt"), min("doc_id").as("bdoc"))
    // any real eval suite broadcasts; a benchmark too large to fit an
    // executor flips to the shuffled join via conf (output-invariant —
    // spec-pinned)
    val benchSide =
      if (graft.Conf.int(docs.sparkSession,
          graft.Conf.DecontaminateBroadcast, 1) == 1)
        broadcast(benchStats)
      else benchStats
    val hits = grams.join(benchSide, "g")
      .filter(col("bcnt") > 1 || col("bdoc") =!= col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "decontaminate" -> decontaminate _)

  /** Flat CTE list ending in `h(doc_id, n_hits)` — contaminated docs
    * and their hit counts; shared with the composite `train_pipeline`
    * oracle. */
  private[operators] def hitCtes: String =
    s"""t AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents
       |  WHERE len(str_split(text, ' ')) >= $ngramN),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(len(t) - ${ngramN - 1}),
       |    i -> ${(1 to ngramN).map(j => s"t[i+$j]").mkString(" || ' ' || ")})))
       |    AS g
       |  FROM t),
       |b AS (SELECT g, count(*) AS bcnt, min(doc_id) AS bdoc
       |  FROM g WHERE doc_id % $benchMod = 0 GROUP BY g),
       |h AS (SELECT g.doc_id, count(*) AS n_hits
       |  FROM g JOIN b USING (g)
       |  WHERE b.bcnt > 1 OR b.bdoc <> g.doc_id
       |  GROUP BY g.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "decontaminate" ->
      s"""WITH $hitCtes
         |SELECT d.doc_id,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  coalesce(h.n_hits, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN h USING (doc_id)""".stripMargin)
}
