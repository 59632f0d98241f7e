package graft.streaming

import graft.Tables
import graft.analytics.StatsQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming drift monitor: the PSI gate (`stats_psi`) as a continuous
  * query — the shape every production model-serving stack runs to
  * catch input drift between the training-time reference distribution
  * and live traffic.
  *
  * The reference (pre-period bin counts per event type) is a STATIC
  * batch frame computed once; the post-period stream aggregates
  * per-day × type × bin counts, and each day's cells score against the
  * reference with the exact floor-bits PSI of the batch gate. Complete
  * mode + memory sink is the deterministic offline harness form (the
  * `stream_tumbling` convention): streamed counts are exact regardless
  * of micro-batch slicing, so the final snapshot equals the batch
  * computation bit-for-bit and the oracle is plain batch SQL. On a
  * cluster the same plan runs with a watermark + append sink, emitting
  * each day's drift cells when its window closes; the reference side
  * broadcasts (|types|·bins rows).
  */
object StreamDrift extends graft.GateModule {

  import EventStream.streamShufflePartitions
  import graft.Conf.withConf

  private def binCol = least(
    expr(s"CAST(round(value * 100) AS BIGINT) DIV ${StatsQueries.psiBinCents}"),
    lit(StatsQueries.psiBins - 1L))

  def streamPsi(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
      val splitTs = to_timestamp(lit(StatsQueries.cupedSplit))
      val B = StatsQueries.psiBins
      val ref = Tables.load(spark, dir, "events")
        .filter(col("ts") < splitTs)
        .groupBy(col("event_type"), binCol.as("bin"))
        .agg(count(lit(1)).as("ref_cnt"))
      val cellsStream = Tables.stream(spark, dir, "events")
        .filter(col("ts") >= splitTs)
        .withColumn("bin", binCol)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"),
          col("bin"))
        .agg(count(lit(1)).as("cnt"))
      val snap = StreamRun.toSnapshot(spark, cellsStream, "graft_stream_psi",
        "complete", identity)
      // drift scoring on the bounded snapshot (days × types × bins):
      // a day-bin the reference never saw smooths to ref_cnt 0 + 1
      // (left join), the batch psi convention
      val wDT = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type", "day_start")
      val wRef = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type")
      val refTot = ref
        .withColumn("ref_tot", sum(col("ref_cnt")).over(wRef))
      snap
        .select(col("w.start").as("day_start"), col("event_type"),
          col("bin"), col("cnt"))
        .join(refTot, Seq("event_type", "bin"), "left")
        .withColumn("ref_cnt", coalesce(col("ref_cnt"), lit(0L)))
        // every type has pre-period mass in this corpus; a type absent
        // from the reference entirely would surface as ref_tot null
        .withColumn("ref_tot",
          coalesce(max(col("ref_tot")).over(wRef), lit(0L)))
        .withColumn("n_day", sum(col("cnt")).over(wDT))
        .withColumn("a", (col("cnt") + 1) * (col("ref_tot") + B))
        .withColumn("b", (col("ref_cnt") + 1) * (col("n_day") + B))
        .selectExpr("day_start", "event_type", "bin", "cnt", "ref_cnt",
          "n_day", "ref_tot",
          s"(1000000 * (cnt + 1)) DIV (n_day + $B)" +
            s" - (1000000 * (ref_cnt + 1)) DIV (ref_tot + $B) AS delta_q6",
          s"CAST(abs((1000000 * (cnt + 1)) DIV (n_day + $B)" +
            s" - (1000000 * (ref_cnt + 1)) DIV (ref_tot + $B))" +
            " * (length(conv(greatest(a, b) DIV least(a, b), 10, 2)) - 1)" +
            " AS BIGINT) AS psi_cell_bits_q6")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_psi" -> streamPsi _)

  val oracles: Map[String, String] = Map(
    "stream_psi" -> {
      val B = StatsQueries.psiBins
      val split = StatsQueries.cupedSplit
      s"""WITH ref AS (SELECT event_type,
         |    least(CAST(round(value * 100) AS BIGINT)
         |      // ${StatsQueries.psiBinCents}, ${B - 1}) AS bin,
         |    count(*) AS ref_cnt
         |  FROM events WHERE ts < TIMESTAMP '$split' GROUP BY 1, 2),
         |rt AS (SELECT *, CAST(sum(ref_cnt)
         |    OVER (PARTITION BY event_type) AS BIGINT) AS ref_tot
         |  FROM ref),
         |c AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
         |      AS day_start, event_type,
         |    least(CAST(round(value * 100) AS BIGINT)
         |      // ${StatsQueries.psiBinCents}, ${B - 1}) AS bin,
         |    count(*) AS cnt
         |  FROM events WHERE ts >= TIMESTAMP '$split' GROUP BY 1, 2, 3),
         |j AS (SELECT c.day_start, c.event_type, c.bin, c.cnt,
         |    coalesce(rt.ref_cnt, 0) AS ref_cnt,
         |    coalesce(max(rt.ref_tot) OVER (PARTITION BY c.event_type),
         |      0) AS ref_tot,
         |    CAST(sum(c.cnt) OVER (PARTITION BY c.event_type,
         |      c.day_start) AS BIGINT) AS n_day
         |  FROM c LEFT JOIN rt
         |    ON rt.event_type = c.event_type AND rt.bin = c.bin),
         |x AS (SELECT *, (cnt + 1) * (ref_tot + $B) AS a,
         |    (ref_cnt + 1) * (n_day + $B) AS b FROM j)
         |SELECT day_start, event_type, bin, cnt, ref_cnt, n_day, ref_tot,
         |  (1000000 * (cnt + 1)) // (n_day + $B)
         |    - (1000000 * (ref_cnt + 1)) // (ref_tot + $B) AS delta_q6,
         |  CAST(abs((1000000 * (cnt + 1)) // (n_day + $B)
         |      - (1000000 * (ref_cnt + 1)) // (ref_tot + $B))
         |    * ${graft.functions.TextAnalysis.flog2Sql(
               "greatest(a, b) // least(a, b)")} AS BIGINT)
         |    AS psi_cell_bits_q6
         |FROM x""".stripMargin
    })
}
