package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Sketches

/** The HLL distinct-count sketch as STREAMING STATE: the same integer
  * registers [[graft.analytics.Sketches.hllDistinct]] builds in batch,
  * maintained continuously by a streaming groupBy(bucket).max(rho).
  *
  * This is the sketch family's production shape at 100 TB: a
  * continuously-updated distinct count whose state is EXACTLY 256 rows
  * of (bucket, register) no matter how long the stream runs — contrast
  * a streaming count(DISTINCT), which Structured Streaming rejects
  * outright because its state would be unbounded. max() is the whole
  * trick: it is commutative, associative, and idempotent, so registers
  * absorb replays and out-of-order arrival without watermark coupling,
  * and the micro-batch update is a partial-aggregate merge, never a
  * re-scan.
  *
  * The gate replays lineitem through a file source, reduces the final
  * register snapshot to the estimate, and attaches the exact truth (a
  * BATCH pass — the stream never could, see above) — so its output
  * schema, values, and DuckDB oracle are char-identical to the batch
  * gate's, and StreamingSpec asserts frame equality between the two:
  * one sketch definition, two execution modes, one oracle.
  */
object StreamSketch extends graft.GateModule {

  def streamHllDistinct(spark: SparkSession, dir: String): DataFrame =
    graft.Conf.withConf(spark, "spark.sql.shuffle.partitions",
      EventStream.streamShufflePartitions) {
      val regs = Tables.stream(spark, dir, "lineitem")
        .selectExpr(s"${Sketches.h2Expr("l_orderkey")} AS h2")
        .selectExpr(s"${Sketches.finSpark} AS hv")
        .selectExpr("hv DIV 8388608 AS bucket", "hv % 8388608 AS rest")
        .selectExpr("bucket",
          "CASE WHEN rest = 0 THEN 24 ELSE 24 - length(bin(rest)) END AS rho")
        .groupBy("bucket")
        .agg(max("rho").as("reg"))
      val snapshot = StreamRun.toSnapshot(spark, regs, "graft_stream_hll",
        "complete", identity)
      // Batch side: the exact truth the stream cannot legally compute,
      // riding the same hash so bucket-local distinct sums are global.
      val truth = graft.Tables.load(spark, dir, "lineitem")
        .selectExpr(s"${Sketches.h2Expr("l_orderkey")} AS h2")
        .selectExpr(s"${Sketches.finSpark} AS hv")
        .selectExpr("hv DIV 8388608 AS bucket", "hv")
        .groupBy("bucket").agg(countDistinct("hv").as("nd"))
        .agg(sum("nd").as("true_ndv"), max(lit(1)).as("jk"))
      snapshot
        .agg(count(lit(1)).as("nz_regs"),
          expr("sum(shiftleft(CAST(1 AS BIGINT), 24 - reg))").as("s_filled"),
          // aggregate-produced constant key: combine as a hash join,
          // never a cartesian (see Sketches.kmvDistinct)
          max(lit(1)).as("jk"))
        .join(broadcast(truth), "jk")
        .withColumn("s_total",
          expr("CAST(s_filled + (256 - nz_regs) * 16777216 AS BIGINT)"))
        .withColumn("est_ndv",
          expr("CAST(CAST(718272 AS BIGINT) * 65536 * 16777216" +
            " DIV (1000000 * s_total) AS BIGINT)"))
        .selectExpr("CAST(256 AS BIGINT) AS m", "nz_regs", "s_total",
          "est_ndv", "true_ndv",
          "CAST(1000000 * abs(est_ndv - true_ndv) DIV true_ndv AS BIGINT)" +
            " AS err_q6")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_sketch_distinct" -> streamHllDistinct _)

  /** Same estimator, same hash, same columns — the batch oracle IS the
    * streaming oracle. */
  val oracles: Map[String, String] = Map(
    "stream_sketch_distinct" ->
      Sketches.oracles("sketch_hll_distinct"))
}
