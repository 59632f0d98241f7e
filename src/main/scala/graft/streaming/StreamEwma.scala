package graft.streaming

import graft.Tables
import graft.analytics.TimeSeries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** STREAMING EWMA — the live-monitoring deployment of
  * [[graft.analytics.TimeSeries.ewma]]: hourly bars arrive on a
  * stream and each bar's smoothed value is emitted as it arrives,
  * from `flatMapGroupsWithState` keyed state holding only the last
  * K−1 bar values per series (the truncated-kernel depth — O(K)
  * longs per key, not the series history). The batch form computes
  * s_i = Σ_j 2^-j·x_{i-j} as K codegen'd lags inside one window
  * exchange; this form computes the IDENTICAL exact-decimal sum from
  * the state deque, so both share one oracle — the strongest
  * batch/streaming-parity statement available (same hash, not just
  * same shape).
  *
  * Determinism: the per-bar value is held as its unscaled q4 long
  * (the DECIMAL(18,4) hourly sum is exact), every product/sum runs in
  * BigDecimal (2^-j is a terminating decimal), and the final
  * double cast is the same single rounding Spark's decimal→double
  * cast performs. The replay is split at the same mid-corpus cut as
  * the other streaming gates, so state demonstrably carries the
  * smoothing window across micro-batch boundaries.
  */
object StreamEwma extends graft.GateModule {

  case class Bar(event_type: String, h: java.sql.Timestamp, x_q4: Long)
  case class EwmaHist(recent: List[Long])
  case class EwmaOut(event_type: String, hour_start: java.sql.Timestamp,
      val_sum: Double, ewma: Double)

  private val K = TimeSeries.ewmaK

  private val weights: IndexedSeq[java.math.BigDecimal] =
    (0 until K).map(j => java.math.BigDecimal.ONE.divide(
      java.math.BigDecimal.valueOf(1L << j)))

  /** Exact-decimal truncated EWMA of xs = (x_i, x_{i-1}, ...), q4
    * unscaled longs, as its double cast. */
  def ewmaOf(xs: Seq[Long]): Double =
    xs.take(K).zipWithIndex
      .map { case (x, j) =>
        java.math.BigDecimal.valueOf(x, 4).multiply(weights(j)) }
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      .doubleValue

  def streamEwma(spark: SparkSession, dir: String): DataFrame =
    graft.Conf.withConf(spark, "spark.sql.shuffle.partitions",
      EventStream.streamShufflePartitions) {
    import spark.implicits._
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg((sum(Tables.dec(col("value"))).cast(DecimalType(18, 4)) *
        lit(10000)).cast("long").as("x_q4"))
    val cut = lit(Sessionize.streamCut).cast("timestamp")
    val staging = EventStream.stageReplayCached(s"ewma:$dir") {
      EventStream.stageReplay(Seq(
        hourly.filter(col("h") < cut), hourly.filter(col("h") >= cut)))
    }
    val stream = spark.readStream
      .schema(hourly.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
      .as[Bar]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaHist, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Bar], state: GroupState[EwmaHist]) =>
          // bars inside one micro-batch arrive unordered; event-time
          // order across batches is the replay's file order
          val bars = rows.toArray.sortBy(_.h.getTime)
          var hist = state.getOption.map(_.recent).getOrElse(Nil)
          val out = bars.map { b =>
            val xs = b.x_q4 :: hist
            val res = EwmaOut(key, b.h,
              java.math.BigDecimal.valueOf(b.x_q4, 4).doubleValue,
              ewmaOf(xs))
            hist = xs.take(K - 1)
            res
          }
          state.update(EwmaHist(hist))
          out.iterator
      }
    StreamRun.toSnapshot(spark, stream.toDF(), "graft_stream_ewma", "append",
      identity)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_ewma" -> streamEwma _)

  /** Identical oracle to `ts_ewma` — the parity contract. */
  val oracles: Map[String, String] = Map(
    "stream_ewma" -> TimeSeries.ewmaSql)
}
