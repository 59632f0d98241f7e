package graft.streaming

import graft.Conf.withConf
import graft.Tables
import graft.streaming.EventStream.{stageReplay, streamShufflePartitions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

case class AsofEvent(user_id: Long, us: Long, side: Int, event_id: Long,
  sec: Long)
case class AsofViewState(viewUs: Long, viewId: Long, viewSec: Long)
case class AsofMatch(purchase_id: Long, user_id: Long,
  view_id: Option[Long], gap_s: Option[Long])

/** Streaming as-of join — the incremental form of
  * `AsofJoin.purchaseToView` (`asof_join`): each purchase matched to
  * the user's latest prior view, as the events ARRIVE. This is the
  * state story that makes as-of the canonical streaming-friendly join:
  * the running match needs exactly ONE (ts, id) pair per user — the
  * newest view seen so far — O(1) state regardless of history length,
  * where a stream-stream equi-join must buffer a whole watermark's
  * worth of both sides.
  *
  * Replay discipline (the StreamPattern harness): the corpus splits
  * into two time-ordered files at [[Sessionize.streamCut]], so
  * cross-trigger arrival order is event-time order; within a trigger
  * the group iterator sorts by the FULL-microsecond (ts, side,
  * event_id) tuple — views before purchases on exact ties, exactly
  * the batch operator's tie rule — and the fold emits each purchase
  * once, in the trigger it arrives. Per-trigger group buffers are
  * bounded by a user's events per trigger (production paces triggers
  * by the watermark); persistent state never grows. The spec pins
  * that at least one purchase matches ACROSS the file cut, so the
  * state carry demonstrably runs, and asserts stream == batch; the
  * gate shares the batch gate's DuckDB ASOF oracle, closing the
  * three-way stream == batch == native-ASOF equivalence. */
object StreamAsof extends graft.GateModule {

  /** Fold one user's in-order events through the O(1) view state,
    * emitting a match per purchase — micro-batch-split-invariant
    * because it only ever reads the running state and the next event. */
  def fold(st: AsofViewState, es: Seq[AsofEvent])
      : (AsofViewState, Seq[AsofMatch]) = {
    var s = st
    val out = Seq.newBuilder[AsofMatch]
    es.foreach { e =>
      if (e.side == 0) s = AsofViewState(e.us, e.event_id, e.sec)
      else out += (
        if (s.viewUs >= 0)
          AsofMatch(e.event_id, e.user_id, Some(s.viewId),
            Some(e.sec - s.viewSec))
        else AsofMatch(e.event_id, e.user_id, None, None))
    }
    (s, out.result())
  }

  def streamAsof(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    import spark.implicits._
    val batch = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"),
        unix_micros(col("ts")).as("us"),
        when(col("event_type") === "view", 0).otherwise(1).as("side"),
        col("event_id"),
        unix_timestamp(col("ts")).as("sec"),
        col("ts"))
    val cut = lit(Sessionize.streamCut).cast("timestamp")
    val early = batch.filter(col("ts") < cut).drop("ts")
    val late = batch.filter(col("ts") >= cut).drop("ts")
    val staging = EventStream.stageReplayCached(s"sasof:$dir") {
      stageReplay(Seq(early, late))
    }
    val stream = spark.readStream
      .schema(early.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
      .as[AsofEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofViewState, AsofMatch](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[AsofEvent],
            state: GroupState[AsofViewState]) =>
          val st = state.getOption.getOrElse(AsofViewState(-1L, -1L, -1L))
          val (next, out) = fold(st,
            rows.toSeq.sortBy(e => (e.us, e.side, e.event_id)))
          state.update(next)
          out.iterator
      }
    // each purchase arrives in exactly one trigger, so the sink
    // already holds one row per purchase — no latest-update fold
    StreamRun.toSnapshot(spark, stream.toDF(), "graft_stream_asof", "update",
      identity)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_asof" -> streamAsof _)

  // THE SAME STRING as the batch as-of gate's oracle: the stream's
  // running O(1) state reproduces the full-history match, and sharing
  // the val makes the equivalence structural
  val oracles: Map[String, String] = Map(
    "stream_asof" -> graft.operators.AsofJoin.oracles("asof_join"))
}
