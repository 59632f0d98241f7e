package graft.streaming

import graft.Conf.withConf
import graft.Tables
import graft.streaming.EventStream.{stageReplay, streamShufflePartitions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

case class PatEvent(user_id: Long, k: Long, c: String)
case class PatState(nEvents: Long, nConv: Long, inCandidate: Boolean)
case class PatOut(user_id: Long, n_events: Long, n_conversions: Long)

/** Streaming CEP: the incremental form of
  * `BehaviorQueries.patternMatch` (`behavior_pattern_match`). The batch
  * gate runs a regex over each user's full event string; a stream can
  * never hold that string, so the pattern compiles to its automaton and
  * `flatMapGroupsWithState` keeps ONE automaton state per user — for
  * `c[^ep]*p` that is (event count, conversion count, in-candidate
  * flag), O(1) per key regardless of history length. This is the
  * MATCH_RECOGNIZE / Flink-CEP state story: pattern progress, not
  * events, is what persists.
  *
  * Automaton for the non-overlapping greedy scan of `c[^ep]*p`:
  * 'c' enters (or stays in) the candidate phase, 'e' kills it, 'p'
  * converts iff in-candidate (then resets — non-overlapping), other
  * events pass through. A conversion is counted at the 'p', exactly
  * where the regex closes a match, so final counts equal the batch
  * regex count — the shared oracle.
  *
  * Replay discipline (the stream-stream-join pattern): the corpus
  * splits into two time-ordered files at the second-aligned
  * [[Sessionize.streamCut]], so a user's cross-trigger event order is
  * its event-time order (the deterministic k = second-floored ts ·10^8
  * + event_id key cannot straddle the cut out of order — which
  * REQUIRES event_id < 10^8, the corpus invariant every behavior
  * gate's k-encoding already rests on; at a scale where ids exceed
  * it, widen the key, don't re-split); within a
  * trigger the group iterator sorts by k. Update mode emits each
  * touched user's running counts per trigger; the monotone event count
  * makes "latest update per user" a simple max-struct fold, asserted
  * equal to the batch gate by the spec. Per-trigger group buffers are
  * bounded by a user's events per trigger — production bounds that by
  * watermark-paced triggers, state itself never grows. */
object StreamPattern extends graft.GateModule {

  /** One automaton transition — the whole streaming operator reduces
    * to folding this over a user's events in time order, which is what
    * makes it micro-batch-split-invariant (PatternProps proves the
    * fold over ANY chunking equals the whole-string regex count). */
  def step(st: PatState, c: String): PatState = {
    val n = st.nEvents + 1
    c match {
      case "c" => PatState(n, st.nConv, inCandidate = true)
      case "e" => PatState(n, st.nConv, inCandidate = false)
      case "p" =>
        if (st.inCandidate) PatState(n, st.nConv + 1, inCandidate = false)
        else PatState(n, st.nConv, inCandidate = false)
      case _ => st.copy(nEvents = n)
    }
  }

  def streamPatternMatch(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    import spark.implicits._
    val keyScale = 100000000L
    // Replay-order correctness rests on two invariants; make a
    // violation fail loudly instead of silently reordering the replay:
    // (1) the cut must be second-aligned (k floors ts to the second, so
    // a sub-second cut could split an out-of-order boundary),
    require(java.sql.Timestamp.valueOf(Sessionize.streamCut)
      .getNanos == 0, s"streamCut ${Sessionize.streamCut} not second-aligned")
    // (2) event_id must fit under keyScale — guarded per-row inside the
    // encoding itself (raise_error in the dead branch costs nothing
    // while the invariant holds, and needs no extra pre-scan job).
    val batch = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        (unix_timestamp(date_trunc("second", col("ts"))) * keyScale +
          when(col("event_id") < keyScale, col("event_id"))
            .otherwise(raise_error(concat(lit("event_id >= 1e8 breaks the "
              + "k-encoding total order: "), col("event_id"))))).as("k"),
        substring(col("event_type"), 1, 1).as("c"),
        col("ts"))
    val cut = lit(Sessionize.streamCut).cast("timestamp")
    val early = batch.filter(col("ts") < cut).select("user_id", "k", "c")
    val late = batch.filter(col("ts") >= cut).select("user_id", "k", "c")
    val staging = EventStream.stageReplayCached(s"pat:$dir") {
      stageReplay(Seq(early, late))
    }
    val stream = spark.readStream
      .schema(early.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
      .as[PatEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PatState, PatOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[PatEvent], state: GroupState[PatState]) =>
          var st = state.getOption.getOrElse(PatState(0L, 0L, false))
          rows.toSeq.sortBy(_.k).foreach(e => st = step(st, e.c))
          state.update(st)
          Iterator.single(PatOut(uid, st.nEvents, st.nConv))
      }
    // final snapshot = latest update per user; n_events is monotone,
    // so the max struct IS the last trigger's row
    StreamRun.toSnapshot(spark, stream.toDF(), "graft_stream_pattern_match",
      "update",
      _.groupBy("user_id")
        .agg(max(struct(col("n_events"), col("n_conversions"))).as("s"))
        .select(col("user_id"), col("s.n_events").as("n_events"),
          col("s.n_conversions").as("n_conversions")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_pattern_match" -> streamPatternMatch _)

  // THE SAME STRING as the batch CEP gate's oracle — final automaton
  // counts equal the full-history regex count, and sharing the val
  // makes that equivalence structural, not copy-paste
  val oracles: Map[String, String] = Map(
    "stream_pattern_match" ->
      graft.analytics.BehaviorQueries.patternMatchOracle)
}
