package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sessionization over the events stream: a session ends after a 30-min
  * gap in a user's activity.
  *
  * Two implementations with identical semantics:
  *  - [[sessionizeBatch]]: lag + running-count windows (the batch/oracle
  *    form; one shuffle on user_id, sort within partitions);
  *  - [[sessionizeStateful]]: `flatMapGroupsWithState` (the Structured
  *    Streaming form the reference's scheduled micro-batch semantics
  *    map onto — SURVEY.md §2.8; state is one (lastTs, sessionId,
  *    count) triple per user, TTL'd by watermark in production).
  * The spec asserts both produce the same sessions.
  */
object Sessionize extends graft.GateModule {

  val gapMinutes = 30

  /** Replay split point for [[streamSessionize]]. */
  val streamCut = "2024-01-17 13:00:00"

  /** Batch form: session boundaries via lag(), ids via running count of
    * boundaries — deterministic, DuckDB-expressible. */
  def sessionizeBatch(spark: SparkSession, dir: String): DataFrame =
    sessionizeBatchDf(Tables.load(spark, dir, "events"))

  def sessionizeBatchDf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val newSession =
      when(col("prev_ts").isNull, 1L)
        .when(unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))
          > gapMinutes * 60L, 1L)
        .otherwise(0L)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new", newSession)
      .withColumn("session_id",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        date_trunc("second", min("ts")).as("session_start_s"))
  }

  case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      session_start_s: java.sql.Timestamp)
  case class SessState(lastTsMs: Long, sessionId: Long, count: Long,
      startMs: Long)

  /** Keyed-state form: one running (lastTs, sessionId, count, start)
    * record per user, exactly the state a streaming
    * `flatMapGroupsWithState` deployment would keep (with a watermark
    * TTL closing idle sessions). Driven here over bounded per-group
    * iterators via `flatMapGroups`, emitting closed sessions plus the
    * final open one — the spec asserts it matches the batch form. */
  def sessionizeStateful(spark: SparkSession, dir: String): Dataset[SessionOut] = {
    import spark.implicits._
    val evs = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id")).as[Ev]
    evs.groupByKey(_.user_id)
      .flatMapGroups { (uid, it) =>
        val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
        var st: SessState = null
        sorted.foreach { e =>
          val t = e.ts.getTime
          if (st == null) st = SessState(t, 1L, 1L, t)
          // second-truncated gap, matching the batch form's unix_timestamp
          else if (t / 1000 - st.lastTsMs / 1000 > gapMinutes * 60L) {
            out += SessionOut(uid, st.sessionId, st.count,
              new java.sql.Timestamp(st.startMs - st.startMs % 1000))
            st = SessState(t, st.sessionId + 1, 1L, t)
          } else st = st.copy(lastTsMs = t, count = st.count + 1)
        }
        if (st != null)
          out += SessionOut(uid, st.sessionId, st.count,
            new java.sql.Timestamp(st.startMs - st.startMs % 1000))
        out
      }
  }

  /** [[sessionizeBatch]] with time-bucketed chunking for pathological
    * keys: the event-level sort runs within (user_id, day) chunks, so a
    * user with billions of events no longer pins one task. Sessions are
    * built locally per chunk, then only *local-session summaries* (one
    * row per session, at most O(sessions) << O(events) for a hot key,
    * and the heavy sort is already paid) cross chunks: the first local
    * session of a chunk merges backward iff its first event is within
    * the gap of the previous chunk's last event — exactly the
    * consecutive-event test the naive form applies, so output is
    * identical (shared oracle). */
  def sessionizeChunked(spark: SparkSession, dir: String): DataFrame =
    sessionizeChunkedDf(Tables.load(spark, dir, "events"))

  def sessionizeChunkedDf(events: DataFrame): DataFrame = {
    val ev = events.withColumn("bucket", date_trunc("day", col("ts")))
    val byChunk = Window.partitionBy(col("user_id"), col("bucket"))
      .orderBy(col("ts"), col("event_id"))
    val newLocal =
      when(col("prev_ts").isNull, 1L)
        .when(unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))
          > gapMinutes * 60L, 1L)
        .otherwise(0L)
    // phase 1: local sessions within each (user, day) chunk
    val locals = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(byChunk))
      .withColumn("is_new", newLocal)
      .withColumn("ls_id",
        sum(col("is_new")).over(byChunk.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "bucket", "ls_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("first_ts"), max("ts").as("last_ts"))
    // phase 2: stitch across chunks over session summaries only
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("bucket"), col("ls_id"))
    val startsNew =
      when(col("prev_end").isNull, 1L)
        .when(col("ls_id") > 1, 1L) // born from a real in-chunk gap
        .when(unix_timestamp(col("first_ts")) - unix_timestamp(col("prev_end"))
          > gapMinutes * 60L, 1L)
        .otherwise(0L)
    locals
      .withColumn("prev_end", lag(col("last_ts"), 1).over(byUser))
      .withColumn("starts_new", startsNew)
      .withColumn("session_id",
        sum(col("starts_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(sum(col("n_events")).as("n_events"),
        date_trunc("second", min("first_ts")).as("session_start_s"))
  }

  /** Sessionization via Spark's NATIVE `session_window` aggregate — the
    * engine-provided operator (one `SessionWindow` hash-agg with window
    * merging inside the aggregation; in a streaming deployment the same
    * expression runs with a watermark that closes idle sessions and
    * evicts their state). Third implementation of the same semantics,
    * sharing the oracle with [[sessionizeBatch]]/[[sessionizeChunked]].
    *
    * Boundary alignment: the batch form starts a new session when the
    * SECOND-floored gap is strictly > 1800 s; `session_window` merges an
    * event arriving AT the previous window's end (inclusive test,
    * verified against a planted 1801 s gap), i.e. merge iff gap <= the
    * window duration. On second-floored timestamps both tests are then
    * identical at a 1800 s gap. Session ids are assigned by rank of
    * session start per user — the same time-order numbering the
    * running-sum-of-boundaries form produces. */
  def sessionizeWindow(spark: SparkSession, dir: String): DataFrame =
    sessionizeWindowDf(Tables.load(spark, dir, "events"))

  def sessionizeWindowDf(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), date_trunc("second", col("ts")).as("tss"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("session_window.start"))
    ev.groupBy(col("user_id"), session_window(col("tss"), "1800 seconds"))
      .agg(count(lit(1)).as("n_events"), min("tss").as("session_start_s"))
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_start_s"))
  }

  /** STREAMING sessionization — the production deployment shape of this
    * whole module: `session_window` over a watermarked stream in append
    * mode, so a session is emitted exactly once, when the watermark
    * passes its end, and its state is evicted (state volume = open
    * sessions only). The session-merging machinery is exercised across
    * micro-batches: the replay splits the corpus at a mid-corpus
    * timestamp, so every session spanning the cut arrives as two
    * partial sessions that the state store must merge before emission.
    *
    * Determinism harness: same single-sentinel raise as
    * `stream_tumbling_append` — the far-future file advances the
    * watermark past every real session's end and the engine's no-data
    * micro-batch applies it, flushing every real session in append
    * mode; sentinel sessions themselves never flush and are filtered
    * by user_id anyway. Output equals the batch
    * sessionization minus the session_id ordinal (append mode emits
    * sessions as watermark order dictates; the per-user ordinal is a
    * trivial downstream rank, and the oracle drops it on both sides). */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame =
    graft.Conf.withConf(spark, "spark.sql.shuffle.partitions",
      EventStream.streamShufflePartitions) {
    import spark.implicits._
    val batch = Tables.load(spark, dir, "events")
      .select(col("user_id"), date_trunc("second", col("ts")).as("tss"))
    // chosen so at least one session straddles the cut at every SF
    // (so the cross-batch merge path demonstrably runs; spec-pinned)
    val cut = lit(streamCut).cast("timestamp")
    def sentinel(ts: String) =
      Seq((-1L, java.sql.Timestamp.valueOf(ts))).toDF("user_id", "tss")
    // the sentinel rides in the LAST data file (raise at the end of
    // trigger 2, applied by the engine's no-data flush batch): the
    // cross-cut session-merge evidence keeps its two data triggers
    val staging = EventStream.stageReplayCached(s"sess:$dir") {
      EventStream.stageReplay(Seq(
        batch.filter(col("tss") < cut),
        batch.filter(col("tss") >= cut)
          .unionByName(sentinel("2200-01-01 00:00:00"))))
    }
    val stream = spark.readStream
      .schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
      .withWatermark("tss", "1 second")
      .groupBy(session_window(col("tss"), "1800 seconds"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min("tss").as("session_start_s"))
      .select(col("user_id"), col("n_events"), col("session_start_s"))
    StreamRun.toSnapshot(spark, stream, "graft_stream_sessionize", "append",
      _.filter(col("user_id") >= 0))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sessionize" -> sessionizeBatch _,
    "sessionize_chunked" -> sessionizeChunked _,
    "sessionize_window" -> sessionizeWindow _,
    "stream_sessionize" -> streamSessionize _)

  // shared by all three implementations — same semantics, same fixpoint
  private val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |m AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN prev_ts IS NULL THEN 1
      |         WHEN date_diff('second', prev_ts, ts) > 1800 THEN 1
      |         ELSE 0 END AS is_new
      |  FROM e),
      |s AS (
      |  SELECT user_id, ts,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM m)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  count(*) AS n_events,
      |  CAST(date_trunc('second', min(ts)) AS TIMESTAMP) AS session_start_s
      |FROM s GROUP BY user_id, session_id""".stripMargin

  // append mode emits sessions in watermark order, so the per-user
  // session ordinal is dropped on both sides (it's a downstream rank)
  private val sessionizeNoIdSql: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |m AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN prev_ts IS NULL THEN 1
      |         WHEN date_diff('second', prev_ts, ts) > 1800 THEN 1
      |         ELSE 0 END AS is_new
      |  FROM e),
      |s AS (
      |  SELECT user_id, ts,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM m)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(date_trunc('second', min(ts)) AS TIMESTAMP) AS session_start_s
      |FROM s GROUP BY user_id, session_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "sessionize" -> sessionizeSql,
    "sessionize_chunked" -> sessionizeSql,
    "sessionize_window" -> sessionizeSql,
    "stream_sessionize" -> sessionizeNoIdSql)
}
