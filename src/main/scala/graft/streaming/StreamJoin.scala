package graft.streaming

import graft.Conf.withConf
import graft.Tables
import graft.streaming.EventStream.{stageReplay, streamShufflePartitions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream event-time interval join (SURVEY.md §2.8 depth): the
  * click stream joined against the purchase stream per user, matching a
  * purchase to every click it follows within one hour — the attribution
  * join every event pipeline runs.
  *
  * Both sides carry watermarks, so Spark's symmetric hash join keeps
  * bounded per-side state: a click can be evicted once the purchase-side
  * watermark passes click_ts + interval (the range condition is what
  * gives the state manager its eviction bound — an unconstrained
  * stream-stream join would buffer forever). The join key is user_id, so
  * the only shuffle is the same user-keyed exchange the batch form pays;
  * state volume is O(events inside the interval horizon), independent of
  * stream length — the 100 TB/continuous story.
  *
  * Determinism harness: inner-join matches emit as soon as both sides
  * arrive (no watermark-flush dependency, unlike append-mode aggs), so
  * the emitted SET equals the batch interval join regardless of how the
  * replay is split into micro-batches; the purchase side is replayed as
  * two files to prove cross-trigger matching. The 90-day watermark
  * exceeds the corpus span, so nothing is evicted before all data is
  * processed. Gap semantics are second-floored on both engines
  * (`unix_timestamp` diff here, `date_diff('second')` in the oracle,
  * both floor); the raw-timestamp range bounds are strictly wider than
  * the floored test, so they only ever bound state, never the output. */
object StreamJoin extends graft.GateModule {

  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("cts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("pts"))
    val clickStaging = EventStream.stageReplayCached(s"ssj_c:$dir") {
      stageReplay(Seq(clicks))
    }
    val purchaseStaging = EventStream.stageReplayCached(s"ssj_p:$dir") {
      stageReplay(Seq(
        purchases.filter(col("purchase_id") % 2 === 0),
        purchases.filter(col("purchase_id") % 2 =!= 0)))
    }
    val cs = spark.readStream.schema(clicks.schema)
      .parquet(clickStaging)
      .withWatermark("cts", "90 days")
    val ps = spark.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(purchaseStaging)
      .withWatermark("pts", "90 days")
    val gap = unix_timestamp(col("pts")) - unix_timestamp(col("cts"))
    val joined = cs.join(ps,
        col("user_id") === col("p_user")
          && col("pts") >= col("cts")
          && col("pts") <= col("cts") + expr("interval 3601 seconds")
          && gap.between(1, 3600))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        gap.as("gap_s"))
    StreamRun.toSnapshot(spark, joined, "graft_stream_stream_join", "append",
      identity)
  }

  /** LEFT OUTER stream-stream join — the strictly harder shape: a
    * click with no purchase inside its hour can only emit its
    * null-padded row once the watermark PROVES no match can still
    * arrive, so null emission (unlike inner matches) is watermark-
    * driven state eviction.
    *
    * Correctness of the replay: the purchase side is split into files
    * by TIME (not id) and the watermark delay is small (1 s), so when
    * a click's state is evicted at global watermark W, every purchase
    * that could have matched it (pts <= cts + interval < W + delay)
    * was already processed in an earlier-or-same batch — a click is
    * never declared unmatched while its match is still in flight.
    * ONE sentinel row per side — riding IN the side's last data file,
    * so its raise costs no extra trigger — pushes the global
    * (min-of-sides) watermark past every real click's window; the
    * raised watermark is then APPLIED by the engine's own no-data
    * micro-batch. That flush is deterministic, not racy: the stateful
    * join reports `shouldRunAnotherBatch` when the watermark advances,
    * and `processAllAvailable` cannot return before that batch commits
    * (noNewData only flips once no further batch is required).
    * Minimal schedule: 2 data triggers + 1 no-data batch, 3 staged
    * files (r11 ran 4 data triggers over 6 files). Mid-stream
    * eviction stays exercised: the time-ordered purchase split means
    * trigger 2 evicts clicks whose windows closed under trigger 1's
    * watermark. The emitted set — matches plus exactly-once null
    * rows — is then the batch left join, which is the oracle. */
  def streamStreamLeftOuter(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("cts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("pts"))
    val cut = lit(Sessionize.streamCut).cast("timestamp")
    def sentC(ts: String) =
      Seq((-1L, -1L, java.sql.Timestamp.valueOf(ts)))
        .toDF("click_id", "user_id", "cts")
    def sentP(ts: String) =
      Seq((-1L, -1L, java.sql.Timestamp.valueOf(ts)))
        .toDF("purchase_id", "p_user", "pts")
    // sentinels RIDE IN the last data file of each side: the raise
    // lands at the end of that side's last data trigger, and the
    // engine's no-data batch applies it — one fewer trigger cycle
    // than a separate sentinel file, same emitted set (see scaladoc)
    val clickStaging = EventStream.stageReplayCached(s"ssl_c:$dir") {
      stageReplay(Seq(
        clicks.unionByName(sentC("2200-01-01 00:00:00"))))
    }
    // identical purchase schedule to the full-outer gate's — shared key
    val purchaseStaging = EventStream.stageReplayCached(s"sso_p:$dir") {
      stageReplay(Seq(
        purchases.filter(col("pts") < cut),
        purchases.filter(col("pts") >= cut)
          .unionByName(sentP("2200-01-01 00:00:00"))))
    }
    val cs = spark.readStream.schema(clicks.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(clickStaging)
      .withWatermark("cts", "1 second")
    val ps = spark.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(purchaseStaging)
      .withWatermark("pts", "1 second")
    val gap = unix_timestamp(col("pts")) - unix_timestamp(col("cts"))
    val joined = cs.join(ps,
        col("user_id") === col("p_user")
          && col("pts") >= col("cts")
          && col("pts") <= col("cts") + expr("interval 3601 seconds")
          && gap.between(1, 3600),
        "leftOuter")
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        gap.as("gap_s"))
    StreamRun.toSnapshot(spark, joined, "graft_stream_stream_left", "append",
      _.filter(col("user_id") >= 0))
  }

  /** FULL OUTER stream-stream join — both sides' unmatched rows are
    * watermark-driven: an unmatched click emits null-padded on click-
    * state eviction (as in the left join) AND an unmatched purchase
    * emits null-padded on purchase-state eviction. The left join's
    * replay-correctness argument must therefore hold symmetrically, so
    * BOTH sides are split into time-ordered files (early/late around
    * the same cut) — each side's eviction then only ever happens after
    * every event that could have matched the evicted row was processed
    * — and both sides carry ONE tail sentinel to raise the global
    * watermark, applied by the engine's no-data micro-batch (same
    * minimal raise-then-flush schedule as the left join).
    * Emitted set == the batch FULL JOIN on the same interval predicate
    * (the oracle); user_id coalesces across sides since either may be
    * null-padded. */
  def streamStreamFullOuter(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("cts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("pts"))
    val cut = lit(Sessionize.streamCut).cast("timestamp")
    def sentC(ts: String) =
      Seq((-1L, -1L, java.sql.Timestamp.valueOf(ts)))
        .toDF("click_id", "user_id", "cts")
    def sentP(ts: String) =
      Seq((-1L, -1L, java.sql.Timestamp.valueOf(ts)))
        .toDF("purchase_id", "p_user", "pts")
    // sentinels ride in the last data file per side (see the left
    // join's schedule note): 2 data triggers + the no-data flush
    val clickStaging = EventStream.stageReplayCached(s"ssf_c:$dir") {
      stageReplay(Seq(
        clicks.filter(col("cts") < cut),
        clicks.filter(col("cts") >= cut)
          .unionByName(sentC("2200-01-01 00:00:00"))))
    }
    // identical purchase schedule to the left-outer gate's — shared key
    val purchaseStaging = EventStream.stageReplayCached(s"sso_p:$dir") {
      stageReplay(Seq(
        purchases.filter(col("pts") < cut),
        purchases.filter(col("pts") >= cut)
          .unionByName(sentP("2200-01-01 00:00:00"))))
    }
    val cs = spark.readStream.schema(clicks.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(clickStaging)
      .withWatermark("cts", "1 second")
    val ps = spark.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(purchaseStaging)
      .withWatermark("pts", "1 second")
    val gap = unix_timestamp(col("pts")) - unix_timestamp(col("cts"))
    val joined = cs.join(ps,
        col("user_id") === col("p_user")
          && col("pts") >= col("cts")
          && col("pts") <= col("cts") + expr("interval 3601 seconds")
          && gap.between(1, 3600),
        "fullOuter")
      .select(col("click_id"), col("purchase_id"),
        coalesce(col("user_id"), col("p_user")).as("uid"),
        gap.as("gap_s"))
    StreamRun.toSnapshot(spark, joined, "graft_stream_stream_full", "append",
      _.filter(col("uid") >= 0))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_stream_join" -> streamStreamJoin _,
    "stream_stream_left" -> streamStreamLeftOuter _,
    "stream_stream_full" -> streamStreamFullOuter _)

  val oracles: Map[String, String] = Map(
    // the emitted match set == the batch interval join
    "stream_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id, date_diff('second', c.ts, p.ts) AS gap_s
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND date_diff('second', c.ts, p.ts) BETWEEN 1 AND 3600""".stripMargin,
    // matches plus exactly-once null rows == the batch LEFT join
    "stream_stream_left" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id, date_diff('second', c.ts, p.ts) AS gap_s
        |FROM events c LEFT JOIN events p ON c.user_id = p.user_id
        |  AND p.event_type = 'purchase'
        |  AND date_diff('second', c.ts, p.ts) BETWEEN 1 AND 3600
        |WHERE c.event_type = 'click'""".stripMargin,
    // matches + exactly-once null rows on BOTH sides == batch FULL join
    "stream_stream_full" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS cts
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS pts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, p.purchase_id,
        |  coalesce(c.user_id, p.p_user) AS uid,
        |  date_diff('second', c.cts, p.pts) AS gap_s
        |FROM c FULL JOIN p ON c.user_id = p.p_user
        |  AND date_diff('second', c.cts, p.pts) BETWEEN 1 AND 3600""".stripMargin)
}
