package graft.streaming

import graft.Conf.withConf
import graft.Tables
import graft.Tables.dsum
import graft.store.Staging
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Row/state shapes for the delta-emitting LWW upsert (top-level so the
  * case-class encoders are stable across the streaming checkpoint). */
case class UpsertEvent(event_id: Long, version: Long, value: Double)
case class UpsertState(version: Long, value: Double)

/** Row shapes for the continuous near-dup detector: the raw document,
  * one LSH band bucket hit per (doc, band), and one emitted dup flag
  * per (doc, band) whose bucket had an earlier occupant. */
case class DocText(doc_id: Long, text: String)
case class BandHit(band_id: Int, bucket: Long, doc_id: Long)
case class DupBand(doc_id: Long, band_id: Int)

/** Band hit carrying the synthetic event time (doc_id as crawl clock)
  * for the TTL-bounded registry's watermark + timers. */
case class BandHitT(band_id: Int, bucket: Long, doc_id: Long,
    ts: java.sql.Timestamp)

/** Structured Streaming surface (SURVEY.md §2.8): the reference's
  * scheduled micro-batch dataflow expressed as a real streaming query.
  *
  * The gate query replays the `events` parquet through a file streaming
  * source into a tumbling 1-hour event-time aggregation and returns the
  * final (complete-mode) result — which must equal the batch
  * `window_tumbling` query bit-for-bit; the DuckDB oracle is shared.
  * On a cluster the same plan runs continuously with
  * `withWatermark("ts", ...)` + append mode and a real sink; complete
  * mode + memory sink is the deterministic offline harness form.
  */
object EventStream extends graft.GateModule {

  def streamTumbling(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    val stream = Tables.stream(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
    StreamRun.toSnapshot(spark, stream, "graft_stream_tumbling", "complete",
      identity)
  }

  /** Shuffle partitions of every streaming gate, set for the gate with
    * [[graft.Conf.withConf]] (gates run sequentially, so a scoped
    * override is race-free). Streaming state operators allocate one
    * state-store task per shuffle partition per trigger; the batch
    * default (cores-count) means tiny-state queries pay 32 store
    * open/commit cycles per trigger for no parallelism gain. On a
    * cluster this is `spark.sql.streaming.numStatePartitions`-style
    * sizing: state partitions should track state volume, not core
    * count. */
  // 4, not 8, since round 9: A/B on the five heaviest stream gates at
  // sf0.1 (min-of-3 each) measured 8 -> 20.26 s, 4 -> 18.54 s,
  // 2 -> 20.25 s — store open/commit overhead falls to 4 and compute
  // serialization takes over below it. Output-invariant (ConfParitySpec
  // sweeps the partition axis); STREAMSCALE.json state totals are
  // partition-count-independent.
  private[streaming] val streamShufflePartitions = "4"

  /** The state store the transformWithState (state v2) gates need:
    * the API requires RocksDB, so those gates set it with `withConf`. */
  private val stateStoreProvider = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Land ONE DataFrame as a single parquet file `staging/<name>` with
    * a back-dated mtime at slot order `slot` — the unit step of replay
    * staging, shared by [[stageReplay]] (all frames up front) and
    * StreamCheckpoint (frames landed across query restarts). */
  private[streaming] def stageFile(df: org.apache.spark.sql.DataFrame,
      work: java.nio.file.Path, staging: java.nio.file.Path,
      name: String, slot: Int,
      // callers that already stamped OTHER slots must thread their t0
      // (a fresh now-based t0 after a >60 s write job could overtake
      // the next slot's mtime and silently reorder the replay)
      t0: Long = System.currentTimeMillis() - 600000L): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = work.resolve(s"w$slot").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-")
        && f.getName.endsWith(".parquet")).get
    val dest = staging.resolve(name)
    Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
    // replay ORDER rides on these mtimes (file source processes
    // oldest-first); a silently failed write would let natural sub-ms
    // write times interleave micro-batches and produce a wrong-order
    // replay with no error pointing here — fail loudly instead
    require(dest.toFile.setLastModified(t0 + slot * 60000L),
      s"setLastModified failed on $dest — staged replay order would be undefined")
  }

  /** Stage DataFrames as one parquet file each in a fresh directory with
    * strictly ascending modification times, so a file streaming source
    * with `maxFilesPerTrigger=1` replays them as ordered micro-batches
    * (the source processes oldest mtime first). Every dir is a
    * [[graft.store.Staging.gateDir]], deleted by the reset after each
    * gate (safe — each gate materializes its memory-sink snapshot
    * before returning, so nothing re-reads staging).
    *
    * One frame is one coalesce(1) write ([[stageFile]]). Several frames
    * must share a schema (`unionByName` fails loudly otherwise) and
    * take ONE write job: union them with a slot column, repartition on
    * it (all of a slot's rows land in exactly one task, so
    * `partitionBy` writes exactly one part file per slot dir), then
    * move each slot's file into replay position with the ordered
    * mtimes. A per-frame write is a separate Spark JOB — 7 jobs for the
    * watermarked-dedup replay, 63 for the fixed-rate history sweep —
    * pure harness tax the union removes. A slot with no rows writes no
    * dir and falls back to the per-frame empty write, keeping the
    * batch-count contract exact. */
  private[streaming] def stageReplay(frames: Seq[DataFrame]): String = {
    import java.nio.file.{Files, StandardCopyOption}
    val work = Staging.gateDir("graft_stream_replay")
    val staging = work.resolve("input")
    Files.createDirectories(staging)
    // one t0 for ALL slots: stageFile's own default recomputes "now",
    // which after a >60 s write job would overtake the following
    // slot's mtime and reorder the replay
    val t0 = System.currentTimeMillis() - 600000L
    if (frames.size == 1) stageFile(frames.head, work, staging, "b00.parquet", 0, t0)
    else {
      val slotted = frames.zipWithIndex
        .map { case (df, i) => df.withColumn("__slot", lit(i)) }
        .reduce(_.unionByName(_))
      val tmp = work.resolve("u").toString
      slotted.repartition(col("__slot")).write
        .partitionBy("__slot").mode("overwrite").parquet(tmp)
      frames.indices.foreach { i =>
        val parts = Option(new java.io.File(tmp, s"__slot=$i").listFiles())
          .map(_.filter(f => f.getName.startsWith("part-")
            && f.getName.endsWith(".parquet")).toSeq)
          .getOrElse(Seq.empty)
        val dest = staging.resolve(f"b$i%02d.parquet")
        if (parts.isEmpty)
          stageFile(frames(i).limit(0), work, staging, f"b$i%02d.parquet", i, t0)
        else {
          // one partition per slot by construction; more files would
          // silently split a micro-batch — fail loudly instead
          require(parts.size == 1,
            s"slot $i wrote ${parts.size} files — replay batching undefined")
          Files.move(parts.head.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
          require(dest.toFile.setLastModified(t0 + i * 60000L),
            s"setLastModified failed on $dest — staged replay order would be undefined")
        }
      }
    }
    staging.toString
  }

  /** Per-JVM cache of FULLY STAGED replay-input directories, keyed by
    * a caller-supplied key that must DETERMINE the staged content —
    * include the corpus dir; within one JVM the corpus files are
    * immutable.
    *
    * First call per key runs `build` (a [[stageReplay]]) and
    * copies the resulting input files into a shutdown-scoped cache
    * dir; later calls materialize a fresh staging dir from the cached
    * bytes with re-applied ascending replay mtimes — no Spark write
    * jobs at all. Replay staging is HARNESS cost, not operator cost:
    * a bench sweep runs each gate 2-3 passes, and gates share source
    * schedules (the three upsert forms stage identical frames; both
    * outer joins stage the same purchase files), so without this
    * every pass pays the same coalesce(1)/union write jobs again.
    * A gate's FIRST run in a JVM still pays the build (cache miss);
    * min-of-passes therefore reads the cached form.
    * The gate reset never touches the cache (per-gate staging dirs
    * stay per-gate); cache dirs are JVM-scoped. */
  private[streaming] def stageReplayCached(key: String)
      (build: => String): String = {
    import java.nio.file.{Files, StandardCopyOption}
    val hit = replayDirCache.get(key)
    if (hit == null) {
      val src = java.nio.file.Paths.get(build)
      val d = Staging.jvmDir("graft_replay_cache")
      Option(src.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.copy(f.toPath, d.resolve(f.getName),
          StandardCopyOption.REPLACE_EXISTING))
      // losing a (theoretical) publish race just strands one cache dir
      // until JVM exit — gates run sequentially in practice
      replayDirCache.putIfAbsent(key, d)
      return src.toString
    }
    val work = Staging.gateDir("graft_stream_replay")
    val staging = work.resolve("input")
    Files.createDirectories(staging)
    // slot order = the b<NN>.parquet naming stageReplay uses; sort
    // numerically (b100 would sort before b99 lexically)
    val named = Option(hit.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet"))
      .sortBy(f => scala.util.Try(
        f.getName.stripPrefix("b").stripSuffix(".parquet").toInt)
        .getOrElse(Int.MaxValue))
    val t0 = System.currentTimeMillis() - 600000L
    named.zipWithIndex.foreach { case (f, i) =>
      val dest = staging.resolve(f.getName)
      Files.copy(f.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      require(dest.toFile.setLastModified(t0 + i * 60000L),
        s"setLastModified failed on $dest — staged replay order would be undefined")
    }
    staging.toString
  }

  private val replayDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** Delete every gate-scoped scratch dir created so far (see
    * [[graft.store.Staging.purgeGateDirs]]). */
  def purgeStaging(): Unit = Staging.purgeGateDirs()

  /** Append-mode + watermark variant of the tumbling aggregation — the
    * production streaming shape (complete mode re-emits everything each
    * trigger; append emits each window exactly once, when the watermark
    * passes its end, which is what a sink at scale needs).
    *
    * Determinism harness: the events are replayed as ONE file, followed
    * by one far-future sentinel file (ascending mtimes +
    * maxFilesPerTrigger=1 force ordered micro-batches, since the file
    * source processes oldest-mtime first). The sentinel batch raises
    * the watermark past every real window's end, and the engine's own
    * no-data micro-batch applies it, flushing them all in append mode
    * (deterministic: the stateful agg reports shouldRunAnotherBatch on
    * watermark advance, and processAllAvailable cannot return before
    * that batch commits); sentinel windows themselves are never
    * flushed and are filtered by the far-future cutoff anyway. Output
    * therefore equals the batch tumbling aggregation — the oracle is
    * shared. */
  def streamTumblingAppend(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    val batch = Tables.load(spark, dir, "events")
      .select(col("ts"), col("event_type"), col("value"))
    import spark.implicits._
    def sentinel(ts: String) =
      Seq((java.sql.Timestamp.valueOf(ts), "sentinel", 0.0))
        .toDF("ts", "event_type", "value")
    val staging = stageReplayCached(s"tumbapp:$dir") {
      stageReplay(Seq(batch, sentinel("2200-01-01 00:00:00")))
    }
    val stream = spark.readStream
      .schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
      .withWatermark("ts", "1 second")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("cnt"), col("val_sum"))
    StreamRun.toSnapshot(spark, stream, "graft_stream_append", "append",
      _.filter(col("hour_start") < lit("2100-01-01").cast("timestamp")))
  }

  /** Cross-batch streaming dedup: the corpus is replayed TWICE (one file
    * per micro-batch), so every second-batch row is a duplicate arriving
    * from a different trigger; `dropDuplicatesWithinWatermark` keys
    * per-event state that drops them all, because the 90-day horizon
    * exceeds the corpus' 30-day span (at production scale the horizon is
    * the allowed-lateness bound and state TTLs out behind the
    * watermark — eviction behavior is spec-covered in StreamingSpec).
    * Output is therefore exactly the distinct corpus: the oracle is a
    * plain scan of `events`. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    val batch = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
    val staging = stageReplayCached(s"sdedup:$dir") {
      stageReplay(Seq(batch, batch))
    }
    val stream = spark.readStream
      .schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
      .withWatermark("ts", "90 days")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_trunc("second", col("ts")).as("ts_s"), col("value"))
    StreamRun.toSnapshot(spark, stream, "graft_stream_dedup", "append", identity)
  }

  /** TTL-bounded streaming dedup — the 100 TB form of [[streamDedup]].
    *
    * [[streamDedup]]'s 90-day horizon exceeds the corpus span, so its
    * per-event state never evicts: STREAMSCALE measured state_growth
    * 10.0 at 10× input — exact-forever dedup is linear in keys ever
    * seen, by definition. This gate runs the SAME
    * `dropDuplicatesWithinWatermark` operator the way a deployment
    * actually bounds it: the corpus replays as event-time-ordered
    * 5-day micro-batches (each batch also carrying a duplicate copy of
    * the PREVIOUS slice, so every duplicate arrives one trigger after
    * its original — inside the horizon), under a 3-day watermark
    * delay. The watermark then advances batch by batch and the state
    * store retains only keys newer than (watermark − delay) — end
    * state is the horizon tail and peak adds the in-flight slice +
    * its duplicate copy — rate × horizon either way, independent of
    * HISTORY length, which is the bound that matters on an unbounded
    * stream (STREAMSCALE's `_history` row measures exactly that:
    * fixed-rate 10× history, flat peak state). On this corpus a 10×
    * SF is 10× RATE over the same 30-day span, so peak state still
    * scales with rate — the plateau this gate demonstrates is
    * eviction: end-state ≪ peak ≪ keys-ever, and per-batch state
    * stabilizes after the horizon warm-up instead of growing with
    * every batch.
    *
    * Correctness is exact despite the TTL because the replay is
    * event-time ordered and each duplicate lands one trigger after its
    * original, when its key's state is provably still live: after
    * batch k−1 the store retains t > maxTs(k−1) − 2·delay = −6 d, and
    * all of slice k−1 has t > maxTs(k−1) − 5 d, strictly newer (the
    * general rule: slice width < 2·delay; 5-day slices are the widest
    * whole-day slices a 3-day delay admits, chosen in r11 to cut the
    * replay from 11 to 7 triggers — the trigger cycles are harness
    * cost, not operator cost, and output is batch-count-invariant).
    * First occurrences are never late (slice k's min ts exceeds the
    * watermark set by slice k−1) and duplicates dropped as either
    * state-hits or late rows are duplicates either way — so output is
    * exactly the distinct corpus and the gate shares [[streamDedup]]'s
    * plain-scan oracle. */
  def streamDedupWatermarked(spark: SparkSession, dir: String): DataFrame =
    streamDedupWatermarkedOn(spark,
      Tables.load(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value")),
      cacheKey = Some(s"wmdedup:$dir"))

  /** [[streamDedupWatermarked]] over a caller-owned events frame — the
    * form the STREAMSCALE fixed-rate history sweep feeds with a
    * time-stretched corpus (same rate, 10× span) to demonstrate state
    * ∝ rate × horizon, independent of history length. */
  private[graft] def streamDedupWatermarkedOn(spark: SparkSession,
      events: DataFrame, cacheKey: Option[String] = None): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    val batch = events
    // The span agg, the slice checkpoint, and the slice writes are all
    // replay-harness construction — inside the build closure so a
    // cache hit (gate form, pass 2+) skips every one of them.
    def buildStaging(): String = {
      val span = batch.agg(min(to_date(col("ts"))), max(to_date(col("ts"))))
        .head() // 1-row bounded agg
      val d0 = span.getDate(0)
      val nDays = java.time.temporal.ChronoUnit.DAYS
        .between(d0.toLocalDate, span.getDate(1).toLocalDate).toInt + 1
      // 5-day event-time slices COVERING the measured span (a hardcoded
      // count would silently drop events past its horizon if the corpus
      // generator ever widens the 30-day window); batch k carries slice
      // k PLUS a duplicate copy of slice k-1 (one trailing all-duplicate
      // batch flushes the last slice's copies), so every duplicate
      // arrives one trigger after its original — provably inside the
      // live-state horizon (slice width 5 d < 2·delay = 6 d, see the
      // scaladoc proof). One staged file per batch, not per (slice,
      // copy): the staging writes and triggers are harness cost, not
      // operator cost (a first cut with 30 files spent 12.6 s mostly
      // staging + trigger cycles; 3-day slices still paid 11 triggers).
      val staged = batch.localCheckpoint(true) // slice writes read blocks, not parquet
      val sliceDays = 5
      val nSlices = (nDays + sliceDays - 1) / sliceDays
      def slice(i: Int) = staged.filter(
        datediff(to_date(col("ts")), lit(d0)) >= i * sliceDays &&
          datediff(to_date(col("ts")), lit(d0)) < (i + 1) * sliceDays)
      val frames = (0 to nSlices).map { k =>
        if (k == 0) slice(0)
        else if (k < nSlices) slice(k).unionByName(slice(k - 1))
        else slice(nSlices - 1)
      }
      stageReplay(frames)
    }
    val staging = cacheKey.fold(buildStaging())(k =>
      stageReplayCached(k)(buildStaging()))
    val stream = spark.readStream
      .schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
      .withWatermark("ts", "3 days")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_trunc("second", col("ts")).as("ts_s"), col("value"))
    StreamRun.toSnapshot(spark, stream, "graft_stream_dedup_wm", "append", identity)
  }

  /** Streaming keyed upsert (M3 in streaming form): version 1 of every
    * key and version 2 of a subset replay as separate micro-batches; a
    * complete-mode max-of-struct aggregation holds last-writer-wins
    * state per key, so the final snapshot equals the batch upsert of
    * the union. LWW-as-algebraic-aggregate is the point: late or
    * duplicate data folds into state without reprocessing, the same
    * single-exchange shape as the batch `Upsert.upsert` merge.
    *
    * Perf note (r6→r7): the full-suite bench showed 2.17→4.06 s at
    * sf0.1; isolated min-of-2 at the driver's exact config (CPUS=32)
    * measures 2.48 s — the drift is suite-context pressure (heap/GC +
    * temp-FS load from 295 preceding queries around a complete-mode
    * snapshot sink), not a plan change. The O(keys)-per-trigger
    * complete-mode cost is the documented non-scale demo; the delta-
    * emitting [[streamUpsertDeltasTws]] is the production form. */
  def streamUpsertLatest(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    val v1 = Tables.load(spark, dir, "events")
      .select(col("event_id"), lit(1L).as("version"), col("value"))
    val v2 = v1.filter(col("event_id") % 3 === 0)
      .withColumn("version", lit(2L))
      .withColumn("value", col("value") + 1.0)
    // all three upsert forms (complete-mode, fMGWS, transformWithState)
    // stage the IDENTICAL v1/v2 schedule — one shared cache key
    val staging = stageReplayCached(s"upsert_v1v2:$dir") {
      stageReplay(Seq(v1, v2))
    }
    val stream = spark.readStream
      .schema(v1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
      .groupBy("event_id")
      .agg(max(struct(col("version"), col("value"))).as("latest"),
        count(lit(1)).as("n_versions"))
      .select(col("event_id"), col("latest.version").as("version"),
        col("latest.value").as("value"), col("n_versions"))
    StreamRun.toSnapshot(spark, stream, "graft_stream_upsert", "complete", identity)
  }

  /** Delta-emitting streaming LWW upsert — the production form of
    * [[streamUpsertLatest]] at large key cardinality: complete mode
    * re-emits the FULL key space every trigger (O(keys) sink traffic);
    * this variant keys LWW state with `flatMapGroupsWithState` in
    * update mode and emits a row only when a key's winning
    * (version, value) actually changes, so sink traffic per trigger is
    * O(changed keys). Trigger 1 (all keys new) emits every key at
    * version 1; trigger 2 (a mod-3 subset replayed at version 2) emits
    * only that subset. The emitted delta log is deterministic — each
    * (event_id, version) appears exactly once — and folding it by
    * max-version reconstructs the complete-mode snapshot, which
    * StreamingSpec asserts. */
  def streamUpsertDeltas(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    import spark.implicits._
    val v1 = Tables.load(spark, dir, "events")
      .select(col("event_id"), lit(1L).as("version"), col("value"))
    val v2 = v1.filter(col("event_id") % 3 === 0)
      .withColumn("version", lit(2L))
      .withColumn("value", col("value") + 1.0)
    val staging = stageReplayCached(s"upsert_v1v2:$dir") {
      stageReplay(Seq(v1, v2))
    }
    val lww = Ordering.by[UpsertState, (Long, Double)](s => (s.version, s.value))
    val stream = spark.readStream
      .schema(v1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
      .as[UpsertEvent]
      .groupByKey(_.event_id)
      .flatMapGroupsWithState[UpsertState, UpsertEvent](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (id: Long, rows: Iterator[UpsertEvent], state: GroupState[UpsertState]) =>
          val incoming = rows.map(r => UpsertState(r.version, r.value)).max(lww)
          val next = state.getOption.fold(incoming)(lww.max(_, incoming))
          if (state.getOption.contains(next)) Iterator.empty
          else {
            state.update(next)
            Iterator.single(UpsertEvent(id, next.version, next.value))
          }
      }
    StreamRun.toSnapshot(spark, stream.toDF(), "graft_stream_upsert_deltas", "update", identity)
  }

  /** The arrival-time state-v2 form of the delta-emitting LWW upsert:
    * a `transformWithState` StatefulProcessor holding one ValueState
    * per key. Same emit-only-on-change contract as
    * [[streamUpsertDeltas]] (the two share an oracle); what state v2
    * adds for production is native per-key TTL (`TTLConfig` instead of
    * hand-rolled timeout handling), timers, and state schema
    * evolution, on the RocksDB state store the API requires. */
  class LwwProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, UpsertEvent, UpsertEvent] {
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[UpsertState] = _
    private val lww =
      Ordering.by[UpsertState, (Long, Double)](s => (s.version, s.value))
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[UpsertState]("lww",
        org.apache.spark.sql.Encoders.product[UpsertState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UpsertEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UpsertEvent] = {
      val incoming = rows.map(r => UpsertState(r.version, r.value)).max(lww)
      val cur = if (state.exists()) Some(state.get()) else None
      val next = cur.fold(incoming)(lww.max(_, incoming))
      if (cur.contains(next)) Iterator.empty
      else {
        state.update(next)
        Iterator.single(UpsertEvent(key, next.version, next.value))
      }
    }
  }

  /** [[streamUpsertDeltas]] via transformWithState ([[LwwProcessor]]).
    * RocksDB state store is a hard requirement of the state-v2 API;
    * the conf flips for this query and is restored after. */
  def streamUpsertDeltasTws(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    import spark.implicits._
    withConf(spark, stateStoreProvider, rocksDb) {
      val v1 = Tables.load(spark, dir, "events")
        .select(col("event_id"), lit(1L).as("version"), col("value"))
      val v2 = v1.filter(col("event_id") % 3 === 0)
        .withColumn("version", lit(2L))
        .withColumn("value", col("value") + 1.0)
      val staging = stageReplayCached(s"upsert_v1v2:$dir") {
        stageReplay(Seq(v1, v2))
      }
      val stream = spark.readStream
        .schema(v1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
        .as[UpsertEvent]
        .groupByKey(_.event_id)
        .transformWithState(new LwwProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      StreamRun.toSnapshot(spark, stream.toDF(), "graft_stream_upsert_tws", "update",
        identity)
    }
  }

  /** Bucket registry for the continuous near-dup detector: per LSH
    * (band, bucket) key, one ValueState holding the MINIMUM doc_id
    * ever seen in that bucket. Every arriving doc that is not the
    * bucket minimum (counting both prior state and smaller ids in the
    * same micro-batch) is flagged — so a doc is emitted exactly when
    * an earlier doc (smaller id, = earlier arrival under ordered
    * replay) shares the bucket, which is precisely the batch LSH
    * candidate condition. State is O(distinct buckets), 16 bytes a
    * row in RocksDB — dedup-against-all-history without holding any
    * document content; production would add a TTLConfig horizon. */
  class BucketMinProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[(Int, Long), BandHit, DupBand] {
    @transient private var minSeen:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      minSeen = getHandle.getValueState[Long]("min_doc",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: (Int, Long), rows: Iterator[BandHit],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[DupBand] = {
      // bounded by this bucket's occupancy within ONE micro-batch
      val ids = rows.map(_.doc_id).toArray
      val prior = if (minSeen.exists()) Some(minSeen.get()) else None
      val globalMin = prior.fold(ids.min)(math.min(_, ids.min))
      minSeen.update(globalMin)
      ids.iterator.filter(_ != globalMin).map(DupBand(_, key._1))
    }
  }

  /** Continuous MinHash-LSH near-duplicate detection — the streaming
    * twin of the batch `dedup_minhash_bands` gate and the shape a
    * 100 TB ingest pipeline actually runs: documents arrive, each is
    * checked against ALL history, and the only state is the bucket
    * registry (4 longs per doc ever seen — never document content).
    * Per-row compiled signatures
    * ([[graft.operators.Dedup.bandHitsLocal]] via `mapPartitions` —
    * the Column HOF form is CodegenFallback and measured 81 s at
    * sf0.1) keep the plan a stateless map into ONE stateful operator;
    * the corpus replays in four ascending-doc_id batches so "earlier
    * doc" means both smaller id and earlier arrival. Output: per
    * document, how many of its 4 bands had an earlier occupant, and
    * the dup flag — oracle-checked against the batch bucket function
    * in DuckDB. */
  def streamNearDupMinhash(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    import spark.implicits._
    withConf(spark, stateStoreProvider, rocksDb) {
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val staging = stageReplayCached(s"ndmh:$dir") {
        // 1-row bounded agg: replay cut points, not data, reach the driver
        val mx = docs.agg(max("doc_id")).head().getLong(0)
        val cuts = Seq(mx / 4, mx / 2, 3 * mx / 4)
        val parts = Seq(
          docs.filter(col("doc_id") <= cuts(0)),
          docs.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1)),
          docs.filter(col("doc_id") > cuts(1) && col("doc_id") <= cuts(2)),
          docs.filter(col("doc_id") > cuts(2)))
        stageReplay(parts)
      }
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(staging)
        .as[DocText]
        .mapPartitions(_.flatMap { d =>
          graft.operators.Dedup.bandHitsLocal(d.text)
            .iterator.map { case (b, bk) => BandHit(b, bk, d.doc_id) }
        })
        .groupByKey(r => (r.band_id, r.bucket))
        .transformWithState(new BucketMinProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      // batch readout over the collected emissions: flags per doc,
      // zero-filled from the static doc list
      StreamRun.toSnapshot(spark, stream.toDF(), "graft_stream_neardup", "update",
        sink => docs.select("doc_id")
          .join(sink.groupBy("doc_id")
            .agg(count_distinct(col("band_id")).as("n_dup_bands")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_dup_bands"), lit(0L)).as("n_dup_bands"),
            (coalesce(col("n_dup_bands"), lit(0L)) > 0).cast("long")
              .as("is_dup")))
    }
  }

  /** Synthetic crawl clock for the TTL'd near-dup registry: doc_id
    * IS the arrival order in this corpus, so event time is
    * `epoch0 + doc_id` seconds — engine-portable integer arithmetic
    * the oracle reproduces as plain id differences. */
  private[streaming] val nearDupEpoch0 = 1700000000L

  /** Recency horizon for [[streamNearDupTtl]], in doc_ids (= seconds
    * of the synthetic clock): 1/5 of the id space, so the horizon is
    * scale-free and strictly smaller than the quartile replay batches
    * (eviction provably fires mid-replay at every SF). */
  private[graft] def nearDupHorizon(maxDocId: Long): Long = maxDocId / 5

  /** TTL-bounded bucket registry: per (band, bucket), the MOST RECENT
    * occupant doc_id (max — order-independent within a batch after the
    * in-group sort), flagging an arrival whose distance to the
    * previous occupant is within the horizon, and EVICTING buckets
    * untouched for a horizon via event-time timers. Eviction is
    * provably lossless for the flag semantics: a bucket is cleared
    * only when `watermark > ts(occupant) + w`, and any later arrival d
    * has ts(d) > watermark, so d − occupant > w — it would not have
    * been flagged against that occupant anyway. One live timer per
    * bucket (the stale one is deleted on re-touch), so timer state is
    * bounded by live buckets too. */
  class BucketRecentProcessor(w: Long, epoch0: Long)
      extends org.apache.spark.sql.streaming
      .StatefulProcessor[(Int, Long), BandHitT, DupBand] {
    @transient private var last:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    private def expiryMs(occ: Long): Long = (epoch0 + occ + w + 1) * 1000L
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      last = getHandle.getValueState[Long]("last_doc",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: (Int, Long), rows: Iterator[BandHitT],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[DupBand] = {
      // bounded by this bucket's occupancy within ONE micro-batch;
      // ascending-id order makes the fold arrival-order-independent
      val ids = rows.map(_.doc_id).toArray.sorted
      val prior = if (last.exists()) Some(last.get()) else None
      var occ = prior.getOrElse(Long.MinValue)
      val out = Array.newBuilder[DupBand]
      for (d <- ids) {
        if (occ != Long.MinValue && d - occ <= w) out += DupBand(d, key._1)
        if (d > occ) occ = d
      }
      last.update(occ)
      prior.filter(_ != occ).foreach(p => getHandle.deleteTimer(expiryMs(p)))
      if (prior.forall(_ != occ)) getHandle.registerTimer(expiryMs(occ))
      out.result().iterator
    }
    override def handleExpiredTimer(key: (Int, Long),
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[DupBand] = {
      // a re-touch deletes its stale timer, but be defensive: only
      // clear when the CURRENT occupant is really past the horizon
      if (last.exists() &&
          expiryMs(last.get()) <= expiredTimerInfo.getExpiryTimeInMs)
        last.clear()
      Iterator.empty
    }
  }

  /** TTL-BOUNDED continuous near-dup — the 100 TB form of
    * [[streamNearDupMinhash]], whose registry holds 4 buckets per doc
    * EVER seen (dedup-against-all-history cannot forget; STREAMSCALE
    * measured its state linear in docs). Real ingest pipelines dedup
    * against a RECENCY WINDOW — "is this a re-crawl of something seen
    * this week" — and that form has rate × horizon state: the same
    * band-bucket registry, but per bucket the most recent occupant
    * only, flags limited to arrivals within `w` of the previous
    * occupant, and buckets untouched for a horizon evicted by
    * event-time timers (doc_id doubles as the crawl clock via a
    * synthetic timestamp; watermark delay 0 — the replay is
    * id-ordered). Same stateless compiled-signature map into ONE
    * stateful operator; output is per document the number of
    * recently-occupied bands and the recent-dup flag, oracle-checked
    * against a lag-window over the batch bucket function in DuckDB
    * (previous occupant = lag(doc_id) per bucket in id order; flag =
    * distance ≤ w — eviction provably never changes a flag, see
    * [[BucketRecentProcessor]]). */
  def streamNearDupTtl(spark: SparkSession, dir: String): DataFrame =
    streamNearDupTtlOn(spark,
      Tables.load(spark, dir, "documents").select(col("doc_id"), col("text")),
      horizonOverride = None, cacheKey = Some(s"ndttl:$dir"))

  /** [[streamNearDupTtl]] over a caller-owned docs frame with an
    * optional FIXED horizon and an optional fixed id-width replay
    * batching — the STREAMSCALE fixed-rate history sweep holds the
    * horizon at the short corpus' value while the id-clock history
    * grows 10×, demonstrating peak state ∝ rate × horizon independent
    * of history length. The fixed batch width matters for that
    * measurement: event-time TIMERS only fire at micro-batch
    * boundaries (the watermark is frozen within a batch), so a replay
    * whose batches scale with the corpus (the gate's quartiles) makes
    * PEAK state track batch size, a harness artifact — batches of a
    * fixed id width keep eviction firing at the same cadence at every
    * history length, so peak measures the operator's rate × horizon
    * bound. (The gate form keeps quartiles: its oracle and its
    * eviction-fires-mid-replay narrative are scale-free by mx/5.) */
  private[graft] def streamNearDupTtlOn(spark: SparkSession,
      docsIn: DataFrame, horizonOverride: Option[Long],
      batchIdWidth: Option[Long] = None,
      cacheKey: Option[String] = None): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    import spark.implicits._
    withConf(spark, stateStoreProvider, rocksDb) {
      val docs = docsIn
      // 1-row bounded agg: replay cut points, not data, reach the driver
      val mx = docs.agg(max("doc_id")).head().getLong(0)
      val w = horizonOverride.getOrElse(nearDupHorizon(mx))
      // interior cut points: ascending-id ranges (lo, hi]
      val cuts: Seq[Long] = batchIdWidth match {
        case Some(wd) => (wd until mx by wd).toSeq
        case None => Seq(mx / 4, mx / 2, 3 * mx / 4)
      }
      val parts = (Long.MinValue +: cuts).zip(cuts :+ Long.MaxValue)
        .map { case (lo, hi) =>
          docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
        }
      val staging = cacheKey.fold(stageReplay(parts))(k =>
        stageReplayCached(k)(stageReplay(parts)))
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(staging)
        .withColumn("ts", timestamp_seconds(lit(nearDupEpoch0) + col("doc_id")))
        .withWatermark("ts", "0 seconds")
        .as[(Long, String, java.sql.Timestamp)]
        .mapPartitions(_.flatMap { case (id, text, ts) =>
          graft.operators.Dedup.bandHitsLocal(text)
            .iterator.map { case (b, bk) => BandHitT(b, bk, id, ts) }
        })
        .groupByKey(r => (r.band_id, r.bucket))
        .transformWithState(new BucketRecentProcessor(w, nearDupEpoch0),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Update())
      StreamRun.toSnapshot(spark, stream.toDF(), "graft_stream_neardup_ttl",
        "update",
        sink => docs.select("doc_id")
          .join(sink.groupBy("doc_id")
            .agg(count_distinct(col("band_id")).as("n_dup_bands_recent")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_dup_bands_recent"), lit(0L))
              .as("n_dup_bands_recent"),
            (coalesce(col("n_dup_bands_recent"), lit(0L)) > 0).cast("long")
              .as("is_dup_recent")))
    }
  }

  /** Static dimension for stream enrichment: event_type -> engagement
    * class. A literal table so the gate is deterministic; in production
    * this is any slowly-changing dim the stream joins against. */
  val typeDim: Seq[(String, String)] = Seq(
    ("click", "interactive"), ("purchase", "interactive"),
    ("signup", "interactive"), ("view", "passive"), ("error", "ops"))

  /** Stream-static join: each micro-batch of the streaming fact is
    * enriched against a static dimension (planned as a broadcast hash
    * join inside every trigger — the standard production shape for
    * dimension lookup on a stream; the static side re-resolves per
    * batch, so a dim refresh is picked up without restarting the
    * query), then aggregated per enrichment class in complete mode.
    * Deterministic: the final snapshot equals the batch join+agg. */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    import spark.implicits._
    val batch = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("value"))
    val staging = stageReplayCached(s"sjoin:$dir") {
      stageReplay(Seq(batch))
    }
    val dim = typeDim.toDF("event_type", "engagement")
    val stream = spark.readStream
      .schema(batch.schema)
      .parquet(staging)
      .join(broadcast(dim), "event_type")
      .groupBy("engagement")
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
    StreamRun.toSnapshot(spark, stream, "graft_stream_static", "complete", identity)
  }

  /** Sliding (1h window / 15min hop) event-time aggregation as a
    * streaming replay — the hop-window twin of [[streamTumbling]]:
    * same file-source replay, complete-mode snapshot, and the result
    * must equal the batch `window_sliding` query bit-for-bit (shared
    * oracle). Spark expands the 4 slots per event map-side before the
    * stateful aggregation, so state size is O(active slots), the same
    * bound a production watermark+append deployment carries. */
  def streamSliding(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    val stream = Tables.stream(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("val_sum"))
    StreamRun.toSnapshot(spark, stream, "graft_stream_sliding", "complete", identity)
  }

  /** Streaming count-min sketch: the [[graft.analytics.OlapQueries
    * .cmsFrequency]] grid maintained as complete-mode streaming state —
    * the sketch's defining property (cell-wise mergeability) exercised
    * for real: the corpus replays as two micro-batches (user_id
    * parity), each batch's partial grid folds into state by cell-wise
    * ADDITION, and the final snapshot must equal the batch-built grid
    * over the full corpus. State is exactly the d·w cells — key-count
    * independent, the O(1)-state streaming aggregation every
    * high-cardinality stream wants. Shares the grid arithmetic (and
    * hash rows) with the batch gate; the oracle rebuilds the grid from
    * scratch. */
  def streamCms(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    import graft.analytics.OlapQueries
    val ev = Tables.load(spark, dir, "events").select(col("user_id"))
    val staging = stageReplayCached(s"cms:$dir") {
      stageReplay(Seq(
        ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 =!= 0)))
    }
    def bucket(i: Int, c: Column): Column =
      pmod(pmod(lit(OlapQueries.cmsA(i)) * c + lit(OlapQueries.cmsB(i)),
        lit(OlapQueries.cmsP)), lit(OlapQueries.cmsWidth))
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
      .select(explode(array((0 until OlapQueries.cmsDepth).map(i =>
        struct(lit(i.toLong).as("r"),
          bucket(i, col("user_id")).as("b"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    StreamRun.toSnapshot(spark, stream, "graft_stream_cms", "complete", identity)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_cms" -> streamCms _,
    "stream_sliding" -> streamSliding _,
    "stream_tumbling" -> streamTumbling _,
    "stream_tumbling_append" -> streamTumblingAppend _,
    "stream_dedup" -> streamDedup _,
    "stream_dedup_watermarked" -> streamDedupWatermarked _,
    "stream_upsert_latest" -> streamUpsertLatest _,
    "stream_upsert_deltas" -> streamUpsertDeltas _,
    "stream_upsert_deltas_tws" -> streamUpsertDeltasTws _,
    "stream_neardup_minhash" -> streamNearDupMinhash _,
    "stream_neardup_ttl" -> streamNearDupTtl _,
    "stream_static_join" -> streamStaticJoin _)

  private val tumblingSql =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
      |  event_type, count(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
      |FROM events GROUP BY 1, 2""".stripMargin

  // declared before `oracles` (val init order: a forward reference
  // inside the map literal would capture null)
  private val deltasOracle: String =
    """SELECT event_id, CAST(1 AS BIGINT) AS version, value FROM events
      |UNION ALL
      |SELECT event_id, CAST(2 AS BIGINT) AS version, value + 1.0
      |FROM events WHERE event_id % 3 = 0""".stripMargin

  val oracles: Map[String, String] = Map(
    // the two-micro-batch replay must fold cell-wise into exactly the
    // grid a from-scratch batch build produces
    "stream_cms" -> {
      import graft.analytics.OlapQueries.{cmsA, cmsB, cmsDepth, cmsP, cmsWidth}
      val rows = (0 until cmsDepth)
        .map(i => s"($i, ${cmsA(i)}, ${cmsB(i)})").mkString(", ")
      s"""WITH h(r, ha, hb) AS (SELECT * FROM (VALUES $rows))
         |SELECT CAST(h.r AS BIGINT) AS r,
         |  ((h.ha * e.user_id + h.hb) % $cmsP) % $cmsWidth AS b,
         |  count(*) AS c
         |FROM events e CROSS JOIN h
         |GROUP BY 1, 2""".stripMargin
    },
    "stream_sliding" -> graft.analytics.BehaviorQueries.slidingOracle,
    "stream_tumbling" -> tumblingSql,
    // append mode flushes every real window (see harness above), so the
    // oracle is the same batch aggregation
    "stream_tumbling_append" -> tumblingSql,
    // a doubled replay deduplicates back to exactly the distinct corpus
    "stream_dedup" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, value
        |FROM events""".stripMargin,
    // TTL-bounded variant: in-window duplicates all dropped, so the
    // output is the same distinct corpus (see streamDedupWatermarked's
    // exactness argument)
    "stream_dedup_watermarked" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, value
        |FROM events""".stripMargin,
    // stream-static enrichment snapshot == the batch join+agg
    "stream_static_join" ->
      """SELECT CASE WHEN event_type IN ('click','purchase','signup')
        |         THEN 'interactive'
        |       WHEN event_type = 'view' THEN 'passive'
        |       ELSE 'ops' END AS engagement,
        |  count(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
        |FROM events
        |WHERE event_type IN ('click','purchase','signup','view','error')
        |GROUP BY 1""".stripMargin,
    // LWW state snapshot == batch upsert of the unioned versions
    "stream_upsert_latest" ->
      """WITH v1 AS (SELECT event_id, CAST(1 AS BIGINT) AS version, value
        |            FROM events),
        |v2 AS (SELECT event_id, CAST(2 AS BIGINT) AS version, value + 1.0
        |       FROM events WHERE event_id % 3 = 0),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT event_id, max(version) AS version,
        |  arg_max(value, version) AS value, count(*) AS n_versions
        |FROM u GROUP BY event_id""".stripMargin,
    // The delta log is exactly one row per (key, version) that won its
    // trigger: every key at version 1, the replayed subset at version 2.
    // The fMGWS and transformWithState forms share it.
    "stream_upsert_deltas" -> deltasOracle,
    "stream_upsert_deltas_tws" -> deltasOracle,
    // batch recompute of the continuous detector: a doc is dup in band
    // b iff an earlier (smaller-id) doc shares its band-b bucket —
    // same signature/bucket pipeline as dedup_minhash_bands
    "stream_neardup_minhash" ->
      s"""WITH ${graft.operators.Dedup.minhashBandsCtes},
         |dup AS (
         |  SELECT y.doc_id, count(DISTINCT y.band_id) AS n
         |  FROM bands x JOIN bands y
         |    ON x.band_id = y.band_id AND x.bucket = y.bucket
         |   AND x.doc_id < y.doc_id
         |  GROUP BY y.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(dup.n, 0) AS BIGINT) AS n_dup_bands,
         |  CAST(COALESCE(dup.n, 0) > 0 AS BIGINT) AS is_dup
         |FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id""".stripMargin,
    // TTL'd registry: previous occupant = lag per bucket in id order;
    // flagged iff within the horizon (max(doc_id)/5 — the gate's w).
    // Bucket eviction never changes a flag (see BucketRecentProcessor),
    // so the horizon predicate IS the full semantics.
    "stream_neardup_ttl" ->
      s"""WITH ${graft.operators.Dedup.minhashBandsCtes},
         |prev AS (
         |  SELECT doc_id, band_id,
         |    lag(doc_id) OVER (PARTITION BY band_id, bucket
         |                      ORDER BY doc_id) AS p
         |  FROM bands),
         |dup AS (
         |  SELECT doc_id, count(DISTINCT band_id) AS n
         |  FROM prev
         |  WHERE p IS NOT NULL
         |    AND doc_id - p <= (SELECT max(doc_id) // 5 FROM documents)
         |  GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(dup.n, 0) AS BIGINT) AS n_dup_bands_recent,
         |  CAST(COALESCE(dup.n, 0) > 0 AS BIGINT) AS is_dup_recent
         |FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id""".stripMargin)

}
