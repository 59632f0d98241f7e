package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental streaming semantics beyond the complete-mode gate query:
  * data arriving in multiple files is discovered and aggregated across
  * micro-batches, and a watermark + append windowed aggregation emits
  * only finalized windows. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def writeBatch(dir: String, n: Int, hourOffset: Int): Unit =
    (0 until n).map { i =>
      (new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2024-03-01 00:10:00").getTime
          + hourOffset * 3600000L + i * 1000L), s"u${i % 3}", 1.0)
    }.toDF("ts", "user", "value")
      .coalesce(1).write.mode("append").parquet(dir)

  test("file stream discovers late-arriving files across micro-batches") {
    val dir = graft.store.Staging.jvmDir("graft_stream_in").toString
    writeBatch(dir, 10, 0)
    val schema = spark.read.parquet(dir).schema
    val q = spark.readStream.schema(schema).parquet(dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_incr")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_incr").agg(sum("n")).collect()(0).getLong(0) == 10)
      writeBatch(dir, 5, 1) // second file arrives later
      q.processAllAvailable()
      val rows = spark.table("graft_incr").collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(rows.values.sum == 15 && rows.size == 2)
    } finally q.stop()
  }

  test("streaming dedup within watermark drops re-delivered events (M3)") {
    val dir = graft.store.Staging.jvmDir("graft_stream_dd").toString
    writeBatch(dir, 10, 0)
    writeBatch(dir, 10, 0) // exact re-delivery of the same 10 events
    val schema = spark.read.parquet(dir).schema
    val q = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("ts", "user")
      .groupBy(col("user")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_dd")
      .start()
    try {
      q.processAllAvailable()
      val total = spark.table("graft_dd")
        .agg(sum("n")).collect()(0).getLong(0)
      assert(total == 10, s"duplicates must collapse, got $total")
    } finally q.stop()
  }

  test("watermark + append emits only windows sealed by the watermark") {
    val dir = graft.store.Staging.jvmDir("graft_stream_wm").toString
    writeBatch(dir, 10, 0)   // hour 0
    writeBatch(dir, 5, 3)    // hour 3 advances watermark past hour 0+1h
    val schema = spark.read.parquet(dir).schema
    val q = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("user"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_wm")
      .start()
    try {
      q.processAllAvailable()
      val out = spark.table("graft_wm").collect()
      // hour-0 windows are sealed (watermark = hour3 - 1h > hour0 end);
      // hour-3 windows are still open and must NOT have been emitted
      assert(out.nonEmpty)
      assert(out.map(_.getLong(2)).sum == 10)
    } finally q.stop()
  }

  test("delta-emitting LWW upsert: deltas are O(changed keys) and fold to the snapshot") {
    import graft.streaming.EventStream
    val sf = SparkTestSession.sf
    val deltas = EventStream.streamUpsertDeltas(spark, sf)
    val keys = deltas.filter(col("version") === 1).count()
    val changed = deltas.filter(col("version") === 2).count()
    // trigger 2 emitted only the replayed mod-3 subset, not the key space
    assert(deltas.count() == keys + changed)
    assert(changed < keys)
    // folding the delta log by max version reconstructs the
    // complete-mode snapshot
    val folded = deltas.groupBy("event_id")
      .agg(max(struct(col("version"), col("value"))).as("l"))
      .select(col("event_id"), col("l.version").as("version"),
        col("l.value").as("value"))
    val snapshot = EventStream.streamUpsertLatest(spark, sf)
      .select("event_id", "version", "value")
    assert(folded.exceptAll(snapshot).isEmpty && snapshot.exceptAll(folded).isEmpty)
  }

  test("streaming sessionization equals batch sessions incl. cut-spanning ones") {
    val sf = SparkTestSession.sf
    val streamed = graft.streaming.Sessionize.streamSessionize(spark, sf)
      .selectExpr("user_id", "n_events", "session_start_s")
    val batch = graft.streaming.Sessionize.sessionizeBatch(spark, sf)
      .selectExpr("user_id", "n_events", "session_start_s")
    assert(streamed.exceptAll(batch).isEmpty
      && batch.exceptAll(streamed).isEmpty)
    // the replay cut actually splits at least one session in two:
    // consecutive same-user events within the gap straddling the cut
    // == a session whose state had to merge across micro-batches
    val cut = java.sql.Timestamp.valueOf(graft.streaming.Sessionize.streamCut)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val straddling = Tables.load(spark, sf, "events")
      .withColumn("prev_ts", org.apache.spark.sql.functions.lag("ts", 1).over(w))
      .where(col("prev_ts") < lit(cut) && col("ts") >= lit(cut)
        && unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) <= 1800)
    assert(straddling.count() > 0, "no session spans the replay cut")
  }

  test("checkpoint restart is exactly-once: aggregate equals batch form") {
    val sf = SparkTestSession.sf
    val got = graft.streaming.StreamCheckpoint.checkpointResume(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val want = graft.analytics.JoinQueries.tumblingWindow(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // any post-restart double-processing doubles a count
    assert(got == want)
  }

  test("streaming pattern automaton equals the batch regex counts") {
    val sf = SparkTestSession.sf
    val got = graft.streaming.StreamPattern.streamPatternMatch(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = graft.analytics.BehaviorQueries.patternMatch(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    // at least one conversion exists, else the automaton path is vacuous
    assert(want.values.exists(_._2 > 0))
  }

  test("streaming as-of equals the batch as-of, including across the cut") {
    val sf = SparkTestSession.sf
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (
        (if (r.isNullAt(2)) -1L else r.getLong(2)),
        (if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    val got = key(graft.streaming.StreamAsof.streamAsof(spark, sf))
    val want = key(graft.operators.AsofJoin.purchaseToView(spark, sf))
    assert(got == want)
    // the O(1) state carry demonstrably runs: some purchase AFTER the
    // file cut matches a view from BEFORE it
    val cut = java.sql.Timestamp.valueOf(
      graft.streaming.Sessionize.streamCut)
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(want.exists { case (pid, (vid, _)) =>
      vid >= 0 && !ev(pid).before(cut) && ev(vid).before(cut)
    }, "no cross-cut match — the carry path is vacuous at this SF")
  }

  test("stream-stream interval join emits exactly the batch match set") {
    val sf = SparkTestSession.sf
    val streamed = graft.streaming.StreamJoin.streamStreamJoin(spark, sf)
    val ev = Tables.load(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("cts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("pts"))
    val gap = unix_timestamp(col("pts")) - unix_timestamp(col("cts"))
    val batch = clicks.join(purchases,
        col("user_id") === col("p_user") && gap.between(1, 3600))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        gap.as("gap_s"))
    assert(streamed.exceptAll(batch).isEmpty
      && batch.exceptAll(streamed).isEmpty)
    assert(streamed.count() > 0, "corpus should contain at least one match")
  }

  test("left-outer stream-stream join: matches plus exactly-once null rows") {
    val sf = SparkTestSession.sf
    val streamed = graft.streaming.StreamJoin.streamStreamLeftOuter(spark, sf)
    val ev = Tables.load(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("cts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("pts"))
    val gap = unix_timestamp(col("pts")) - unix_timestamp(col("cts"))
    val batch = clicks.join(purchases,
        col("user_id") === col("p_user") && gap.between(1, 3600), "left")
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        gap.as("gap_s"))
    assert(streamed.exceptAll(batch).isEmpty
      && batch.exceptAll(streamed).isEmpty)
    // every unmatched click appears exactly once with nulls
    val unmatched = streamed.filter(col("purchase_id").isNull)
    assert(unmatched.count() > 0)
    assert(unmatched.select("click_id").distinct().count() == unmatched.count())
  }

  test("full-outer stream-stream join: null rows exactly once on both sides") {
    val sf = SparkTestSession.sf
    val streamed = graft.streaming.StreamJoin.streamStreamFullOuter(spark, sf)
    val ev = Tables.load(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("cts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("pts"))
    val gap = unix_timestamp(col("pts")) - unix_timestamp(col("cts"))
    val batch = clicks.join(purchases,
        col("user_id") === col("p_user") && gap.between(1, 3600),
        "full_outer")
      .select(col("click_id"), col("purchase_id"),
        org.apache.spark.sql.functions.coalesce(
          col("user_id"), col("p_user")).as("uid"),
        gap.as("gap_s"))
    assert(streamed.exceptAll(batch).isEmpty
      && batch.exceptAll(streamed).isEmpty)
    // unmatched rows exist and are exactly-once on EACH side
    val noMatchC = streamed.filter(col("purchase_id").isNull)
    val noMatchP = streamed.filter(col("click_id").isNull)
    assert(noMatchC.count() > 0 && noMatchP.count() > 0)
    assert(noMatchC.select("click_id").distinct().count() == noMatchC.count())
    assert(noMatchP.select("purchase_id").distinct().count()
      == noMatchP.count())
  }

  test("transformWithState LWW deltas equal the flatMapGroupsWithState form") {
    import graft.streaming.EventStream
    val sf = SparkTestSession.sf
    val fmgws = EventStream.streamUpsertDeltas(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val tws = EventStream.streamUpsertDeltasTws(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(tws == fmgws)
  }

  test("foreachBatch merge equals batch LWW; rows live in their key bucket") {
    val sf = SparkTestSession.sf
    val served = streaming.ForeachBatchSink.streamForeachBatchMerge(spark, sf)
    val got = served.withColumn("f", input_file_name())
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(3)))
    // every row's file sits in the partition its key hashes to — the
    // invariant that makes dynamic partition overwrite exactly correct
    got.foreach { case (uid, _, f) =>
      assert(f.contains(s"bucket=${uid % 8}"), s"user $uid in wrong bucket: $f")
    }
    // the served table is the batch LWW answer, exactly once per user
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    val expect = Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value")))
      .toSet
    assert(got.map(t => (t._1, t._2)).toSet == expect)
    assert(got.length == expect.size)
  }
}
