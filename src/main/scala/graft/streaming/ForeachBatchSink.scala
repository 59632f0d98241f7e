package graft.streaming

import graft.Conf.withConf
import graft.Tables
import graft.operators.Upsert
import graft.store.Staging.gateDir
import graft.streaming.EventStream.{stageReplay, streamShufflePartitions}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `foreachBatch` merge sink — the canonical production shape for
  * "stream into a keyed table": each micro-batch runs an arbitrary
  * BATCH merge (here the LWW upsert) against the serving table, which
  * is how Structured Streaming feeds any sink without native streaming
  * upsert support (plain parquet here; JDBC/Delta identically).
  *
  * The table is partitioned by a KEY-DERIVED bucket (pmod(user_id, 8)),
  * not by a mutable attribute like event date: a key's partition is
  * then immutable, so dynamic partition overwrite is exactly correct —
  * the merge output always contains every partition it changed, and a
  * date-partitioned variant's stale-row edge (a partition whose every
  * key migrated away keeps its old file) cannot occur. Each trigger:
  *  1. collapse the micro-batch to its latest row per key (one hash
  *     agg, algebraic max_by);
  *  2. read back ONLY the buckets the batch touches (<= 8 bucket ids
  *     reach the driver — bounded by the bucket count, not the data);
  *  3. LWW-merge batch over current ([[Upsert.upsert]]; the replay is
  *     time-ordered so batch-wins == last-write-wins);
  *  4. stage and dynamic-overwrite just those buckets
  *     ([[Upsert.writePartitioned]] — same-path read/write needs the
  *     staging hop, and staging volume is touched buckets only).
  * Per-trigger work scales with the touched buckets, never the table —
  * the 100 TB serving-table story. The emitted final table equals the
  * batch LWW answer, which is the oracle. */
object ForeachBatchSink extends graft.GateModule {

  def streamForeachBatchMerge(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    val purchases = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val cut = lit(Sessionize.streamCut).cast("timestamp")
    val staging = EventStream.stageReplayCached(s"fbm:$dir") {
      stageReplay(Seq(
        purchases.filter(col("ts") < cut),
        purchases.filter(col("ts") >= cut)))
    }
    val table = gateDir("graft_fbm").toString + "/serving"
    val mergeBatch: (Dataset[Row], Long) => Unit = { (batch, _) =>
      val latest = batch
        .groupBy("user_id")
        .agg(max_by(struct(col("value"), col("ts"), col("event_id")),
          struct(col("ts"), col("event_id"))).as("x"))
        .select(col("user_id"), col("x.value").as("value"),
          col("x.ts").as("ts"), col("x.event_id").as("event_id"))
        .withColumn("bucket", pmod(col("user_id"), lit(8)))
      val touched = latest.select("bucket").distinct()
        .collect().map(_.getLong(0))
      val current =
        if (new java.io.File(table).exists())
          Tables.parquet(batch.sparkSession, table)
            .filter(col("bucket").isin(touched.toIndexedSeq: _*))
        else latest.limit(0)
      val merged = Upsert.upsert(current, latest, keys = Seq("user_id"))
      // same-path read+overwrite needs a staging hop; volume = touched
      // buckets only
      val stage = gateDir("graft_fbm_stage").toString
      merged.write.mode("overwrite").parquet(stage)
      Upsert.writePartitioned(
        Tables.parquet(batch.sparkSession, stage), table, "bucket")
    }
    StreamRun.drain(spark.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
      .writeStream
      .outputMode("append")
      .foreachBatch(mergeBatch)
      .start())
    Tables.parquet(spark, table)
      .select(col("user_id"), col("value"),
        date_trunc("second", col("ts")).as("ts_s"))
  }

  /** Incremental SCD2 via foreachBatch — CDC-apply into a history
    * table: each micro-batch folds into bucket-partitioned change-row
    * state through [[graft.operators.Scd.scd2Apply]], reading back and
    * dynamic-overwriting ONLY the key buckets the batch touches (same
    * bounded-touch pattern as the LWW merge sink above — per-trigger
    * work scales with the batch, never the history). The replay splits
    * by event_id PARITY, so the second batch carries rows that land
    * *between* existing state rows in event time — deliberate
    * out-of-order delivery: the recompute-touched-keys fold is
    * order-insensitive where a naive append-only closer would corrupt
    * intervals. Final history must equal the from-scratch batch
    * [[graft.operators.Scd.scd2History]]; the oracle is shared. */
  def streamScd2(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    import graft.operators.Scd
    val purchases = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val staging = EventStream.stageReplayCached(s"scd2s:$dir") {
      stageReplay(Seq(
        purchases.filter(col("event_id") % 2 === 0),
        purchases.filter(col("event_id") % 2 =!= 0)))
    }
    val table = gateDir("graft_scd").toString + "/state"
    val applyBatch: (Dataset[Row], Long) => Unit = { (batch, _) =>
      val touched = batch.select(pmod(col("user_id"), lit(8)).as("bucket"))
        .distinct().collect().map(_.getLong(0)) // <= 8 bucket ids
      val current =
        if (new java.io.File(table).exists())
          Tables.parquet(batch.sparkSession, table)
            .filter(col("bucket").isin(touched.toIndexedSeq: _*))
        else batch.limit(0)
      val folded = Scd.scd2Apply(current, batch)
        .withColumn("bucket", pmod(col("user_id"), lit(8)))
      val stage = gateDir("graft_scd_stage").toString
      folded.write.mode("overwrite").parquet(stage)
      Upsert.writePartitioned(
        Tables.parquet(batch.sparkSession, stage), table, "bucket")
    }
    StreamRun.drain(spark.readStream.schema(purchases.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
      .writeStream
      .outputMode("append")
      .foreachBatch(applyBatch)
      .start())
    Scd.deriveHistory(Tables.parquet(spark, table))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_foreachbatch_merge" -> streamForeachBatchMerge _,
    "stream_scd2" -> streamScd2 _)

  val oracles: Map[String, String] = Map(
    // incremental CDC apply == full-recompute SCD2 (shared oracle text)
    "stream_scd2" -> graft.operators.Scd.oracles("scd2_history"),
    // the served table after the full replay == batch LWW per user
    "stream_foreachbatch_merge" ->
      """SELECT user_id, value,
        |  CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s
        |FROM events
        |WHERE event_type = 'purchase'
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY ts DESC, event_id DESC) = 1""".stripMargin)
}
