package graft.streaming

import graft.Conf.withConf
import graft.Tables
import graft.streaming.EventStream.streamShufflePartitions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpointed restart with exactly-once output — the recovery
  * contract production streaming lives or dies by, and the one
  * streaming behavior the rest of the M5 family never exercises
  * (every other gate runs one uninterrupted query). The gate runs a
  * file-source query against a checkpoint, STOPS it, lands more
  * input, and restarts from the same checkpoint: the offset log must
  * skip everything already committed, and the sink — a foreachBatch
  * writer that lands each micro-batch under its batchId, overwriting
  * on replay — must hold exactly-once output across the restart. The
  * final hourly aggregate over the sink therefore equals the plain
  * batch aggregate over `events` (the oracle, shared with
  * `window_tumbling`): any double-processing after restart doubles a
  * count and fails the hash compare.
  *
  * The batchId-keyed overwrite is the standard idempotent-sink
  * recipe: a batch replayed after a crash lands on the same path,
  * MODE Overwrite, so at-least-once delivery from the engine becomes
  * exactly-once in the store. At 100 TB nothing changes — the offset
  * log and commit log are O(batches), the sink layout is
  * O(partitions per batch). */
object StreamCheckpoint extends graft.GateModule {

  def checkpointResume(spark: SparkSession, dir: String): DataFrame =
    withConf(spark, "spark.sql.shuffle.partitions", streamShufflePartitions) {
    import java.nio.file.Files
    val batch = Tables.load(spark, dir, "events")
      .select(col("ts"), col("event_type"), col("value"))
    val cut = lit(Sessionize.streamCut).cast("timestamp")
    val work = graft.store.Staging.gateDir("graft_ckpt")
    val staging = work.resolve("input")
    Files.createDirectories(staging)
    val ckpt = work.resolve("ckpt").toString
    val outDir = work.resolve("out").toString
    def place(df: DataFrame, name: String, slot: Int): Unit =
      EventStream.stageFile(df, work, staging, name, slot)
    def run(): Unit = StreamRun.drain(spark.readStream
      .schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging.toString)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        df.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start())
    place(batch.filter(col("ts") < cut), "b00.parquet", 0)
    run() // first life: commits batch 0 (the pre-cut file)
    place(batch.filter(col("ts") >= cut), "b01.parquet", 1)
    run() // restart from the SAME checkpoint: must process ONLY b01
    Tables.parquet(spark, outDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), Tables.dsum(col("value")).as("val_sum"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_checkpoint_resume" -> checkpointResume _)

  // exactly-once across the restart ⇒ the sink holds each event once ⇒
  // hourly aggregate equals the batch form — window_tumbling's oracle,
  // referenced (not copied) so the equivalence is structural
  val oracles: Map[String, String] = Map(
    "stream_checkpoint_resume" ->
      graft.analytics.JoinQueries.oracles("window_tumbling"))
}
