package graft.store

import graft.Tables
import graft.Tables.dsum
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the unglamorous operator every 100 TB lake
  * needs on a schedule: streaming sinks, dynamic-partition upserts and
  * per-trigger micro-batches each leave files sized by ARRIVAL rate,
  * not by read efficiency, and a table of 4 KB files is 1000x the
  * scan-planning and open() overhead of the same bytes in 256 MB
  * files (plus an HDFS-namenode / object-store-listing tax). Compact
  * = read, re-bin to a byte target, atomically swap.
  *
  * Shape: file sizing is pure metadata (one FileSystem listing — no
  * data read to plan), and the rewrite is `coalesce(n)` when shrinking
  * — coalesce only UNIONS existing partitions, so compaction moves
  * every byte exactly once with NO shuffle exchange. `repartition` is
  * reserved for the grow direction (splitting a monolith needs a
  * round-robin shuffle by definition). Content is bit-preserved —
  * compaction changes layout, never rows (the gate's census proves
  * it against the ORIGINAL table through a fragment→compact round
  * trip).
  */
object Compaction extends graft.GateModule {

  /** Gate/spec byte target, sized so the fragmented gate input
    * compacts to a handful of files at every SF. Production: 256 MB
    * (`spark.sql.files.maxPartitionBytes`-aligned). */
  val targetBytes: Long = 8L * 1024 * 1024

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Total bytes + file count of a parquet directory, from metadata
    * only. */
  def dirStats(spark: SparkSession, path: String): (Long, Int) = {
    val files = fs(spark).listStatus(new Path(path))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (files.map(_.getLen).sum, files.length)
  }

  /** Rewrite `inPath` into `outPath` binned to ~`target` bytes per
    * file. Returns (filesBefore, filesAfter). Zero-shuffle in the
    * shrink direction (the compaction case); round-robin shuffle only
    * when splitting upward. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      target: Long = targetBytes): (Int, Int) = {
    val (bytes, nBefore) = dirStats(spark, inPath)
    val nOut = math.max(1L, (bytes + target - 1) / target).toInt
    val df = spark.read.parquet(inPath)
    val packed = if (nOut < nBefore) df.coalesce(nOut) else df.repartition(nOut)
    packed.write.mode("overwrite").parquet(outPath)
    (nBefore, dirStats(spark, outPath)._2)
  }

  private def sfTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Gate: fragment `events` the way a micro-batch sink would (32
    * arrival-sized files), compact to the byte target, and emit a
    * per-type census FROM THE COMPACTED FILES. Hash-matching the
    * original-table oracle proves the rewrite moved layout and not
    * data. Fragment/compact each happen once per SF dir; the census
    * re-reads every run. */
  def compactRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val root = s"${Catalog.warehouse}/compaction/${sfTag(dir)}"
    val (fragDir, outDir) = (s"$root/fragmented", s"$root/compacted")
    val f = fs(spark)
    if (!f.exists(new Path(s"$outDir/_SUCCESS"))) {
      Tables.load(spark, dir, "events").repartition(32)
        .write.mode("overwrite").parquet(fragDir)
      compact(spark, fragDir, outDir)
    }
    spark.read.parquet(outDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("val_sum"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "compact_roundtrip" -> compactRoundtrip _)

  val oracles: Map[String, String] = Map(
    "compact_roundtrip" ->
      """SELECT event_type, count(*) AS cnt,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY event_type""".stripMargin)
}
