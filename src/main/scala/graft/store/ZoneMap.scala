package graft.store

import graft.Tables
import graft.Tables.dsum
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Zone maps (file-level min/max data skipping) — the third leg of the
  * layout stool next to [[Partitioned]] (directory pruning) and
  * [[Zorder]] (multi-dim clustering): a table of per-FILE min/max
  * statistics, built from one metadata-cheap scan, that turns a range
  * predicate into an explicit file list BEFORE any data is read. This
  * is Delta/Iceberg's `stats`/manifest pruning and classic
  * small-materialized-aggregates (Moerkotte, VLDB '98) as plain
  * dataflow: stats build is a `_metadata.file_path` group-by, pruning
  * is a filter over the (tiny) stats table, and the query reads only
  * surviving files. On a 100 TB sorted-by-key table a narrow range
  * predicate prunes thousands of files to a handful — without any
  * partition column in the schema, which matters when the skipping key
  * is too high-cardinality to partition on (user ids, timestamps).
  *
  * Correctness contract: pruning on min <= hi AND max >= lo can only
  * drop files with NO qualifying rows (min/max bracket every value in
  * the file), so pruned-scan + residual filter ≡ full-scan + filter —
  * exactly what the gate's oracle (a plain filter over the ORIGINAL
  * table) proves, while the spec proves files were actually skipped.
  */
object ZoneMap extends graft.GateModule {

  /** Files the sorted copy is binned into — enough that the gate's
    * range predicate demonstrably skips most of them. */
  val nFiles = 8

  private def sfTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Write the range-sorted events copy once per SF dir (the layout a
    * compaction/OPTIMIZE job maintains in production: range-partition
    * by the skipping key so each file owns a tight key interval). */
  def bootstrap(spark: SparkSession, dir: String): String = {
    val path = s"${Catalog.warehouse}/zonemap/${sfTag(dir)}/events_sorted"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$path/_SUCCESS"))) {
      Tables.load(spark, dir, "events")
        .repartitionByRange(nFiles, col("user_id"))
        .sortWithinPartitions(col("user_id"))
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** The zone map: per-file min/max of the skipping key plus row
    * count. Reads only the key column (column-pruned scan); at scale
    * this is the manifest-build job, run once per compaction. */
  def stats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("user_id"), col("_metadata.file_path").as("file"))
      .groupBy("file")
      .agg(min(col("user_id")).as("u_min"), max(col("user_id")).as("u_max"),
        count(lit(1)).as("n_rows"))

  /** Gate: derive a deterministic range predicate spanning the 60th to
    * 80th percentile of the key span, prune files through the zone
    * map, and aggregate ONLY the surviving files. Returns the per-type
    * census the oracle reproduces from the unsorted original. The file
    * list reaching the driver is bounded by the file count (metadata
    * cardinality, never row cardinality). */
  def prunedScan(spark: SparkSession, dir: String): DataFrame = {
    val path = bootstrap(spark, dir)
    val zm = stats(spark, path).collect()
    val (uMin, uMax) = (zm.map(_.getLong(1)).min, zm.map(_.getLong(2)).max)
    val span = uMax - uMin
    val (lo, hi) = (uMin + span * 3 / 5, uMin + span * 4 / 5)
    val keep = zm.filter(r => r.getLong(2) >= lo && r.getLong(1) <= hi)
      .map(_.getString(0))
    spark.read.parquet(keep: _*)
      .filter(col("user_id").between(lo, hi))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("val_sum"))
  }

  /** Files kept vs total for the gate predicate — the spec's skipping
    * assertion surface. */
  def pruneCounts(spark: SparkSession, dir: String): (Int, Int) = {
    val zm = stats(spark, bootstrap(spark, dir)).collect()
    val (uMin, uMax) = (zm.map(_.getLong(1)).min, zm.map(_.getLong(2)).max)
    val span = uMax - uMin
    val (lo, hi) = (uMin + span * 3 / 5, uMin + span * 4 / 5)
    (zm.count(r => r.getLong(2) >= lo && r.getLong(1) <= hi), zm.length)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zonemap_prune" -> prunedScan _)

  val oracles: Map[String, String] = Map(
    "zonemap_prune" ->
      """WITH b AS (SELECT min(user_id) AS u_min, max(user_id) AS u_max
        |  FROM events),
        |r AS (SELECT u_min + (u_max - u_min) * 3 // 5 AS lo,
        |    u_min + (u_max - u_min) * 4 // 5 AS hi FROM b)
        |SELECT event_type, count(*) AS cnt,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
        |FROM events, r
        |WHERE user_id BETWEEN r.lo AND r.hi
        |GROUP BY event_type""".stripMargin)
}
