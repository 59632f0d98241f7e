package graft.store

import graft.Tables
import graft.Tables.dsum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot time travel — the lakehouse read discipline (Delta/Iceberg
  * `VERSION AS OF`): a table is a VERSION LOG of immutable snapshots
  * plus a manifest, and a reader pins a version instead of racing
  * whatever the latest write happens to be. Reproducible training runs
  * depend on exactly this: "the corpus snapshot the model saw" must be
  * re-readable after later ingests restate it (the reference's
  * scheduled re-fetch loop restates its table on every run —
  * `dags/stock_data_pipeline.py:40-58` — which is precisely when a
  * pinned read matters).
  *
  * Mechanics here are the real shape in miniature: each snapshot is an
  * immutable parquet dir, `_versions` is the manifest (version → path
  * → watermark), and [[readAsOf]] resolves the LARGEST version ≤ the
  * requested one from the manifest — an O(|versions|) bounded read,
  * never a data scan — then reads only that snapshot's files. At
  * 100 TB the snapshots share unchanged files via the manifest
  * (copy-on-write); the resolution step is identical.
  *
  * The gate snapshots the daily-revenue rollup at two logical
  * watermarks (mid-corpus and full), then reads AS OF version 1 — the
  * oracle recomputes that watermark's rollup from the raw source, so
  * the check proves the pinned read returns the OLD state after the
  * new write landed. Re-runs overwrite both snapshots deterministically.
  */
object TimeTravel extends graft.GateModule {

  /** Version-1 high watermark (mid-corpus, both halves populated). */
  val asOfSplit = "2024-01-16 00:00:00"

  private def sfTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_")

  /** The snapshotted rollup: per-day event count + exact revenue. */
  private def daily(spark: SparkSession, dir: String,
      cutoff: Option[String]): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val bounded = cutoff
      .map(c => ev.filter(col("ts") < to_timestamp(lit(c))))
      .getOrElse(ev)
    bounded
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("rev_sum"))
  }

  /** Write both snapshots + the manifest; returns the table base dir. */
  def snapshot(spark: SparkSession, dir: String): String = {
    val base = s"${Catalog.warehouse}/timetravel/${sfTag(dir)}"
    daily(spark, dir, Some(asOfSplit))
      .write.mode("overwrite").parquet(s"$base/v1")
    daily(spark, dir, None)
      .write.mode("overwrite").parquet(s"$base/v2")
    import spark.implicits._
    Seq((1L, s"$base/v1", asOfSplit),
        (2L, s"$base/v2", "9999-01-01 00:00:00"))
      .toDF("version", "path", "high_watermark")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$base/_versions")
    base
  }

  /** Pinned read: largest manifest version ≤ `asOf`. The collect is
    * ONE manifest row (bounded by the version count, never data). */
  def readAsOf(spark: SparkSession, base: String, asOf: Long): DataFrame = {
    val pick = Tables.parquet(spark, s"$base/_versions")
      .filter(col("version") <= asOf)
      .orderBy(col("version").desc)
      .limit(1)
      .collect()
    require(pick.nonEmpty, s"no snapshot at or before version $asOf")
    Tables.parquet(spark, pick(0).getAs[String]("path"))
      .withColumn("version", lit(pick(0).getAs[Long]("version")))
  }

  /** Gate: write v1 + v2, then prove AS OF 1 returns the OLD rollup. */
  def timeTravelQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = snapshot(spark, dir)
    readAsOf(spark, base, 1L)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "store_time_travel" -> timeTravelQuery _)

  val oracles: Map[String, String] = Map(
    "store_time_travel" ->
      s"""SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events,
         |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS rev_sum,
         |  CAST(1 AS BIGINT) AS version
         |FROM events WHERE ts < TIMESTAMP '$asOfSplit'
         |GROUP BY 1""".stripMargin)
}
