package graft.store

import graft.Tables
import graft.Tables.dsum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Selective backfill — the repair discipline a 100 TB store demands:
  * when a partition goes stale (failed job, late upstream restatement,
  * corruption), the fix is NEVER a full rewrite; it is
  * (1) a manifest diff — per-partition source-vs-store row counts,
  *     an aggregation on both sides whose output is bounded by the
  *     partition count, not the data;
  * (2) a repair write that touches ONLY the diverged partitions,
  *     via dynamic partition overwrite (the write mode that replaces
  *     exactly the partitions the repair frame contains).
  * The gate stages a day-partitioned copy of `events`, DAMAGES one
  * fixed mid-corpus day (drops half its rows), detects exactly that
  * day from the count diff, repairs it, and emits per-day totals with
  * the repaired flag — so both the detection's precision and the
  * repair's completeness are oracle-checked against the raw source.
  *
  * The stale-day list collected to the driver is bounded by the
  * calendar (one row per damaged DAY), the standard bounded-scalar
  * pattern. Re-runs are deterministic: damage → detect → repair is a
  * fixed cycle regardless of prior table state. */
object Backfill extends graft.GateModule {

  private def sfTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_")

  /** The partition this gate damages and repairs (mid-corpus). */
  val damagedDay = "2024-01-15"

  private def source(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))

  /** Create (or re-attach) the day-partitioned store copy. A non-empty
    * store is NOT trusted as-is: a prior run that aborted between
    * damage and repair leaves divergence this bootstrap would
    * otherwise carry into the next run's `repaired` flags, so any
    * stale day found on attach is repaired here first — bootstrap's
    * postcondition is store == source, always. */
  def bootstrap(spark: SparkSession, dir: String): String = {
    val tag = sfTag(dir)
    val t = s"events_bf_$tag"
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $t (
         |  event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,
         |  value DOUBLE, day STRING)
         |USING PARQUET
         |PARTITIONED BY (day)
         |LOCATION '${Catalog.warehouse}/backfill/$tag'""".stripMargin)
    if (spark.table(t).isEmpty)
      source(spark, dir).write.mode("overwrite").insertInto(t)
    else {
      val stale = detectStale(spark, dir, t)
      if (stale.nonEmpty) repair(spark, dir, t, stale)
    }
    t
  }

  /** Per-partition manifest diff: days whose store CONTENT diverges
    * from the source. The signature is (row count, XOR of a per-row
    * xxhash64 over the identifying columns) — count alone mislabels
    * any equal-count corruption, while the order-independent XOR fold
    * (rows are unique by event_id) detects value-level divergence with
    * the same partition-bounded aggregation cost. Output bounded by
    * |days|. */
  def detectStale(spark: SparkSession, dir: String, table: String): Seq[String] = {
    def manifest(df: DataFrame, n: String, s: String) = df.groupBy("day")
      .agg(count(lit(1)).as(n),
        coalesce(bit_xor(
          xxhash64(col("event_id"), col("user_id"), col("value"))),
          lit(0L)).as(s))
    val src = manifest(source(spark, dir), "src_n", "src_sig")
    val st = manifest(spark.table(table), "store_n", "store_sig")
    src.join(st, Seq("day"), "full_outer")
      .filter(coalesce(col("src_n"), lit(-1L)) =!=
          coalesce(col("store_n"), lit(-2L)) ||
        col("src_sig") =!= col("store_sig"))
      .select("day").collect().map(_.getString(0)).toSeq.sorted
  }

  /** Repair: rewrite diverged partitions the source still has, DROP
    * the ones it doesn't — dynamic overwrite only replaces partitions
    * present in the written frame, so a store-only day (e.g. the
    * corpus was restated to exclude it) needs an explicit partition
    * drop or it would survive every "repair" forever. Day lists are
    * calendar-bounded driver scalars. */
  private def repair(spark: SparkSession, dir: String, table: String,
      stale: Seq[String]): Unit =
    graft.Conf.withConf(spark,
        "spark.sql.sources.partitionOverwriteMode", "dynamic") {
      val srcDays = source(spark, dir).select("day").distinct()
        .collect().map(_.getString(0)).toSet
      val (rewrite, dead) = stale.partition(srcDays.contains)
      dead.foreach(d =>
        spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (day='$d')"))
      if (rewrite.nonEmpty)
        source(spark, dir)
          .filter(col("day").isin(rewrite: _*))
          .write.mode("overwrite").insertInto(table)
    }

  def backfillQuery(spark: SparkSession, dir: String): DataFrame =
    graft.Conf.withConf(spark,
        "spark.sql.sources.partitionOverwriteMode", "dynamic") {
      val t = bootstrap(spark, dir)
      // damage: overwrite ONE day's partition with half its rows
      source(spark, dir)
        .filter(col("day") === damagedDay && col("user_id") % 2 === 0)
        .write.mode("overwrite").insertInto(t)
      val stale = detectStale(spark, dir, t)
      repair(spark, dir, t, stale)
      spark.table(t).groupBy("day")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
        .withColumn("repaired", col("day").isin(stale: _*))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "store_backfill" -> backfillQuery _)

  val oracles: Map[String, String] = Map(
    // post-repair store == source, and exactly the damaged day repaired
    "store_backfill" ->
      s"""SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt,
         |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum,
         |  strftime(ts, '%Y-%m-%d') = '$damagedDay' AS repaired
         |FROM events GROUP BY 1""".stripMargin)
}
