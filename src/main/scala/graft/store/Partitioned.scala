package graft.store

import graft.Tables
import graft.Tables.dsum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-pruned scans + dynamic partition pruning (DPP) — the
  * other half of the 100 TB layout story next to [[Bucketing]]:
  * bucketing kills the JOIN exchange, partitioning kills the SCAN.
  * A fact table partitioned on a join/filter column lets Spark skip
  * whole directories; DPP extends that to filters Spark only learns
  * AT RUNTIME — a selective predicate on the dim side of a join turns
  * into a partition filter on the fact side (the dim's qualifying join
  * keys ride the already-built broadcast into the fact scan, so the
  * pruning is free). On a date+category-partitioned 100 TB fact table
  * this is routinely a 10-100x scan reduction for star-join workloads,
  * with zero query rewrite.
  *
  * Reference behavior anchor: the reference's queries filter
  * `stock_data` by symbol/date (reference/queries.sql) — exactly the
  * columns a production deployment would partition on; this gate
  * proves the engine turns such layouts into pruned scans.
  */
object Partitioned extends graft.GateModule {

  private def sfTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Event-tier dim rule (shared with the oracle): conversion events
    * vs browsing events. */
  val convTypes = Seq("purchase", "signup")

  /** Create (or re-attach) the event_type-partitioned copy of `events`
    * plus the tiny tier dim, populating both on first use. The fact
    * DDL names the partition column LAST so positional insertInto
    * lines up; the dim is a plain parquet so the DPP rule sees a real
    * file scan with a selective filter (the production shape — dims
    * live in tables, not literals). */
  def bootstrap(spark: SparkSession, dir: String): (String, String) = {
    val tag = sfTag(dir)
    val factT = s"events_p_$tag"
    val loc = s"${Catalog.warehouse}/partitioned/$tag"
    val dimPath = s"$loc/event_tier"
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $factT (
         |  event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,
         |  value DOUBLE, props STRING, event_type STRING)
         |USING PARQUET
         |PARTITIONED BY (event_type)
         |LOCATION '$loc/$factT'""".stripMargin)
    if (spark.table(factT).isEmpty) {
      Tables.load(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("value"), col("props"), col("event_type"))
        .write.mode("overwrite").insertInto(factT)
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dimPath))) {
      Tables.load(spark, dir, "events")
        .select(col("event_type")).distinct()
        .withColumn("tier",
          when(col("event_type").isInCollection(convTypes), "conv")
            .otherwise("browse"))
        .coalesce(1)
        .write.mode("overwrite").parquet(dimPath)
    }
    (factT, dimPath)
  }

  /** Gate query: per-type conversion volume through the partitioned
    * fact ⋈ filtered dim join. The plan's fact scan carries a
    * `dynamicpruning` partition filter (asserted by the spec): only
    * the `conv` tier's partition directories are read — at gate scale
    * 2 of 5, at 100 TB the difference between a full scan and a
    * targeted one. Dim broadcasts (it is partition-count-sized); the
    * aggregation happens under the join's broadcast side, so the only
    * exchange is the final 5-row agg. */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    val (factT, dimPath) = bootstrap(spark, dir)
    val dim = spark.read.parquet(dimPath).filter(col("tier") === "conv")
    spark.table(factT)
      .join(broadcast(dim), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_dpp" -> dppJoin _)

  val oracles: Map[String, String] = Map(
    "join_dpp" ->
      s"""SELECT event_type, count(*) AS cnt,
         |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
         |FROM events
         |WHERE event_type IN (${convTypes.map(t => s"'$t'").mkString(", ")})
         |GROUP BY event_type""".stripMargin)
}
