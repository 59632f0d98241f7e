package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed upsert (K1) — the reference's `INSERT ... ON CONFLICT (symbol,
  * timestamp) DO UPDATE` (behavior at reference/scripts/
  * fetch_stock_data.py:80-126), re-expressed as a distributed merge:
  *
  *  - last-writer-wins per key: an incoming batch row replaces the
  *    current row's *update* columns;
  *  - *preserve* columns (the reference keeps `time_zone` and
  *    `created_at` from the first insert) retain the oldest value for
  *    the key;
  *  - keys only in the batch are inserted as-is.
  *
  * Implementation is one shuffle on the merge keys: union both sides
  * tagged with a writer rank, then a single window pass takes the newest
  * row per key while `first(preserve)` over the ascending order pins the
  * original insert's values. At 100 TB the table side would be a
  * partitioned lakehouse table and this same plan runs per affected
  * partition (dynamic partition overwrite prunes untouched partitions);
  * the merge itself stays a single hash-partitioned exchange either way.
  */
object Upsert {

  /** Merge `batch` into `current`. Both must share a schema.
    * @param keys      conflict key columns
    * @param preserve  columns that keep the first-inserted value
    */
  def upsert(current: DataFrame, batch: DataFrame, keys: Seq[String],
      preserve: Seq[String] = Nil): DataFrame = {
    val cols = current.columns.toSeq
    val updateCols = cols.filterNot(c => keys.contains(c) || preserve.contains(c))
    val tagged = current.withColumn("_writer", lit(0))
      .unionByName(batch.select(cols.map(col): _*).withColumn("_writer", lit(1)))
    // One hash aggregation, no sort: the newest writer's update columns
    // via max_by over a struct, the first writer's preserve columns via
    // min_by. Partial aggregation collapses duplicate keys map-side, so
    // the shuffle carries at most one row per (partition, key) — the
    // cheapest possible merge shape.
    val aggs =
      max_by(struct(updateCols.map(col): _*), col("_writer")).as("_u") +:
        preserve.map(c => min_by(col(c), col("_writer")).as(c))
    tagged.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(cols.map {
        case c if updateCols.contains(c) => col(s"_u.$c").as(c)
        case c => col(c)
      }: _*)
  }

  /** Write the merged table as date-partitioned parquet with dynamic
    * partition overwrite — only partitions containing merged keys are
    * rewritten (the 100 TB path; local tests use a temp dir). */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)

  /** Dynamic partition overwrite into a partitioned catalog table:
    * only partitions present in `df` are replaced; every other
    * partition's files are untouched. `df` may read the table it
    * overwrites (the merge and the retention rewrite both do), so no
    * staging copy is made: under dynamic mode the job writes into
    * `.spark-staging-<jobId>` and swaps partitions in only at job
    * commit, after every read task finished, and Spark's "cannot
    * overwrite a path being read" check guards static overwrite only.
    * The writer option form of partitionOverwriteMode is only honored
    * on path-based writes, not insertInto, hence the scoped session
    * conf. */
  def overwritePartitionsInto(spark: SparkSession, df: DataFrame,
      table: String): Unit =
    graft.Conf.withConf(spark, "spark.sql.sources.partitionOverwriteMode",
      "dynamic") {
      df.write.mode("overwrite").insertInto(table)
    }

  /** Gate query: upsert an update+insert batch derived from `orders`
    * onto `orders` itself; deterministic, oracle-expressible.
    * `created_at` (mapped from o_orderdate) must survive updates. */
  def upsertLww(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val current = orders.select(
      col("o_orderkey"),
      col("o_totalprice").as("price"),
      col("o_orderstatus").as("status"),
      col("o_orderdate").as("created_at"))
    val updates = orders.filter(col("o_orderkey") % 3 === 0).select(
      col("o_orderkey"),
      (col("o_totalprice") + lit(1000.0)).as("price"),
      lit("U").as("status"),
      lit("2030-01-01 00:00:00").cast("timestamp").as("created_at"))
    val inserts = orders.filter(col("o_orderkey") < 5).select(
      (col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
      col("o_totalprice").as("price"),
      lit("N").as("status"),
      lit("2030-01-01 00:00:00").cast("timestamp").as("created_at"))
    upsert(current, updates.unionByName(inserts),
      keys = Seq("o_orderkey"), preserve = Seq("created_at"))
  }

  /** Idempotence probe: applying the same batch twice equals once —
    * the reference's re-fetch overlap behavior (M3). Returns per-status
    * counts of upsert(upsert(s,b),b), which the oracle reproduces. */
  def upsertIdempotent(spark: SparkSession, dir: String): DataFrame = {
    val once = upsertLww(spark, dir)
    val batch = once.filter(col("status") === "U")
    upsert(once, batch, Seq("o_orderkey"), Seq("created_at"))
      .groupBy("status")
      .agg(count(lit(1)).as("cnt"), Tables.dsum(col("price")).as("price_sum"))
  }

  /** Full MERGE semantics — WHEN MATCHED AND op='D' THEN DELETE, WHEN
    * MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT — in one
    * key-partitioned full-outer join. [[upsert]] covers the LWW
    * subset (the reference's ON CONFLICT DO UPDATE); this is the
    * general lakehouse MERGE INTO a CDC feed needs, deletes included.
    * One shuffle on the key for both sides; at 100 TB the base side is
    * partition-pruned to partitions containing change keys first
    * (see [[overwritePartitionsInto]]), so the exchange carries
    * touched partitions, not the table.
    *
    * `changes` columns: the key, `op` in ('D','U','I'), and one
    * payload column per base update column named `c_<base column>`. */
  def mergeFull(base: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val payload = base.columns.filterNot(_ == key).toSeq
    base.join(changes, Seq(key), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(col(key) +: payload.map(c =>
        when(col("op").isNotNull, col(s"c_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** Gate query: a deterministic change feed derived from `orders`
    * (keys ending in 0 deleted, 1-2 updated, 3 re-keyed as inserts)
    * merged into `orders` itself. */
  def upsertMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val m = col("o_orderkey") % 10
    val dels = o.where(m === 0).select(col("o_orderkey"),
      lit("D").as("op"), lit(null).cast("string").as("c_o_orderstatus"),
      lit(null).cast("double").as("c_o_totalprice"))
    val upds = o.where(m.isin(1, 2)).select(col("o_orderkey"),
      lit("U").as("op"), lit("U").as("c_o_orderstatus"),
      (col("o_totalprice") + lit(10.0)).as("c_o_totalprice"))
    val ins = o.where(m === 3).select(
      (col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
      lit("I").as("op"), lit("N").as("c_o_orderstatus"),
      lit(1.0).as("c_o_totalprice"))
    mergeFull(o, dels.unionByName(upds).unionByName(ins), "o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "upsert_lww" -> upsertLww _,
    "upsert_idempotent" -> upsertIdempotent _,
    "upsert_merge" -> upsertMerge _)

  private val mergedSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000.0
      |       ELSE o_totalprice END AS price,
      |  CASE WHEN o_orderkey % 3 = 0 THEN 'U' ELSE o_orderstatus END AS status,
      |  o_orderdate AS created_at
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice AS price,
      |  'N' AS status, TIMESTAMP '2030-01-01 00:00:00' AS created_at
      |FROM orders WHERE o_orderkey < 5""".stripMargin

  val oracles: Map[String, String] = Map(
    "upsert_merge" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |ch AS (
        |  SELECT o_orderkey, 'D' AS op, CAST(NULL AS VARCHAR) AS c_status,
        |    CAST(NULL AS DOUBLE) AS c_price
        |  FROM o WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'U' AS op, 'U' AS c_status,
        |    o_totalprice + 10.0 AS c_price
        |  FROM o WHERE o_orderkey % 10 IN (1, 2)
        |  UNION ALL
        |  SELECT o_orderkey + 100000000 AS o_orderkey, 'I' AS op,
        |    'N' AS c_status, 1.0 AS c_price
        |  FROM o WHERE o_orderkey % 10 = 3)
        |SELECT coalesce(o.o_orderkey, ch.o_orderkey) AS o_orderkey,
        |  CASE WHEN ch.op IS NOT NULL THEN ch.c_status
        |       ELSE o.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN ch.op IS NOT NULL THEN ch.c_price
        |       ELSE o.o_totalprice END AS o_totalprice
        |FROM o FULL OUTER JOIN ch ON o.o_orderkey = ch.o_orderkey
        |WHERE ch.op IS NULL OR ch.op <> 'D'""".stripMargin,
    "upsert_lww" -> mergedSql,
    "upsert_idempotent" ->
      s"""SELECT status, count(*) AS cnt,
         |  CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
         |FROM ($mergedSql) GROUP BY status""".stripMargin)
}
