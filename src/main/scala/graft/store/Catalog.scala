package graft.store

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog bootstrap + snapshot + retention (SURVEY.md K2/K3/M4/A5/S4).
  *
  * The reference creates `stock_data` via DDL as the first DAG task
  * (reference/dags/stock_data_pipeline.py:23-41) and documents two
  * operational tables (`stock_metadata`, `pipeline_logs`,
  * reference/README.md:127-134) that its smoke test asserts exist
  * (reference/Makefile:138); we create all three. DECIMAL(15,4) price
  * columns and the composite (symbol, timestamp) key are kept as
  * declared. Tables are plain managed parquet tables — at scale they'd
  * be date-partitioned (see Upsert.writePartitioned).
  */
object Catalog extends graft.GateModule {

  val tableNames: Seq[String] = Seq("stock_data", "stock_metadata", "pipeline_logs")

  /** Explicit external-table root: the driver recreates the Spark
    * session (and its in-memory catalog) every round, so managed-table
    * locations would orphan. External LOCATIONs re-attach cleanly.
    * `GRAFT_WAREHOUSE`, else `data/warehouse` under the working
    * directory (the checkout root under sbt), so two checkouts never
    * share tables. */
  def warehouse: String = sys.env.getOrElse("GRAFT_WAREHOUSE",
    new java.io.File(System.getProperty("user.dir"), "data/warehouse").getPath)

  /** `stock_data` is date-partitioned on `trade_date` =
    * to_date(timestamp): the merge key (symbol, timestamp) functionally
    * determines its partition, so an upsert batch only ever conflicts
    * with rows inside the partitions its own dates touch — merge and
    * retention both become partition-pruned rewrites instead of
    * full-table scans (the 100 TB write path). */
  val stockDataDdl: String =
    """CREATE TABLE IF NOT EXISTS stock_data (
      |  symbol STRING NOT NULL,
      |  timestamp TIMESTAMP NOT NULL,
      |  open_price DECIMAL(15,4),
      |  high_price DECIMAL(15,4),
      |  low_price DECIMAL(15,4),
      |  close_price DECIMAL(15,4),
      |  volume BIGINT,
      |  last_refreshed TIMESTAMP,
      |  time_zone STRING,
      |  created_at TIMESTAMP,
      |  trade_date DATE
      |) USING PARQUET
      |PARTITIONED BY (trade_date)
      |LOCATION '${warehouse}/stock_data'""".stripMargin
      .replace("${warehouse}", warehouse)

  val stockMetadataDdl: String =
    """CREATE TABLE IF NOT EXISTS stock_metadata (
      |  symbol STRING NOT NULL,
      |  last_updated TIMESTAMP,
      |  last_fetch_success BOOLEAN,
      |  error_message STRING,
      |  total_records BIGINT
      |) USING PARQUET LOCATION '${warehouse}/stock_metadata'""".stripMargin
      .replace("${warehouse}", warehouse)

  val pipelineLogsDdl: String =
    """CREATE TABLE IF NOT EXISTS pipeline_logs (
      |  dag_id STRING,
      |  task_id STRING,
      |  execution_date TIMESTAMP,
      |  status STRING,
      |  duration DOUBLE,
      |  error_message STRING,
      |  records_processed BIGINT,
      |  created_at TIMESTAMP
      |) USING PARQUET LOCATION '${warehouse}/pipeline_logs'""".stripMargin
      .replace("${warehouse}", warehouse)

  /** O1 first stage: DDL before any ingest. Idempotent, and DDL runs
    * only for tables the session catalog lacks. A partitioned
    * external table re-attached over existing data starts with an empty
    * partition list in the (per-session) catalog, so recover partitions
    * from the directory layout; SYNC also drops entries whose
    * directories retention removed. The repair runs on every call: it
    * also picks up partitions other processes wrote. */
  def bootstrap(spark: SparkSession): Unit = {
    for ((table, ddl) <- tableNames.zip(
           Seq(stockDataDdl, stockMetadataDdl, pipelineLogsDdl))
         if !spark.catalog.tableExists(table))
      spark.sql(ddl)
    // repair requires the location to exist (first boot starts empty)
    val loc = new org.apache.hadoop.fs.Path(s"$warehouse/stock_data")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(loc)
    spark.sql("MSCK REPAIR TABLE stock_data SYNC PARTITIONS")
  }

  /** S4/A5: catalog existence check over the three expected tables. */
  def tablesPresent(spark: SparkSession): DataFrame = {
    bootstrap(spark)
    val present = tableNames.filter(spark.catalog.tableExists)
    import spark.implicits._
    present.sorted.toDF("table_name")
  }

  /** K3: full-table snapshot (the pg_dump analog) and restore. */
  def snapshot(spark: SparkSession, table: String, path: String): Unit =
    spark.table(table).write.mode("overwrite").parquet(path)

  def restore(spark: SparkSession, path: String, table: String): Unit =
    Tables.parquet(spark, path).write.mode("overwrite").insertInto(table)

  /** K3 extension (reference README's export roadmap): export any
    * DataFrame as parquet/orc/csv/json. Parquet/ORC are the columnar
    * scale paths (splittable, predicate pushdown, min/max skipping);
    * CSV/JSON exist for interchange. */
  def export(df: org.apache.spark.sql.DataFrame, path: String,
      format: String): Unit = {
    val w = df.write.mode("overwrite").format(format)
    (if (format == "csv") w.option("header", "true") else w).save(path)
  }

  /** Read an export back with an explicit schema (never inferSchema —
    * SURVEY.md §1.3: the engine's schemas are declared, and inference
    * would re-scan 100 TB to guess what we already know). */
  def importAs(spark: SparkSession, path: String, format: String,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame = {
    val r = spark.read.format(format).schema(schema)
    (if (format == "csv") r.option("header", "true") else r).load(path)
  }

  /** Drop date partitions from a partitioned external table: the
    * catalog entry via DDL, the files via the filesystem (external
    * tables keep user-managed files on DROP PARTITION, and a leftover
    * directory would be resurrected by the next bootstrap's repair). */
  def dropDatePartitions(spark: SparkSession, table: String,
      dates: Seq[java.sql.Date]): Unit = if (dates.nonEmpty) {
    val specs = dates.map(d => s"PARTITION (trade_date = '$d')").mkString(", ")
    spark.sql(s"ALTER TABLE $table DROP IF EXISTS $specs")
    val hconf = spark.sparkContext.hadoopConfiguration
    dates.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"$warehouse/$table/trade_date=$d")
      p.getFileSystem(hconf).delete(p, true)
    }
  }

  /** M4/P10: retention — delete stock rows older than `days` and log
    * rows older than 30 days. Returns rows deleted per table.
    *
    * `stock_data` is the partition-pruned form: only partitions with
    * trade_date <= the cutoff date are scanned (everything newer is
    * pruned at planning time), fully-expired partitions are dropped
    * as metadata + directory deletes with no row rewrite at all, and
    * only the single partition straddling the cutoff timestamp is
    * rewritten, in place, via dynamic partition overwrite. The per-date
    * stats collect is bounded by the retention horizon in days, not
    * rows. */
  def applyRetention(spark: SparkSession, now: java.sql.Timestamp,
      dataDays: Int = 365, logDays: Int = 30): Map[String, Long] = {
    def sweepPartitioned(table: String, days: Int): Long = {
      val cutoff = new java.sql.Timestamp(
        now.getTime - days.toLong * 24 * 3600 * 1000)
      // trade_date = to_date(timestamp) in the session zone, so
      // timestamp < cutoff implies trade_date <= to_date(cutoff):
      // the candidate filter is partition-pruning and lossless.
      val candidates = spark.table(table)
        .filter(col("trade_date") <= to_date(lit(cutoff)))
      val stats = candidates.groupBy("trade_date").agg(
        count(lit(1)).as("n"),
        count(when(col("timestamp") < lit(cutoff), 1)).as("expired"))
        .collect()
      val deleted = stats.map(_.getLong(2)).sum
      val full = stats.filter(r => r.getLong(2) == r.getLong(1)).map(_.getDate(0))
      val straddling = stats
        .filter(r => r.getLong(2) > 0 && r.getLong(2) < r.getLong(1))
        .map(_.getDate(0)).toSeq
      dropDatePartitions(spark, table, full.toSeq)
      if (straddling.nonEmpty) {
        val survivors = spark.table(table)
          .filter(col("trade_date").isin(straddling: _*)
            && col("timestamp") >= lit(cutoff))
        graft.operators.Upsert.overwritePartitionsInto(spark, survivors, table)
      }
      deleted
    }
    def sweep(table: String, tsCol: String, days: Int): Long = {
      val cutoff = new java.sql.Timestamp(
        now.getTime - days.toLong * 24 * 3600 * 1000)
      val all = spark.table(table)
      val kept = all.filter(col(tsCol) >= lit(cutoff))
      // single counting scan: total and survivors in one agg
      val cnts = all.agg(count(lit(1)),
        count(when(col(tsCol) >= lit(cutoff), 1))).collect()(0)
      val deleted = cnts.getLong(0) - cnts.getLong(1)
      if (deleted > 0) {
        // stage surviving rows before overwriting the table being read
        // (a static overwrite may not read its own path; never collects
        // to the driver), and drop the copy once the eager insert is done
        val staging = java.nio.file.Files
          .createTempDirectory(s"graft_retention_$table")
        try {
          kept.write.mode("overwrite").parquet(staging.toString)
          Tables.parquet(spark, staging.toString).write.mode("overwrite")
            .insertInto(table)
        } finally org.apache.hadoop.fs.FileUtil.fullyDelete(staging.toFile)
      }
      deleted
    }
    Map(
      "stock_data" -> sweepPartitioned("stock_data", dataDays),
      "pipeline_logs" -> sweep("pipeline_logs", "created_at", logDays))
  }

  /** K3 gate: export `documents` as CSV and JSON, read both back with
    * the declared schema, and return the union tagged by format —
    * equal to two copies of the table iff both interchange round-trips
    * are lossless. (FormatSpec covers parquet/orc with richer types;
    * this puts the text-format path under the DuckDB oracle.) */
  def exportRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val base = Staging.gateDir("graft_export").toString
    Seq("csv", "json").map { fmt =>
      export(docs, s"$base/$fmt", fmt)
      importAs(spark, s"$base/$fmt", fmt, docs.schema)
        .withColumn("fmt", org.apache.spark.sql.functions.lit(fmt))
    }.reduce(_ unionByName _)
  }

  /** Schema evolution across a column-addition boundary (SURVEY §1.3:
    * the reference hard-codes its schema and would break; an engine
    * must read old and new files together): half the corpus is staged
    * WITHOUT `event_type` (the pre-evolution layout), half with it,
    * and a `mergeSchema` read unifies them — missing columns surface
    * as nulls, coalesced to a sentinel label downstream. At 100 TB
    * mergeSchema's footer sweep is a one-time planning cost; steady
    * state pins the merged schema in the catalog and new columns
    * arrive via metadata-only DDL, exactly like the date-partition
    * layout this store already uses. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.dsum
    val ev = graft.Tables.load(spark, dir, "events")
    val legacy = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("value"))
    val modern = ev.filter(col("event_id") % 2 =!= 0)
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type"))
    val base = Staging.gateDir("graft_schema_evo")
    val (pa, pb) = (s"$base/legacy", s"$base/modern")
    legacy.write.mode("overwrite").parquet(pa)
    modern.write.mode("overwrite").parquet(pb)
    spark.read.option("mergeSchema", "true").parquet(pa, pb)
      .groupBy(coalesce(col("event_type"), lit("legacy")).as("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "schema_evolution" -> schemaEvolution _,
    "catalog_tables" -> ((s, _) => tablesPresent(s)),
    "export_roundtrip" -> exportRoundtrip _)

  val oracles: Map[String, String] = Map(
    // the merged read's nulls are exactly the legacy (even-id) half
    "schema_evolution" ->
      """SELECT CASE WHEN event_id % 2 = 0 THEN 'legacy'
        |       ELSE event_type END AS event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY 1""".stripMargin,
    "catalog_tables" ->
      """SELECT * FROM (VALUES ('pipeline_logs'), ('stock_data'),
        | ('stock_metadata')) AS t(table_name)""".stripMargin,
    "export_roundtrip" ->
      """SELECT 'csv' AS fmt, * FROM documents
        |UNION ALL SELECT 'json' AS fmt, * FROM documents""".stripMargin)
}
