package graft

import graft.operators.Upsert
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB storage path: date-partitioned parquet + partition-pruned
  * reads. Asserts the layout writes real partition directories and
  * that a date predicate prunes at planning time (PartitionFilters in
  * the scan, only matching directories touched). */
class PartitionedWriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("dynamic date-partitioned write + partition-pruned scan") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = Tables.load(spark, SparkTestSession.sf, "orders")
      .withColumn("order_date", col("o_orderdate").cast("date"))
      .withColumn("order_year", year(col("o_orderdate")))
    Upsert.writePartitioned(df, out, "order_year")

    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("order_year=")).sorted
    assert(dirs.length >= 3, s"expected year partitions, got ${dirs.toSeq}")

    val read = spark.read.parquet(out).filter(col("order_year") === 1996)
    read.collect()
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(order_year"),
      s"partition filter not applied:\n$plan")
    // pruned scan reads exactly the one matching directory
    val scanned = read.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanned.contains("order_year=1995"))
  }

  test("stock_data merge rewrites only partitions containing batch dates") {
    import spark.implicits._
    import graft.store.Catalog
    Catalog.bootstrap(spark)
    val p = new graft.pipeline.StockPipeline(spark,
      graft.pipeline.StockPipeline.fixtureFetch)
    def bars(sym: String, ts: String) = Seq(
      (sym, java.sql.Timestamp.valueOf(ts), 1.0, 2.0, 0.5, 1.5, 10L,
        java.sql.Timestamp.valueOf(ts), "UTC"))
      .toDF("symbol", "timestamp", "open_price", "high_price", "low_price",
        "close_price", "volume", "last_refreshed", "time_zone")
    p.upsertIntoStockData(bars("PARTA", "2020-03-01 10:00:00")
      .unionByName(bars("PARTB", "2020-03-02 10:00:00")))
    def fileState(d: String) = new java.io.File(
      s"${Catalog.warehouse}/stock_data/trade_date=$d").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val before = fileState("2020-03-01")
    assert(before.nonEmpty)
    // a merge touching only 2020-03-02 must leave 03-01's files alone
    p.upsertIntoStockData(bars("PARTB", "2020-03-02 11:00:00"))
    assert(fileState("2020-03-01") == before,
      "untouched date partition was rewritten by the merge")
    assert(fileState("2020-03-02") != before)
    assert(spark.table("stock_data").filter("symbol LIKE 'PART%'").count() == 3)
    // retention drops the fully-expired partitions (metadata + files)
    // without touching anything newer — and cleans this test up
    val deleted = Catalog.applyRetention(spark,
      java.sql.Timestamp.valueOf("2021-06-01 00:00:00"),
      dataDays = 1, logDays = 36500)
    assert(deleted("stock_data") == 3)
    assert(!new java.io.File(
      s"${Catalog.warehouse}/stock_data/trade_date=2020-03-01").exists)
    assert(spark.table("stock_data").filter("symbol LIKE 'PART%'").count() == 0)
  }

  test("retention rewrites a straddling partition in place, neighbours untouched") {
    import spark.implicits._
    import graft.store.Catalog
    Catalog.bootstrap(spark)
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val rows = Seq("2019-05-01 09:00:00", "2019-05-01 15:00:00",
      "2019-05-02 10:00:00").map(t => ("STRAD", ts(t)))
    rows.toDF("symbol", "timestamp").selectExpr("symbol", "timestamp",
      "cast(1 as decimal(15,4)) open_price",
      "cast(2 as decimal(15,4)) high_price",
      "cast(1 as decimal(15,4)) low_price",
      "cast(1 as decimal(15,4)) close_price",
      "10L volume", "timestamp last_refreshed", "'UTC' time_zone",
      "timestamp created_at", "cast(timestamp as date) trade_date")
      .write.mode("append").insertInto("stock_data")
    // an expired log row, so the non-partitioned sweep rewrites too
    Seq(("retention_dag", "t", ts("2019-04-01 00:00:00"), "success", 0.0,
      null.asInstanceOf[String], 0L, ts("2019-04-01 00:00:00")))
      .toDF("dag_id", "task_id", "execution_date", "status", "duration",
        "error_message", "records_processed", "created_at")
      .write.mode("append").insertInto("pipeline_logs")
    def fileState(d: String) = new java.io.File(
      s"${Catalog.warehouse}/stock_data/trade_date=$d").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    def staged() = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().map(_.getName)
      .filter(n => n.startsWith("graft_dynovr_") || n.startsWith("graft_retention_"))
      .toSet
    val neighbour = fileState("2019-05-02")
    val stagedBefore = staged()
    val total = spark.table("stock_data").count()
    try {
      // cutoff 2019-05-01 12:00: one row of the 05-01 partition expires
      val deleted = Catalog.applyRetention(spark,
        ts("2019-05-11 12:00:00"), dataDays = 10, logDays = 10)
      assert(deleted("stock_data") == 1 && deleted("pipeline_logs") >= 1)
      val left = spark.table("stock_data").filter("symbol = 'STRAD'")
        .select("timestamp").as[java.sql.Timestamp].collect().toSet
      assert(left == Set(ts("2019-05-01 15:00:00"), ts("2019-05-02 10:00:00")))
      assert(fileState("2019-05-02") == neighbour,
        "a partition newer than the cutoff was rewritten by retention")
      assert(spark.table("stock_data").count() == total - 1)
      assert(spark.table("pipeline_logs")
        .filter("dag_id = 'retention_dag'").count() == 0)
      assert(staged() == stagedBefore, "retention left a staging copy behind")
    } finally Catalog.dropDatePartitions(spark, "stock_data",
      Seq("2019-05-01", "2019-05-02").map(java.sql.Date.valueOf))
  }

  test("dynamic overwrite replaces only touched partitions") {
    val out = java.nio.file.Files.createTempDirectory("graft_dyn").toString
    import spark.implicits._
    val v1 = Seq((1L, "a", 2000), (2L, "b", 2001)).toDF("k", "v", "y")
    Upsert.writePartitioned(v1, out, "y")
    // overwrite only partition y=2001
    val v2 = Seq((3L, "c", 2001)).toDF("k", "v", "y")
    Upsert.writePartitioned(v2, out, "y")
    val back = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(back == Set((1L, "a", 2000), (3L, "c", 2001)),
      s"partition 2000 must survive, 2001 replaced: $back")
  }

  test("backfill detects exactly the damaged partition and repairs it") {
    import graft.store.Backfill
    val sf = SparkTestSession.sf
    // full cycle first (bootstraps, damages, repairs)
    val out = Backfill.backfillQuery(spark, sf).cache()
    val repaired = out.filter(col("repaired")).select("day")
      .collect().map(_.getString(0)).toSeq
    assert(repaired == Seq(Backfill.damagedDay))
    // post-repair store equals the source per-day census
    val src = graft.Tables.load(spark, sf, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == src)
    // after a repair, a fresh manifest diff must be clean
    val t = Backfill.bootstrap(spark, sf)
    assert(Backfill.detectStale(spark, sf, t).isEmpty)
    out.unpersist()
    // a STORE-ONLY day (restated out of the source) must be detected
    // and DROPPED — dynamic overwrite alone can never remove it
    import spark.implicits._
    Seq((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
        -1L, 0.0, "2030-01-01"))
      .toDF("event_id", "ts", "user_id", "value", "day")
      .write.mode("append").insertInto(t)
    assert(Backfill.detectStale(spark, sf, t) == Seq("2030-01-01"))
    val after = Backfill.backfillQuery(spark, sf)
    assert(after.filter(col("day") === "2030-01-01").count() == 0)
    assert(Backfill.detectStale(spark, sf, t).isEmpty)
    ()
  }
}

class TimeTravelSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.store.TimeTravel

  test("pinned version-1 read survives the version-2 write") {
    val sf = SparkTestSession.sf
    val base = TimeTravel.snapshot(spark, sf)
    import org.apache.spark.sql.functions._
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3)))
      .toMap
    val v1 = key(TimeTravel.readAsOf(spark, base, 1L))
    val v2 = key(TimeTravel.readAsOf(spark, base, 2L))
    // a request past the log's head resolves to the latest snapshot
    val head = key(TimeTravel.readAsOf(spark, base, 99L))
    assert(head == v2)
    assert(v1.values.forall(_._2 == 1L) && v2.values.forall(_._2 == 2L))
    // v1 is a strict prefix of the corpus: fewer days, same counts on
    // fully-closed days, and strictly less mass overall
    assert(v1.keySet.subsetOf(v2.keySet) && v1.size < v2.size)
    val closed = v1.keys.filter(_ < "2024-01-15")
    assert(closed.nonEmpty && closed.forall(d => v1(d)._1 == v2(d)._1))
    // the per-day totals match a direct recompute at the v1 watermark
    val direct = Tables.load(spark, sf, "events")
      .filter(col("ts") < to_timestamp(lit(TimeTravel.asOfSplit)))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v1.view.mapValues(_._1).toMap == direct)
    // below the log's first version there is nothing to read
    intercept[IllegalArgumentException] {
      TimeTravel.readAsOf(spark, base, 0L)
    }
  }
}
