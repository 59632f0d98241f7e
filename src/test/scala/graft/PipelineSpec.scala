package graft

import graft.pipeline.{Scheduler, StockPipeline}
import graft.sources.AlphaVantageClient
import graft.store.Catalog
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def freshPipeline = new StockPipeline(spark, StockPipeline.fixtureFetch)

  test("full run: partial success accounting matches fixtures") {
    val out = StockPipeline.pipelineRun(spark, SparkTestSession.sf)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
    assert(out.toSeq == Seq(("AAPL", true, 2L), ("ERR", false, 0L),
      ("MSFT", true, 1L), ("RL", false, 0L)))
  }

  test("re-running the pipeline does not grow stock_data (upsert idempotence)") {
    StockPipeline.pipelineRun(spark, SparkTestSession.sf)
    val n1 = spark.table("stock_data").count()
    StockPipeline.pipelineRun(spark, SparkTestSession.sf)
    val n2 = spark.table("stock_data").count()
    assert(n1 == n2 && n1 == 3)
  }

  test("pipeline_logs and stock_metadata receive rows per run") {
    val logs0 = spark.table("pipeline_logs").count()
    val meta0 = spark.table("stock_metadata").count()
    StockPipeline.pipelineRun(spark, SparkTestSession.sf)
    assert(spark.table("pipeline_logs").count() == logs0 + 3)
    assert(spark.table("stock_metadata").count() == meta0 + 4)
  }

  test("quality gate flags inverted high/low") {
    import spark.implicits._
    val bad = Seq(("A", java.sql.Timestamp.valueOf("2025-01-01 00:00:00"),
      1.0, 1.0, 2.0, 1.0, 1L,
      java.sql.Timestamp.valueOf("2025-01-01 00:00:00"), "UTC"))
      .toDF("symbol", "timestamp", "open_price", "high_price", "low_price",
        "close_price", "volume", "last_refreshed", "time_zone")
    val checks = freshPipeline.qualityChecks(bad).toMap
    assert(!checks("high_gte_low") && checks("keys_complete"))
  }

  test("retention deletes only expired rows") {
    Catalog.bootstrap(spark)
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2025-06-01 00:00:00")
    val old = java.sql.Timestamp.valueOf("2023-01-01 00:00:00")
    val rows = Seq(
      ("OLD", old, BigDecimal(1), BigDecimal(1), BigDecimal(1), BigDecimal(1),
        1L, old, "UTC", old)).toDF(
      "symbol", "timestamp", "open_price", "high_price", "low_price",
      "close_price", "volume", "last_refreshed", "time_zone", "created_at")
    rows.selectExpr("symbol", "timestamp",
      "cast(open_price as decimal(15,4)) open_price",
      "cast(high_price as decimal(15,4)) high_price",
      "cast(low_price as decimal(15,4)) low_price",
      "cast(close_price as decimal(15,4)) close_price",
      "volume", "last_refreshed", "time_zone", "created_at",
      "cast(timestamp as date) trade_date")
      .write.mode("append").insertInto("stock_data")
    val deleted = Catalog.applyRetention(spark, now)
    assert(deleted("stock_data") >= 1)
    assert(spark.table("stock_data").filter("symbol = 'OLD'").count() == 0)
  }

  test("client throttles between requests and health-checks the probe") {
    val waits = scala.collection.mutable.ArrayBuffer.empty[Long]
    val client = new AlphaVantageClient("k",
      transport = url =>
        if (url.contains("GLOBAL_QUOTE")) """{"Global Quote": {}}""" else "{}",
      interRequestDelayMs = 50L,
      sleeper = waits += _)
    assert(client.healthCheck())
    client.fetchIntraday("AAPL")
    client.fetchIntraday("MSFT")
    assert(waits.nonEmpty && waits.forall(_ <= 50L))
  }

  test("retry backs off exponentially between attempts") {
    val waits = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val p = new StockPipeline(spark, _ => None, retries = 4,
      retryDelayMs = 100L, sleeper = waits += _)
    val out = p.retry(4) { calls += 1; None }
    assert(out.isEmpty && calls == 4)
    assert(waits.toSeq == Seq(100L, 200L, 400L)) // doubling, none after last
  }

  test("scheduler runs fixed-rate and notifies durably on failure") {
    val waits = scala.collection.mutable.ArrayBuffer.empty[Long]
    var clock = 0L
    // each now() call advances 1s, so every "run" appears to take time
    def now(): Long = { clock += 1000L; clock }
    val boom = new StockPipeline(spark,
      _ => throw new RuntimeException("transport down"))
    val sched = new Scheduler(spark, boom, intervalMs = 60000L,
      now = now _, sleeper = waits += _)
    val logs0 = spark.table("pipeline_logs")
      .filter("task_id = 'notify_failure'").count()
    val results = sched.run(Seq("AAPL"), runs = 2)
    assert(results == Seq(false, false))
    // fixed-rate: sleep = interval - elapsed, elapsed > 0 via fake clock
    assert(waits.size == 2 && waits.forall(w => w > 0 && w < 60000L))
    val notes = spark.table("pipeline_logs")
      .filter("task_id = 'notify_failure'")
    assert(notes.count() == logs0 + 2)
    assert(notes.filter("error_message LIKE '%transport down%'").count() >= 2)
  }

  test("failed transport returns None after retries; run continues") {
    val p = new StockPipeline(spark, _ => None, retries = 3)
    val (bars, results, prof) = p.ingest(Seq("ZZZ"))
    try {
      assert(bars.isEmpty && results == Seq(StockPipeline.SymbolResult("ZZZ", false, 0L)))
      // an empty batch passes the gate vacuously and touches no date
      assert(prof.quality.forall(_._2) && prof.dates.isEmpty)
    } finally bars.unpersist()
  }

  test("one profile aggregate gives what the per-symbol, quality and date collects gave") {
    import org.apache.spark.sql.functions._
    def payload(sym: String, bars: (String, String, String)*) =
      s"""{"Meta Data": {"2. Symbol": "$sym",
         |  "3. Last Refreshed": "2024-05-07 16:00:00", "5. Time Zone": "UTC"},
         | "Time Series (60min)": {""".stripMargin + bars.map { case (ts, hi, lo) =>
        s""""$ts": {"1. open": "1.5", "2. high": "$hi", "3. low": "$lo",
           |  "4. close": "1.5", "5. volume": "10"}""".stripMargin
      }.mkString(", ") + "}}"
    val payloads = Map(
      // spans two trade dates; the second bar's high is below its low
      "TWO" -> payload("TWO", ("2024-05-06 15:00:00", "2.0", "1.0"),
        ("2024-05-07 10:00:00", "1.0", "2.0")),
      "ONE" -> payload("ONE", ("2024-05-07 11:00:00", "2.0", "1.0")),
      "ERR" -> graft.sources.AlphaVantage.fixtureError)
    val p = new StockPipeline(spark, payloads.get)
    val (bars, results, prof) = p.ingest(Seq("two", "ONE", "ERR", "GONE"))
    try {
      // the three separate collects a run used to make
      val perSymbol = bars.groupBy("symbol").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val agg = bars.agg(
        sum(when(col("symbol").isNull || col("timestamp").isNull, 1)
          .otherwise(0)),
        sum(when(col("open_price") < 0 || col("high_price") < 0
          || col("low_price") < 0 || col("close_price") < 0
          || col("volume") < 0, 1).otherwise(0)),
        sum(when(col("high_price") < col("low_price"), 1).otherwise(0)))
        .collect()(0)
      val quality = Seq("keys_complete" -> (agg.getLong(0) == 0),
        "values_non_negative" -> (agg.getLong(1) == 0),
        "high_gte_low" -> (agg.getLong(2) == 0))
      val dates = bars.select(to_date(col("timestamp"))).distinct().collect()
        .map(_.getDate(0)).toSet
      val sr = StockPipeline.SymbolResult
      assert(results == Seq(sr("TWO", true, 2L), sr("ONE", true, 1L),
        sr("ERR", false, 0L), sr("GONE", false, 0L)))
      assert(prof.records == perSymbol && perSymbol == Map("TWO" -> 2L, "ONE" -> 1L))
      assert(prof.quality == quality)
      assert(quality.toMap == Map("keys_complete" -> true,
        "values_non_negative" -> true, "high_gte_low" -> false))
      assert(prof.dates.size == 2 && prof.dates.toSet == dates)
      assert(dates == Set("2024-05-06", "2024-05-07").map(java.sql.Date.valueOf))
    } finally bars.unpersist()
  }

  test("a warm fixture run, summary collected, starts at most 9 Spark jobs in the caller's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    StockPipeline.pipelineRun(spark, SparkTestSession.sf).collect() // warm
    val sc = spark.sparkContext
    // (job group, call site) of every job started
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        // the result stage is named after the job's call site
        jobs += Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull ->
          e.stageInfos.maxBy(_.stageId).name
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("pipeline-run-jobs", "warm fixture run")
      try StockPipeline.pipelineRun(spark, SparkTestSession.sf).collect()
      finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    val seen = jobs.synchronized(jobs.toList)
    // the concurrent metadata append must be attributed to the run too
    assert(seen.nonEmpty && seen.forall(_._1 == "pipeline-run-jobs"), seen)
    assert(seen.size <= 9, seen.map(_._2).mkString(s"${seen.size} jobs: ", "; ", ""))
  }
}
