package graft

import org.scalatest.funsuite.AnyFunSuite

/** Exercises every `graft.Ops` subcommand (the reference-Makefile
  * operational surface) through the testable `run` core. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def capture(args: String*)(
      key: Option[String] = Some("k"),
      transport: Option[String => String] = None): (Int, Seq[String]) = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Ops.run(spark, args, key, lines += _, transport)
    (code, lines.toSeq)
  }

  test("health: green with a healthy probe, red when the probe fails") {
    val quote = """{"Global Quote": {"01. symbol": "AAPL"}}"""
    val (ok, lines) = capture("health")(transport = Some(_ => quote))
    assert(ok == 0)
    assert(lines.exists(_.contains("api_probe: OK")))
    assert(lines.exists(_.contains("catalog_tables: OK")))
    val (bad, lines2) =
      capture("health")(transport = Some(_ => """{"Note": "limited"}"""))
    assert(bad == 1)
    assert(lines2.exists(_.contains("api_probe: FAIL")))
  }

  test("health: the API probe is skipped, not failed, with no key") {
    val (code, lines) = capture("health")(key = None)
    assert(code == 0)
    assert(lines.exists(_.contains("api_probe: SKIP")))
  }

  test("validate-env flags a blank API key") {
    assert(capture("validate-env")(key = Some("k"))._1 == 0)
    val (code, lines) = capture("validate-env")(key = Some("  "))
    assert(code == 1)
    assert(lines.exists(_.contains("api_key_configured: FAIL")))
  }

  test("backup/restore round-trips stock_metadata through the CLI") {
    store.Catalog.bootstrap(spark)
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2025-03-01 00:00:00")
    Seq(("OPS", ts, true, null.asInstanceOf[String], 3L))
      .toDF("symbol", "last_updated", "last_fetch_success", "error_message",
        "total_records")
      .write.mode("append").insertInto("stock_metadata")
    val before = spark.table("stock_metadata").count()
    val dir = graft.store.Staging.jvmDir("ops_backup").toString
    assert(capture("backup", "stock_metadata", s"$dir/snap")()._1 == 0)
    assert(capture("restore", s"$dir/snap", "stock_metadata")()._1 == 0)
    assert(spark.table("stock_metadata").count() == before)
    assert(spark.table("stock_metadata")
      .filter("symbol = 'OPS' AND total_records = 3").count() >= 1)
  }

  test("retention reports per-table deletions and leaves fresh rows") {
    store.Catalog.bootstrap(spark)
    import spark.implicits._
    val fresh = new java.sql.Timestamp(System.currentTimeMillis())
    val stale = new java.sql.Timestamp(
      System.currentTimeMillis() - 400L * 24 * 3600 * 1000)
    Seq(("d", "t", fresh, "success", 0.0, null.asInstanceOf[String], 0L, fresh),
      ("d", "t", stale, "success", 0.0, null.asInstanceOf[String], 0L, stale))
      .toDF("dag_id", "task_id", "execution_date", "status", "duration",
        "error_message", "records_processed", "created_at")
      .write.mode("append").insertInto("pipeline_logs")
    val (code, lines) = capture("retention", "365", "30")()
    assert(code == 0)
    assert(lines.exists(l => l.contains("retention pipeline_logs:")))
    assert(spark.table("pipeline_logs")
      .filter(org.apache.spark.sql.functions.col("created_at") === stale)
      .count() == 0)
  }

  test("pipeline runs the offline fixture DAG end-to-end without a key") {
    val (code, lines) = capture("pipeline")(key = None)
    assert(code == 0)
    assert(lines.exists(_.contains("pipeline AAPL: OK (2 bars)")))
    assert(lines.exists(_.contains("pipeline ERR: FAIL (0 bars)")))
  }

  test("unknown commands exit 2 with usage") {
    val (code, lines) = capture("frobnicate")()
    assert(code == 2 && lines.exists(_.contains("usage:")))
  }

  test("malformed retention args fall through to usage, not a stack trace") {
    val (code, lines) = capture("retention", "thirty")()
    assert(code == 2 && lines.exists(_.contains("usage:")))
  }

  test("status prints tables, per-symbol summary, and recent runs") {
    store.Catalog.bootstrap(spark)
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2025-03-01 10:00:00")
    Seq(("STAT", ts, java.math.BigDecimal.valueOf(1.0),
      java.math.BigDecimal.valueOf(1.0), java.math.BigDecimal.valueOf(1.0),
      java.math.BigDecimal.valueOf(1.0), 10L, ts, "UTC", ts,
      java.sql.Date.valueOf("2025-03-01")))
      .toDF("symbol", "timestamp", "open_price", "high_price", "low_price",
        "close_price", "volume", "last_refreshed", "time_zone", "created_at",
        "trade_date")
      .write.mode("append").insertInto("stock_data")
    Seq(("status_dag", "t", ts, "success", 0.0,
      null.asInstanceOf[String], 7L, ts))
      .toDF("dag_id", "task_id", "execution_date", "status", "duration",
        "error_message", "records_processed", "created_at")
      .write.mode("append").insertInto("pipeline_logs")
    try {
      val (code, lines) = capture("status")()
      assert(code == 0)
      assert(lines.exists(_.contains("status table stock_data")))
      assert(lines.exists(l => l.contains("status STAT:") &&
        l.contains("records")))
      assert(lines.exists(l => l.contains("status run") &&
        l.contains("success")))
    } finally
      // PipelineSpec asserts absolute stock_data counts — remove the
      // partition this test created so suite order can't leak state
      store.Catalog.dropDatePartitions(spark, "stock_data",
        Seq(java.sql.Date.valueOf("2025-03-01")))
  }

  test("staging-report lists generations; staging-gc reports reclaim") {
    // ensure at least one generation exists so the report is non-empty
    operators.Dedup.ensureCanonicalStaging(spark, SparkTestSession.sf)
    val (code, lines) = capture("staging-report")()
    assert(code == 0)
    assert(lines.exists(l => l.contains("staging canon") && l.contains("DONE")
      && l.contains("size=")), s"no canon generation reported: $lines")
    assert(lines.exists(_.contains("staging total:")))
    // gc with keep-current must not delete the current generation
    val (gcCode, gcLines) = capture("staging-gc", SparkTestSession.sf)()
    assert(gcCode == 0)
    assert(gcLines.exists(_.contains("reclaimed")))
    val (code2, lines2) = capture("staging-report")()
    assert(code2 == 0)
    assert(lines2.exists(l => l.contains("staging canon") && l.contains("DONE")),
      "staging-gc (keep-current) deleted the current canon generation")
  }
}
