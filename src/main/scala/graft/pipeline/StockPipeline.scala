package graft.pipeline

import graft.operators.Upsert
import graft.sources.{AlphaVantage, AlphaVantageClient}
import graft.store.Catalog
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** End-to-end pipeline orchestration (SURVEY.md §2.9, §3.1): the
  * reference's two-task DAG plus its documented-but-unshipped stages
  * (quality gate, cleanup, run summary), Spark-first.
  *
  * Stage order (O1): preflight -> catalog bootstrap -> per-symbol
  * fetch/parse -> batch upsert -> quality gate -> logs/metadata sinks.
  * Per-symbol isolation (O3): one symbol failing skips it and the run
  * continues; the summary reports partial success. Retries (O2) wrap
  * the fetch. Rate limiting (O4) lives in the client. All fetching is
  * driver-side (5 req/min budget); everything after `parseBars` is
  * distributed.
  *
  * One pass per run: the fetched payloads are parsed once into a
  * cached batch, and ONE bounded aggregate ([[profile]]) yields
  * everything the driver needs from it — per-symbol record counts,
  * the quality-gate counts and the touched trade dates. The merge then
  * reads the same cached batch and overwrites the touched date
  * partitions of `stock_data` in place, and the two log appends run
  * concurrently. An hourly run of a few symbols is all fixed cost, so
  * the job count is the latency.
  */
class StockPipeline(
    spark: SparkSession,
    fetch: String => Option[String],
    now: () => java.sql.Timestamp = () =>
      new java.sql.Timestamp(System.currentTimeMillis()),
    retries: Int = 3,
    retryDelayMs: Long = 0L,
    sleeper: Long => Unit = Thread.sleep) {

  import spark.implicits._

  /** O2: bounded retry with exponential backoff (reference
    * README.md:379 documents doubling delays between attempts):
    * attempt k sleeps retryDelayMs * 2^k before retrying. */
  def retry[T](attempts: Int)(f: => Option[T]): Option[T] = {
    var left = attempts
    var delay = retryDelayMs
    var out: Option[T] = None
    while (out.isEmpty && left > 0) {
      out = f
      left -= 1
      if (out.isEmpty && left > 0 && delay > 0) {
        sleeper(delay)
        delay *= 2
      }
    }
    out
  }

  /** O5: preflight gates — fail fast before touching any table. The
    * catalog probe is a metadata lookup of the current database, not a
    * table listing. */
  def preflight(apiKeyConfigured: Boolean): Seq[(String, Boolean)] = Seq(
    "api_key_configured" -> apiKeyConfigured,
    "spark_session_alive" -> !spark.sparkContext.isStopped,
    "catalog_reachable" -> scala.util.Try(
      spark.catalog.databaseExists(spark.catalog.currentDatabase)).getOrElse(false))

  import StockPipeline.{Profile, SymbolResult}

  /** Fetch + parse every symbol (driver-side fetch, distributed parse);
    * per-symbol isolation. Returns the parsed bars — CACHED, the
    * caller unpersists them — the per-symbol results and the batch's
    * [[profile]], which is the only pass over the bars before the merge
    * reads them again from the cache. */
  def ingest(symbols: Seq[String]): (DataFrame, Seq[SymbolResult], Profile) = {
    val cleaned = symbols.map(_.trim.toUpperCase).filter(_.nonEmpty) // P8
    val payloads = cleaned.map { s => s -> retry(retries)(fetch(s)) }
    val raw = payloads.collect { case (s, Some(p)) => (s, p) }
      .toDF("symbol", "payload")
    val bars = AlphaVantage.parseBars(spark, raw).cache()
    val prof =
      try profile(bars)
      catch { case e: Throwable => bars.unpersist(); throw e }
    val results = payloads.map { case (s, p) =>
      // a payload that yields zero rows (Error Message / Note / all rows
      // malformed) counts as a failed symbol, matching the reference's
      // skip-and-continue accounting
      val n = prof.records.getOrElse(s, 0L)
      SymbolResult(s, p.isDefined && n > 0, n)
    }
    (bars, results, prof)
  }

  /** The batch's whole driver-side summary in ONE aggregate collect
    * over GROUPING SETS ((symbol), (trade_date)): a row per symbol (its
    * record count and quality-gate counts) plus a row per trade date,
    * never symbols × dates, so the collect is bounded by the batch's
    * symbols and calendar span, not its rows. The symbol rows partition
    * the batch, so their sums are the batch totals. */
  def profile(bars: DataFrame): Profile = {
    def flagged(c: Column) = sum(when(c, 1L).otherwise(0L))
    val rows = bars.withColumn("trade_date", to_date(col("timestamp")))
      .groupingSets(Seq(Seq(col("symbol")), Seq(col("trade_date"))),
        col("symbol"), col("trade_date"))
      .agg(grouping(col("symbol")).as("by_date"),
        count(lit(1)).as("n"),
        flagged(col("symbol").isNull || col("timestamp").isNull)
          .as("null_keys"),
        flagged(col("open_price") < 0 || col("high_price") < 0
          || col("low_price") < 0 || col("close_price") < 0
          || col("volume") < 0).as("neg_values"),
        flagged(col("high_price") < col("low_price")).as("inverted_range"))
      .collect()
    val (byDate, bySymbol) = rows.partition(_.getByte(2) == 1)
    def total(i: Int) = bySymbol.map(_.getLong(i)).sum
    Profile(
      records = bySymbol.map(r => r.getString(0) -> r.getLong(3)).toMap,
      quality = Seq(
        "keys_complete" -> (total(4) == 0),
        "values_non_negative" -> (total(5) == 0),
        "high_gte_low" -> (total(6) == 0)),
      dates = byDate.map(_.getDate(1)).toSeq)
  }

  /** Documented quality gate: completeness + value sanity + freshness. */
  def qualityChecks(bars: DataFrame): Seq[(String, Boolean)] =
    profile(bars).quality

  private def dec(c: String) = col(c).cast(DecimalType(15, 4)).as(c)

  def upsertIntoStockData(bars: DataFrame): Unit =
    upsertIntoStockData(bars, profile(bars).dates)

  /** K1 against the managed table: merge the batch into stock_data with
    * last-writer-wins, preserving first-insert created_at/time_zone.
    *
    * Partition-pruned (the 100 TB write path): `trade_date` =
    * to_date(timestamp) is a function of the merge key, so a batch row
    * can only conflict inside its own date partition. Only partitions
    * whose dates appear in the batch (`dates`, from [[profile]]) are
    * read for the merge, and only those are rewritten, in place, by
    * dynamic partition overwrite; an hourly run touches a handful of
    * dates regardless of table size. */
  def upsertIntoStockData(bars: DataFrame, dates: Seq[java.sql.Date]): Unit =
    if (dates.nonEmpty) {
      val batch = bars.select(
        col("symbol"), col("timestamp"),
        dec("open_price"), dec("high_price"), dec("low_price"),
        dec("close_price"), col("volume"),
        col("last_refreshed"), col("time_zone"),
        lit(now()).as("created_at"),
        to_date(col("timestamp")).as("trade_date"))
      val current = spark.table("stock_data")
        .filter(col("trade_date").isin(dates: _*))
      val merged = Upsert.upsert(current, batch,
        keys = Seq("symbol", "timestamp"),
        preserve = Seq("time_zone", "created_at"))
      Upsert.overwritePartitionsInto(spark, merged, "stock_data")
    }

  /** K4: append a run row per task to pipeline_logs + per-symbol status
    * to stock_metadata. The two appends are independent, so the
    * metadata one runs on a thread created here — a new thread inherits
    * this one's Spark local properties (job group, description), a
    * pooled one would not — and its failure is re-thrown. */
  def writeLogs(results: Seq[SymbolResult], quality: Seq[(String, Boolean)],
      durationSec: Double): Unit = {
    val ts = now()
    val ok = results.count(_.success)
    val logRows = Seq(
      ("stock_data_pipeline", "create_stock_table", ts, "success", 0.0,
        null.asInstanceOf[String], 0L, ts),
      ("stock_data_pipeline", "fetch_and_process_stock_data", ts,
        if (ok > 0) "success" else "failed", durationSec,
        null.asInstanceOf[String], results.map(_.records).sum, ts),
      ("stock_data_pipeline", "data_quality_check", ts,
        if (quality.forall(_._2)) "success" else "failed", 0.0,
        quality.filterNot(_._2).map(_._1).mkString(",") match {
          case "" => null.asInstanceOf[String]; case s => s
        }, 0L, ts))
      .toDF("dag_id", "task_id", "execution_date", "status", "duration",
        "error_message", "records_processed", "created_at")
    val metaRows = results
      .map(r => (r.symbol, ts, r.success,
        if (r.success) null.asInstanceOf[String] else "fetch_or_parse_failed",
        r.records))
      .toDF("symbol", "last_updated", "last_fetch_success", "error_message",
        "total_records")
    var metaFailure: Throwable = null
    val metaAppend = new Thread(() =>
      try metaRows.write.mode("append").insertInto("stock_metadata")
      catch { case e: Throwable => metaFailure = e })
    metaAppend.start()
    try logRows.write.mode("append").insertInto("pipeline_logs")
    finally metaAppend.join()
    if (metaFailure != null) throw metaFailure
  }

  /** The full run: returns the deterministic per-symbol summary. */
  def runOnce(symbols: Seq[String]): DataFrame = {
    val t0 = System.nanoTime()
    require(preflight(apiKeyConfigured = true).forall(_._2), "preflight failed")
    Catalog.bootstrap(spark)                       // O1: DDL first
    val (bars, results, prof) = ingest(symbols)    // O3/O4, cached
    try {
      upsertIntoStockData(bars, prof.dates)        // K1
      writeLogs(results, prof.quality, (System.nanoTime() - t0) / 1e9) // K4
    } finally bars.unpersist()
    // one row per symbol, already on the driver: sorted here, the
    // summary is a local relation and collecting it starts no job
    results.sortBy(_.symbol).toDF()
  }
}

/** M1 cadence driver + failure notification: the reference schedules the
  * DAG at a fixed interval (reference/dags/stock_data_pipeline.py:47,
  * `schedule_interval=timedelta(hours=1)`) with
  * `email_on_failure=True` (:17). The loop is fixed-rate (sleep =
  * interval minus run duration), a failed run emits a durable
  * notification record and the loop continues — combined with M2
  * (latest-only fetch) there is no catchup backlog to replay. The
  * email/webhook transport is deployment config; the engine's
  * responsibility is emitting the failure event durably
  * (`pipeline_logs.task_id = 'notify_failure'`). */
class Scheduler(
    spark: SparkSession,
    pipeline: StockPipeline,
    intervalMs: Long = 3600000L,
    now: () => Long = System.currentTimeMillis,
    sleeper: Long => Unit = Thread.sleep) {

  /** Run `runs` fixed-rate iterations; returns per-run success. */
  def run(symbols: Seq[String], runs: Int): Seq[Boolean] =
    (1 to runs).map { _ =>
      val t0 = now()
      val ok =
        try { pipeline.runOnce(symbols).collect(); true }
        catch { case e: Exception => notifyFailure(e); false }
      val elapsed = now() - t0
      if (elapsed < intervalMs) sleeper(intervalMs - elapsed)
      ok
    }

  def notifyFailure(e: Throwable): Unit = {
    import spark.implicits._
    graft.store.Catalog.bootstrap(spark) // the run may have died pre-DDL
    val ts = new java.sql.Timestamp(now())
    Seq(("stock_data_pipeline", "notify_failure", ts, "failed", 0.0,
      Option(e.getMessage).getOrElse(e.getClass.getName).take(500), 0L, ts))
      .toDF("dag_id", "task_id", "execution_date", "status", "duration",
        "error_message", "records_processed", "created_at")
      .write.mode("append").insertInto("pipeline_logs")
  }
}

object StockPipeline {

  case class SymbolResult(symbol: String, success: Boolean, records: Long)

  /** What [[StockPipeline.profile]] derives from a parsed batch:
    * record count per symbol, the quality gate's flags and the trade
    * dates the batch touches. */
  case class Profile(records: Map[String, Long],
      quality: Seq[(String, Boolean)], dates: Seq[java.sql.Date])

  /** Offline fixture transport: symbol -> canned payload (FIXTURES.md). */
  val fixtureFetch: String => Option[String] = {
    case "AAPL" => Some(AlphaVantage.fixtureHappy)
    case "MSFT" => Some(AlphaVantage.fixtureBadPrice)
    case "ERR" => Some(AlphaVantage.fixtureError)
    case "RL" => Some(AlphaVantage.fixtureRateLimit)
    case _ => None
  }

  /** Gate query: full pipeline over the offline fixtures; the summary
    * (not the timestamped table state) is the deterministic output. */
  def pipelineRun(spark: SparkSession, dir: String): DataFrame =
    new StockPipeline(spark, fixtureFetch)
      .runOnce(Seq("aapl ", "MSFT", "ERR", "RL", "  "))

  /** Gate query (S2): the GLOBAL_QUOTE health probe driven through
    * three deterministic transports — a healthy quote payload, an
    * API-error payload, and a transport that throws — pinning the
    * probe's full decision table (contains-quote-key -> true, anything
    * else -> false, exception -> false, never a throw). */
  def healthSource(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def client(transport: String => String) =
      new AlphaVantageClient("k", transport, interRequestDelayMs = 0L)
    val healthy = client(_ =>
      """{"Global Quote": {"01. symbol": "AAPL", "05. price": "190.0000"}}""")
    val apiError = client(_ => AlphaVantage.fixtureError)
    val down = client(_ => throw new java.io.IOException("connection refused"))
    Seq(
      ("healthy_payload", healthy.healthCheck()),
      ("error_payload", apiError.healthCheck()),
      ("transport_error", down.healthCheck()))
      .toDF("probe", "healthy")
  }

  /** Pinned clock for [[logsSink]] — far from any wall-clock `now()`
    * the other pipeline gates write, so the filter below reads back
    * exactly this gate's rows. */
  val sinkPinnedTs: java.sql.Timestamp =
    java.sql.Timestamp.valueOf("2024-02-01 00:00:00")

  /** Gate query (K4): run the fixture pipeline with a PINNED clock and
    * read back what the log/metadata sinks actually wrote — the
    * per-task run rows in `pipeline_logs` and the per-symbol status
    * rows in `stock_metadata` — projected to their deterministic
    * columns (wall-clock `duration` excluded). The sinks append, so
    * `distinct` collapses re-runs (every column in the projection is
    * identical run to run under the pinned clock). */
  def logsSink(spark: SparkSession, dir: String): DataFrame = {
    new StockPipeline(spark, fixtureFetch, now = () => sinkPinnedTs)
      .runOnce(Seq("aapl ", "MSFT", "ERR", "RL", "  ")).collect()
    val logs = spark.table("pipeline_logs")
      .filter(col("execution_date") === sinkPinnedTs)
      .select(lit("pipeline_logs").as("sink"), col("task_id").as("id"),
        col("status"), col("error_message"),
        col("records_processed").as("records"))
    val meta = spark.table("stock_metadata")
      .filter(col("last_updated") === sinkPinnedTs)
      .select(lit("stock_metadata").as("sink"), col("symbol").as("id"),
        when(col("last_fetch_success"), "success").otherwise("failed")
          .as("status"),
        col("error_message"), col("total_records").as("records"))
    logs.unionByName(meta).distinct()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_run" -> pipelineRun _,
    "core_health_source" -> healthSource _,
    "pipeline_logs_sink" -> logsSink _)

  val oracles: Map[String, String] = Map(
    "pipeline_run" ->
      """SELECT * FROM (VALUES
        | ('AAPL', true, CAST(2 AS BIGINT)),
        | ('ERR', false, CAST(0 AS BIGINT)),
        | ('MSFT', true, CAST(1 AS BIGINT)),
        | ('RL', false, CAST(0 AS BIGINT))
        |) AS t(symbol, success, records)""".stripMargin,
    "core_health_source" ->
      """SELECT * FROM (VALUES
        | ('healthy_payload', true),
        | ('error_payload', false),
        | ('transport_error', false)
        |) AS t(probe, healthy)""".stripMargin,
    "pipeline_logs_sink" ->
      """SELECT * FROM (VALUES
        | ('pipeline_logs', 'create_stock_table', 'success',
        |   CAST(NULL AS VARCHAR), CAST(0 AS BIGINT)),
        | ('pipeline_logs', 'fetch_and_process_stock_data', 'success',
        |   CAST(NULL AS VARCHAR), CAST(3 AS BIGINT)),
        | ('pipeline_logs', 'data_quality_check', 'success',
        |   CAST(NULL AS VARCHAR), CAST(0 AS BIGINT)),
        | ('stock_metadata', 'AAPL', 'success',
        |   CAST(NULL AS VARCHAR), CAST(2 AS BIGINT)),
        | ('stock_metadata', 'ERR', 'failed',
        |   'fetch_or_parse_failed', CAST(0 AS BIGINT)),
        | ('stock_metadata', 'MSFT', 'success',
        |   CAST(NULL AS VARCHAR), CAST(1 AS BIGINT)),
        | ('stock_metadata', 'RL', 'failed',
        |   'fetch_or_parse_failed', CAST(0 AS BIGINT))
        |) AS t(sink, id, status, error_message, records)""".stripMargin)
}
