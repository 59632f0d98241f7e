package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Alpha-Vantage-shaped ingest: wire schema + normalization.
  *
  * Reproduces the reference's ingest dataflow (behavior studied at
  * reference/scripts/fetch_stock_data.py:16-78) Spark-first:
  * the payload is parsed with `from_json` against a fixed wire schema,
  * the `"Time Series (60min)"` map is exploded to one row per bar, and
  * the numbered string fields are cast/renamed. All row-level semantics
  * of the reference are preserved:
  *
  *  - payloads carrying `Error Message` or `Note` (rate limit) are
  *    dropped whole (fetch_stock_data.py:33-38);
  *  - symbols are trimmed + uppercased, empty ones skipped
  *    (fetch_stock_data.py:140-142);
  *  - a *missing* numeric field defaults to 0 (fetch_stock_data.py:61-65)
  *    but a *present-yet-unparseable* value drops the row
  *    (fetch_stock_data.py:57-72), as does an unparseable timestamp;
  *  - payload metadata (`3. Last Refreshed`, `5. Time Zone` — the coded
  *    key, not the live API's `6. Time Zone`) is attached to every row
  *    (fetch_stock_data.py:53,66-67).
  *
  * Everything is Spark built-ins (from_json/explode/cast/when) — fully
  * codegen'd, no UDFs — so at scale the parse runs inside one
  * WholeStageCodegen span per partition of raw payloads.
  */
object AlphaVantage extends graft.GateModule {

  val barSchema: StructType = StructType(Seq(
    StructField("1. open", StringType),
    StructField("2. high", StringType),
    StructField("3. low", StringType),
    StructField("4. close", StringType),
    StructField("5. volume", StringType)))

  val wireSchema: StructType = StructType(Seq(
    StructField("Meta Data", StructType(Seq(
      StructField("2. Symbol", StringType),
      StructField("3. Last Refreshed", StringType),
      StructField("5. Time Zone", StringType)))),
    StructField("Time Series (60min)",
      MapType(StringType, barSchema)),
    StructField("Error Message", StringType),
    StructField("Note", StringType)))

  /** Parse raw (symbol, payload-json) pairs into normalized bar rows.
    * Output schema: symbol, timestamp, open_price, high_price, low_price,
    * close_price, volume, last_refreshed, time_zone. */
  def parseBars(spark: SparkSession, raw: DataFrame): DataFrame = {
    // present-but-unparseable numeric -> poison the row; missing -> 0
    def num(field: String): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
      val v = col("bar").getField(field)
      val parsed = v.cast("double")
      // valid iff field absent (defaults) or parses cleanly
      (v.isNull || parsed.isNotNull, coalesce(parsed, lit(0.0)))
    }
    val parsed = raw
      .select(upper(trim(col("symbol"))).as("symbol"),
        from_json(col("payload"), wireSchema).as("p"))
      .filter(length(col("symbol")) > 0)                        // P8
      .filter(col("p.Error Message").isNull && col("p.Note").isNull) // P9
      .select(col("symbol"),
        col("p.Meta Data").as("meta"),
        explode(col("p.Time Series (60min)")).as(Seq("ts_raw", "bar"))) // P2

    val (openOk, openV) = num("1. open")
    val (highOk, highV) = num("2. high")
    val (lowOk, lowV) = num("3. low")
    val (closeOk, closeV) = num("4. close")
    // volume is int-strict like the reference's int(volume_str): a
    // non-integral string (e.g. "123.5") poisons the row rather than
    // truncating; missing defaults to 0. Integral-format check is a
    // regex because the non-ANSI string->bigint cast is lenient.
    val volRaw = col("bar").getField("5. volume")
    val volIntegral = volRaw.rlike("^[+-]?[0-9]+$")
    val volOk = volRaw.isNull || volIntegral
    val volV = coalesce(when(volIntegral, volRaw.cast("long")), lit(0L))

    parsed
      .withColumn("timestamp",
        to_timestamp(col("ts_raw"), "yyyy-MM-dd HH:mm:ss"))     // P4
      .filter(col("timestamp").isNotNull)                        // P6
      .filter(openOk && highOk && lowOk && closeOk && volOk)     // P6
      .select(
        col("symbol"),
        col("timestamp"),
        openV.as("open_price"), highV.as("high_price"),
        lowV.as("low_price"), closeV.as("close_price"),
        volV.as("volume"),                                       // P5
        to_timestamp(col("meta").getField("3. Last Refreshed"),
          "yyyy-MM-dd HH:mm:ss").as("last_refreshed"),           // P7
        col("meta").getField("5. Time Zone").as("time_zone"))
  }

  // -------------------------------------------------------------------
  // Offline fixtures (FIXTURES.md family A) — pin every ingest behavior
  // without network. Used by the `ingest_parse` gate query and specs.
  // -------------------------------------------------------------------

  val fixtureHappy: String =
    """{"Meta Data": {"2. Symbol": "AAPL",
      |  "3. Last Refreshed": "2025-09-12 16:00:00",
      |  "4. Interval": "60min", "5. Time Zone": "US/Eastern"},
      | "Time Series (60min)": {
      |  "2025-09-12 16:00:00": {"1. open": "225.1000", "2. high": "226.4000",
      |    "3. low": "224.9000", "4. close": "226.0100", "5. volume": "1234567"},
      |  "2025-09-12 15:00:00": {"1. open": "224.0000", "2. high": "225.5000",
      |    "3. low": "223.5000", "4. close": "225.0000"},
      |  "not-a-timestamp": {"1. open": "1.0", "2. high": "1.0",
      |    "3. low": "1.0", "4. close": "1.0", "5. volume": "1"}}}""".stripMargin

  val fixtureBadPrice: String =
    """{"Meta Data": {"2. Symbol": "MSFT",
      |  "3. Last Refreshed": "2025-09-12 16:00:00",
      |  "6. Time Zone": "US/Eastern"},
      | "Time Series (60min)": {
      |  "2025-09-12 16:00:00": {"1. open": "500.5000", "2. high": "501.0000",
      |    "3. low": "499.0000", "4. close": "500.0000", "5. volume": "1000"},
      |  "2025-09-12 15:00:00": {"1. open": "abc", "2. high": "501.0000",
      |    "3. low": "499.0000", "4. close": "500.0000", "5. volume": "1000"}}}""".stripMargin

  val fixtureError: String = """{"Error Message": "Invalid API call"}"""
  val fixtureRateLimit: String = """{"Note": "rate limited, thank you"}"""

  def fixtureFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("aapl ", fixtureHappy),
      ("MSFT", fixtureBadPrice),
      ("ERR", fixtureError),
      ("RL", fixtureRateLimit),
      ("  ", fixtureHappy)
    ).toDF("symbol", "payload")
  }

  /** Gate query: parse the offline fixtures; oracle is a literal VALUES
    * table of the rows the reference's coded semantics would keep. */
  def ingestParse(spark: SparkSession, dir: String): DataFrame =
    parseBars(spark, fixtureFrame(spark))
      .orderBy("symbol", "timestamp")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_parse" -> ingestParse _)

  val oracles: Map[String, String] = Map(
    "ingest_parse" ->
      """SELECT * FROM (VALUES
        | ('AAPL', TIMESTAMP '2025-09-12 15:00:00', CAST(224.0 AS DOUBLE),
        |   CAST(225.5 AS DOUBLE), CAST(223.5 AS DOUBLE), CAST(225.0 AS DOUBLE),
        |   CAST(0 AS BIGINT), TIMESTAMP '2025-09-12 16:00:00', 'US/Eastern'),
        | ('AAPL', TIMESTAMP '2025-09-12 16:00:00', CAST(225.1 AS DOUBLE),
        |   CAST(226.4 AS DOUBLE), CAST(224.9 AS DOUBLE), CAST(226.01 AS DOUBLE),
        |   CAST(1234567 AS BIGINT), TIMESTAMP '2025-09-12 16:00:00', 'US/Eastern'),
        | ('MSFT', TIMESTAMP '2025-09-12 16:00:00', CAST(500.5 AS DOUBLE),
        |   CAST(501.0 AS DOUBLE), CAST(499.0 AS DOUBLE), CAST(500.0 AS DOUBLE),
        |   CAST(1000 AS BIGINT), TIMESTAMP '2025-09-12 16:00:00', CAST(NULL AS VARCHAR))
        |) AS t(symbol, "timestamp", open_price, high_price, low_price,
        |       close_price, volume, last_refreshed, time_zone)""".stripMargin)
}
