package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalar/window function breadth — the engine's general-purpose SQL
  * function surface beyond what the reference's queries touch: JSON
  * field access over the events props column, datetime arithmetic and
  * field extraction, string/regex manipulation, and the ranked-window
  * family. All row-level (single codegen stage over a pruned, pushed
  * scan) except the window query (one keyed sort). */
object FunctionQueries extends graft.GateModule {

  /** JSON access: extract props.k per event and aggregate. */
  def jsonFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .withColumn("k_val", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(sum(col("k_val")).as("k_sum"), max(col("k_val")).as("k_max"),
        count(when(col("k_val").isNull, 1)).as("k_nulls"))

  /** Datetime field extraction + arithmetic (deterministic subset). */
  def datetimeFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") < 1000)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("plus_30d"),
        last_day(col("o_orderdate").cast("date")).as("eom"))

  /** String/regex manipulation over part names. */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "part")
      .select(
        col("p_partkey"),
        regexp_extract(col("p_brand"), "#(\\d+)", 1).as("brand_num"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        lpad(col("p_brand"), 12, "*").as("padded"),
        split_part(col("p_type"), lit(" "), lit(1)).as("type_head"),
        reverse(col("p_brand")).as("rev"),
        length(col("p_name")).cast("long").as("name_len"),
        instr(col("p_type"), "O").cast("long").as("o_pos"))

  /** Ranked-window family: rank/dense_rank/lag/lead/ntile per priority
    * (deterministic total order via the orderkey tiebreak). */
  def windowFuncs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") < 2000)
      .select(
        col("o_orderkey"), col("o_orderpriority"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        ntile(4).over(w).cast("long").as("quartile"))
  }

  /** Relative-rank family: percent_rank/cume_dist (exact small-integer
    * ratios — (rank-1)/(n-1) and rank/n in IEEE doubles, bit-identical
    * across engines under a unique total order). */
  def rankStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") < 2000)
      .select(
        col("o_orderkey"), col("o_orderpriority"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
  }

  /** Navigation-function window surface: first_value / last_value /
    * nth_value with IGNORE NULLS over an explicit full-partition ROWS
    * frame — the "carry the first real reading across gaps" family
    * that LOCF-style imputation and header-propagation queries use.
    * A null-bearing probe is injected with NULLIF so both the
    * skip-null and respect-null paths are exercised; the unique
    * (date, key) order makes every value engine-deterministic. Plan:
    * one keyed window exchange, all four navigators in a single
    * Window operator. */
  def windowNav(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") < 4000)
      .withColumn("probe", expr("NULLIF(o_custkey % 7, 0)"))
      .select(
        col("o_orderkey"), col("o_orderpriority"), col("probe"),
        first(col("probe"), ignoreNulls = true).over(w).as("first_nn"),
        last(col("probe"), ignoreNulls = true).over(w).as("last_nn"),
        nth_value(col("probe"), 2, ignoreNulls = true).over(w).as("nth2_nn"),
        nth_value(col("probe"), 2).over(w).as("nth2_rn"))
  }

  /** Unpivot/melt (`Dataset.unpivot`, SQL `UNPIVOT`): rotate a wide
    * per-group summary into (group, metric, value) long form — the
    * standard last step before charting/export layers that want tidy
    * data. Runs as a generate over the aggregated frame: |groups|·k
    * rows, no extra shuffle beyond the aggregation's own. */
  def unpivotFuncs(spark: SparkSession, dir: String): DataFrame = {
    val summary = Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(Tables.dsum(col("l_quantity")).as("sum_qty"),
        Tables.dsum(col("l_extendedprice")).as("sum_price"),
        Tables.dsum(col("l_discount")).as("sum_disc"))
    summary.unpivot(
      Array(col("l_returnflag")),
      Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
      "metric", "value")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "func_json" -> jsonFuncs _,
    "func_datetime" -> datetimeFuncs _,
    "func_string" -> stringFuncs _,
    "func_window" -> windowFuncs _,
    "func_window_nav" -> windowNav _,
    "func_rank_stats" -> rankStats _,
    "func_unpivot" -> unpivotFuncs _)

  val oracles: Map[String, String] = Map(
    // DuckDB places IGNORE NULLS inside the call parens; Spark's
    // DataFrame API passes ignoreNulls flags — same semantics
    "func_window_nav" ->
      """SELECT o_orderkey, o_orderpriority, probe,
        |  first_value(probe IGNORE NULLS) OVER w AS first_nn,
        |  last_value(probe IGNORE NULLS) OVER w AS last_nn,
        |  nth_value(probe, 2 IGNORE NULLS) OVER w AS nth2_nn,
        |  nth_value(probe, 2) OVER w AS nth2_rn
        |FROM (SELECT o_orderkey, o_orderpriority, o_orderdate,
        |    NULLIF(o_custkey % 7, 0) AS probe
        |  FROM orders WHERE o_orderkey < 4000) o
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""
        .stripMargin,
    "func_unpivot" ->
      """WITH s AS (SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_disc
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM s
        |UNION ALL
        |SELECT l_returnflag, 'sum_price', sum_price FROM s
        |UNION ALL
        |SELECT l_returnflag, 'sum_disc', sum_disc FROM s""".stripMargin,
    "func_rank_stats" ->
      """SELECT o_orderkey, o_orderpriority,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders WHERE o_orderkey < 2000
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,
    "func_json" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
        |  count(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 END) AS k_nulls
        |FROM events GROUP BY event_type""".stripMargin,
    "func_datetime" ->
      """SELECT o_orderkey,
        |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
        |  CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
        |  CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS d,
        |  CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS q,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  o_orderdate + INTERVAL 30 DAY AS plus_30d,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom
        |FROM orders WHERE o_orderkey < 1000""".stripMargin,
    "func_string" ->
      """SELECT p_partkey,
        |  regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        |  lpad(p_brand, 12, '*') AS padded,
        |  split_part(p_type, ' ', 1) AS type_head,
        |  reverse(p_brand) AS rev,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  CAST(instr(p_type, 'O') AS BIGINT) AS o_pos
        |FROM part""".stripMargin,
    "func_window" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  lag(o_orderkey, 1) OVER w AS prev_key,
        |  lead(o_orderkey, 1) OVER w AS next_key,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders WHERE o_orderkey < 2000
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin)
}
