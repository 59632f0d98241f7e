package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's declared ad-hoc SQL surface (SURVEY.md §2.4/§2.5/§2.3),
  * re-targeted at the driver corpus. Each query has a DuckDB oracle in
  * [[oracles]]; column names/aliases match the SQL exactly (the driver
  * sorts columns by name before hashing).
  *
  * Reference provenance (behavior, not code):
  *  - A1 count+max per group: reference/README.md:202-204, Makefile:101
  *  - A2 count/min/max summary: reference/README.md:314-321
  *  - A3 filtered two-key group count: reference/README.md:217-220
  *  - A4 freshness (age of max ts): reference/README.md:222-226
  *  - T1 top-k by recency: reference/README.md:206-208
  *  - T2 grouped + global sort: reference/Makefile:101,222
  *  - P10 time-range retention filter: reference/README.md:296-297
  *  - P11 SELECT 1 probe: reference/Makefile:136
  *
  * Scale notes: every aggregate here is algebraic (partial+final map-side
  * combine), sorts are either TakeOrderedAndProject (T1) or after
  * aggregation (tiny), and filters/pruning push into the parquet scan.
  */
object CoreQueries extends graft.GateModule {

  /** A1: hash agg — count + max per group. */
  def recordsPerGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"), max("l_shipdate").as("max_shipdate"))

  /** A2: multi-agg summary — count/min/max per group. */
  def summaryStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        min("o_orderdate").as("min_date"),
        max("o_orderdate").as("max_date"))

  /** A3: time-filtered two-key group count (pipeline-health analog).
    * The predicate is pushed onto the raw ns column at the scan. */
  def recentByGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsFrom(spark, dir, "2024-01-15 00:00:00")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"))

  /** A4: freshness — age of newest row per group vs a fixed anchor.
    * events.ts is nanosecond parquet; Spark truncates to micros while
    * DuckDB keeps ns, so outputs are second-truncated / date-diffed to
    * stay engine-independent. */
  def freshness(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(date_trunc("second", max("ts")).as("max_ts_s"),
        datediff(lit("2024-06-01").cast("date"), max(col("ts")).cast("date"))
          .cast("long").as("age_days"))

  /** T1: top-k by recency (TakeOrderedAndProject — no global sort).
    * o_orderkey breaks o_orderdate ties deterministically. */
  def topRecent(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
      .limit(10)

  /** T2: grouped count + global sort. */
  def groupSorted(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment")

  /** P11: trivial connectivity probe. */
  def healthProbe(spark: SparkSession, dir: String): DataFrame =
    spark.sql("SELECT CAST(1 AS BIGINT) AS ok")

  /** P10/M4: retention — keep rows newer than anchor - 15 days; summary
    * per group (delete = anti-filter of this predicate). */
  def retentionFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsFrom(spark, dir, "2024-01-17 00:00:00") // anchor - 15 days
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        date_trunc("second", min("ts")).as("min_ts_s"))

  /** P3-P8 scalar-function surface: trim/upper/concat/substr/coalesce/
    * casts/conditionals — row-level, fully codegen'd. */
  def scalarFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        upper(trim(col("lang"))).as("lang_up"),
        concat(col("source"), lit(":"), col("lang")).as("src_lang"),
        substring(col("text"), 1, 20).as("head20"),
        col("n_chars").cast("double").as("n_chars_d"),
        coalesce(nullif(col("lang"), lit("en")), lit("EN")).as("lang_coal"),
        when(col("n_chars") > 300, lit("long"))
          .otherwise(lit("short")).as("size_class"))

  /** ONE SQL text, executed verbatim by BOTH engines — the whole gate
    * surface otherwise drives the DataFrame API, and this pins the
    * `spark.sql` entry path end-to-end (view registration included):
    * a user of the engine can paste ANSI SQL and get oracle-identical
    * results. Kept to the common dialect; money math uses the same
    * decimal-exact pattern as every revenue gate. */
  private val sqlSurfaceText: String =
    """SELECT n_name AS nation, count(*) AS n_items,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
      |           * CAST(1 - l_discount AS DECIMAL(18,4)))
      |    AS DECIMAL(38,4)) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON n_nationkey = c_nationkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY n_name""".stripMargin

  /** The declared-SQL surface as actual SQL: register the corpus as
    * views and run [[sqlSurfaceText]] through `spark.sql`. Catalyst
    * plans it exactly like the DataFrame form (broadcast dims, one
    * fact-fact shuffle, partial aggs), which is the point — SQL is not
    * a second engine, just a second front door. */
  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir, "customer", "orders", "lineitem", "nation")
    spark.sql(sqlSurfaceText)
  }

  /** Subquery surface: correlated EXISTS (plans as a left-semi join),
    * uncorrelated IN (semi join), a scalar subquery threshold, and
    * HAVING — the four subquery shapes an analyst reaches for first.
    * The above-average-balance predicate is cross-multiplied in exact
    * DECIMAL (balance·n > Σbalance) so the threshold cannot drift by a
    * float ulp between engines. Same text runs in both. */
  private val sqlSubqueriesText: String =
    """SELECT c_mktsegment, count(*) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderstatus = 'F')
      |  AND c_nationkey IN (SELECT n_nationkey FROM nation
      |                      WHERE n_regionkey <= 2)
      |  AND CAST(c_acctbal AS DECIMAL(18,2))
      |        * (SELECT count(*) FROM customer)
      |      > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer)
      |GROUP BY c_mktsegment
      |HAVING count(*) >= 2""".stripMargin

  def sqlSubqueries(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir, "customer", "orders", "nation")
    spark.sql(sqlSubqueriesText)
  }

  /** Correlated LATERAL subquery (SQL:2016): top-2 most recent orders
    * PER qualifying customer, written the way an analyst writes it —
    * the lateral block references the outer row and carries its own
    * ORDER BY + LIMIT. Catalyst decorrelates this into the same
    * window-top-k shape `window_topn` pins (per-key rank, no
    * per-customer re-execution), which is the point: the front door
    * accepts the declarative form and the plan is still one keyed
    * shuffle + WindowGroupLimit, never a nested loop over customers.
    * Same text runs verbatim in DuckDB. */
  private val sqlLateralText: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_orderdate, t.totalprice_cents
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, o_orderdate,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents
      |  FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_orderdate DESC, o_orderkey
      |  LIMIT 2) t
      |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin

  def sqlLateral(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir, "customer", "orders")
    spark.sql(sqlLateralText)
  }

  /** TPC-H Q5-flavored star join: region -> nation -> supplier ->
    * lineitem -> orders, five tables in one query. Catalyst broadcasts
    * the three dimension tables and shuffles only the lineitem-orders
    * fact-fact edge; the join ORDER in the text is deliberately
    * dimension-first to show reordering is the optimizer's job, not
    * the author's. Exact-decimal revenue. */
  // shared with plans.Lineage (the lineage gate walks this plan)
  val sqlStarJoinText: String =
    """SELECT n_name AS nation, o_orderpriority, count(*) AS n_items,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
      |           * CAST(1 - l_discount AS DECIMAL(18,4)))
      |    AS DECIMAL(38,4)) AS DOUBLE)
      |    AS revenue
      |FROM region
      |JOIN nation ON n_regionkey = r_regionkey
      |JOIN supplier ON s_nationkey = n_nationkey
      |JOIN lineitem ON l_suppkey = s_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |WHERE r_name IN ('ASIA', 'EUROPE') AND o_orderstatus <> 'P'
      |GROUP BY n_name, o_orderpriority""".stripMargin

  def sqlStarJoin(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir, "region", "nation", "supplier", "lineitem",
      "orders")
    spark.sql(sqlStarJoinText)
  }

  /** Recursive CTE through the SQL front door (Spark 4's WITH
    * RECURSIVE): each user walks its synthetic decimal-digit ancestor
    * chain (`anc → floor(anc/10)`) to the root — the org-hierarchy /
    * BOM-walk query shape, on a chain that STRICTLY DECREASES so the
    * recursion provably terminates in ⌈log₁₀ id⌉ steps. Division is
    * spelled `CAST(floor(anc / 10) AS BIGINT)` so the identical text
    * runs in Spark and DuckDB (their integer `/` semantics agree on
    * DOUBLE, not on `DIV` vs `//`); depths/counts are exact integers.
    * Scale: recursion depth is bounded by the KEY WIDTH (≤ 7 for
    * 10^7 users), each round a semi-bounded self-union — the general
    * unbounded-graph closure stays on the star-alternation operator
    * ([[graft.operators.Dedup.dupClustersStar]]); this gate pins the
    * SQL surface. */
  private val sqlRecursiveText: String =
    """WITH RECURSIVE up(user_id, anc, depth) AS (
      |  SELECT DISTINCT user_id, user_id AS anc,
      |    CAST(0 AS BIGINT) AS depth
      |  FROM events
      |  UNION ALL
      |  SELECT user_id, CAST(floor(anc / 10) AS BIGINT), depth + 1
      |  FROM up WHERE anc > 0
      |)
      |SELECT user_id, max(depth) AS chain_len, count(*) AS n_steps
      |FROM up GROUP BY user_id""".stripMargin

  def sqlRecursive(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir, "events")
    spark.sql(sqlRecursiveText)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_recursive_cte" -> sqlRecursive _,
    "sql_surface" -> sqlSurface _,
    "sql_subqueries" -> sqlSubqueries _,
    "sql_lateral" -> sqlLateral _,
    "sql_star_join" -> sqlStarJoin _,
    "core_records_per_group" -> recordsPerGroup _,
    "core_summary_stats" -> summaryStats _,
    "core_recent_by_group" -> recentByGroup _,
    "core_freshness" -> freshness _,
    "core_top_recent" -> topRecent _,
    "core_group_sorted" -> groupSorted _,
    "core_health_probe" -> healthProbe _,
    "core_retention_filter" -> retentionFilter _,
    "core_scalar_funcs" -> scalarFuncs _)

  val oracles: Map[String, String] = Map(
    // the same SQL text runs in DuckDB unchanged
    "sql_surface" -> sqlSurfaceText,
    "sql_recursive_cte" -> sqlRecursiveText,
    "sql_subqueries" -> sqlSubqueriesText,
    "sql_lateral" -> sqlLateralText,
    "sql_star_join" -> sqlStarJoinText,
    "core_records_per_group" ->
      """SELECT l_returnflag, count(*) AS cnt, max(l_shipdate) AS max_shipdate
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "core_summary_stats" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |  min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "core_recent_by_group" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type""".stripMargin,
    "core_freshness" ->
      """SELECT event_type,
        |  CAST(date_trunc('second', max(ts)) AS TIMESTAMP) AS max_ts_s,
        |  CAST(date_diff('day', CAST(max(ts) AS DATE), DATE '2024-06-01') AS BIGINT) AS age_days
        |FROM events GROUP BY event_type""".stripMargin,
    "core_top_recent" ->
      """SELECT * FROM orders
        |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 10""".stripMargin,
    "core_group_sorted" ->
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "core_health_probe" -> "SELECT CAST(1 AS BIGINT) AS ok",
    "core_retention_filter" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(date_trunc('second', min(ts)) AS TIMESTAMP) AS min_ts_s
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-02-01 00:00:00' - INTERVAL 15 DAY
        |GROUP BY event_type""".stripMargin,
    "core_scalar_funcs" ->
      """SELECT doc_id,
        |  upper(trim(lang)) AS lang_up,
        |  source || ':' || lang AS src_lang,
        |  substring(text, 1, 20) AS head20,
        |  CAST(n_chars AS DOUBLE) AS n_chars_d,
        |  coalesce(nullif(lang, 'en'), 'EN') AS lang_coal,
        |  CASE WHEN n_chars > 300 THEN 'long' ELSE 'short' END AS size_class
        |FROM documents""".stripMargin)
}
