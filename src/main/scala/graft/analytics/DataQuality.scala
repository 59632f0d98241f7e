package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative data-quality audit — the distributed form of the
  * reference's pre-write validation gates (its pipeline refuses a batch
  * on empty/malformed frames; see pipeline.StockPipeline.preflight for
  * the orchestration-side port). Here the checks run as ONE aggregated
  * report over the lake tables, the shape a 100 TB nightly audit needs:
  *
  *  - column checks (null / range) are conditional counts inside a
  *    single scan — no per-check passes;
  *  - the key-uniqueness check is one hash agg on the key;
  *  - referential integrity is a broadcast-or-shuffle ANTI join,
  *    counting orphans without materializing them.
  *
  * Output is a fixed (check, violations) report: green = all zeros,
  * and the gate hash-checks exact violation counts, not just pass/fail. */
object DataQuality extends graft.GateModule {

  def audit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    // one scan: every column rule is a conditional count
    val colChecks = li.agg(
      count(when(col("l_quantity").isNull, 1)).as("null_quantity"),
      count(when(col("l_quantity") <= 0 || col("l_quantity") > 100, 1))
        .as("range_quantity"),
      count(when(col("l_discount") < 0 || col("l_discount") > 1, 1))
        .as("range_discount"),
      count(when(col("l_shipdate") < lit("1990-01-01").cast("timestamp"), 1))
        .as("stale_shipdate"))
    // key uniqueness: rows beyond the first per (orderkey, linenumber)
    val dupKeys = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("n"))
      .agg(sum(col("n") - 1).cast("long").as("v"))
      .select(lit("duplicate_lineitem_key").as("check"), col("v").as("violations"))
    // referential integrity: lineitems whose order does not exist
    val orphans = li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .select(lit("orphan_lineitem").as("check"), col("v").as("violations"))
    val longCols = Seq("null_quantity", "range_quantity", "range_discount",
      "stale_shipdate")
    val wide = colChecks.select(longCols.map(c => col(c).cast("long").as(c)): _*)
    // unpivot the single wide row into (check, violations)
    val tall = wide.select(explode(map(
      longCols.flatMap(c => Seq(lit(c), col(c))): _*)).as(Seq("check", "violations")))
    tall.unionByName(dupKeys).unionByName(orphans)
  }

  /** Quarantine routing — the enforcement half of the audit: every row
    * is labeled with the ordered CSV of rules it violates (empty =
    * clean) in ONE pass — conditional expressions for the row-local
    * rules, a key-partition window count for duplicate keys, one left
    * join against distinct order keys for referential integrity. In
    * production the labeled frame splits into clean/quarantine sinks
    * with a partitioned write; the gate reports the reason-combination
    * census so output stays O(distinct combinations) while the full
    * routing dataflow runs. */
  def quarantine(spark: SparkSession, dir: String): DataFrame = {
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"), col("l_linenumber"))
    val ok = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey")).distinct()
    Tables.load(spark, dir, "lineitem")
      .withColumn("key_n", count(lit(1)).over(wk))
      .join(ok, col("l_orderkey") === col("o_orderkey"), "left")
      .withColumn("reasons", concat_ws(",",
        when(col("l_quantity") <= 0 || col("l_quantity") > 100,
          lit("range_quantity")),
        when(col("l_discount") < 0 || col("l_discount") > 1,
          lit("range_discount")),
        when(col("l_shipdate") < lit("1990-01-01").cast("timestamp"),
          lit("stale_shipdate")),
        when(col("key_n") > 1, lit("dup_key")),
        when(col("o_orderkey").isNull, lit("orphan"))))
      .groupBy(col("reasons"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("quarantined", col("reasons") =!= "")
  }

  /** Referential-integrity audit: for each declared FK edge, count the
    * child rows (and distinct child keys) with no matching parent —
    * the orphan scan a warehouse runs after every load. Each edge is
    * one left-anti join; the parent side projects its key only, and
    * dim-sized parents broadcast, so an edge costs at most one child
    * shuffle — at 100 TB the audit is scan-bound like any other join.
    * All three declared edges in this corpus are clean, and the audit
    * PROVES it (a clean report is the audit's normal product); the
    * spec plants a broken edge to pin that orphans are counted. */
  def referential(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val ev = Tables.load(spark, dir, "events")
    auditEdge("lineitem.l_orderkey->orders", li, "l_orderkey",
        o, "o_orderkey")
      .union(auditEdge("orders.o_custkey->customer", o, "o_custkey",
        c, "c_custkey"))
      .union(auditEdge("events.user_id->customer", ev, "user_id",
        c, "c_custkey"))
  }

  /** One FK edge of [[referential]]: one LEFT join against the
    * (unique-keyed) parent, one agg — a null parent key marks an
    * orphan, so rows/orphans/orphan-keys all fold in a single pass. */
  def auditEdge(name: String, child: DataFrame, ck: String,
      parent: DataFrame, pk: String): DataFrame =
    child.select(col(ck))
      .join(broadcast(parent.select(col(pk))), col(ck) === col(pk), "left")
      .agg(count(lit(1)).as("n_rows"),
        count(when(col(pk).isNull, lit(1))).as("n_orphan_rows"),
        countDistinct(when(col(pk).isNull, col(ck))).as("n_orphan_keys"))
      .select(lit(name).as("fk"), col("n_rows"),
        col("n_orphan_rows"), col("n_orphan_keys"),
        (col("n_orphan_rows") === 0).as("ok"))

  /** k for the k-anonymity gate. */
  val anonK = 5

  /** k-anonymity suppression (Sweeney 2002) over the customer table:
    * every released row must share its quasi-identifier combination —
    * (nation, market segment), the classic "not a name but narrows you
    * down" columns — with at least k−1 others. Rows in groups smaller
    * than k get their QIs suppressed (−1 / '*'), the baseline
    * release-safety transform for sharing curation metadata or
    * per-cohort stats derived from user data.
    *
    * Shape: group sizes aggregate to at most |nations|·|segments| rows
    * — a broadcast back onto the row stream regardless of corpus size,
    * so anonymization is one scan + one map-side join. */
  def kAnonymize(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long"),
        col("c_mktsegment"))
    val groups = c.groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("qi_n"))
    c.join(broadcast(groups), Seq("c_nationkey", "c_mktsegment"))
      .select(col("c_custkey"),
        when(col("qi_n") >= anonK, col("c_nationkey")).otherwise(-1L)
          .as("nation_anon"),
        when(col("qi_n") >= anonK, col("c_mktsegment")).otherwise("*")
          .as("segment_anon"),
        col("qi_n"),
        (col("qi_n") >= anonK).as("released"))
  }

  /** Join-key skew profiler — the diagnostic run before choosing
    * between a plain shuffle join and the salted/AQE path
    * ([[graft.operators.SkewJoin]]): per-key frequencies of the join
    * key, the 5 hottest keys with their corpus share, and the skew
    * factor (hot-key count ÷ mean per-key count, q4 fixed-point). A
    * skew factor near 10000 says uniform; orders of magnitude above
    * says salt this key. One key-keyed hash agg (the same shuffle the
    * join itself would pay) + a global top-5 (TakeOrderedAndProject —
    * per-partition heaps); the two corpus totals are bounded driver
    * scalars (the Zorder min/max pattern). */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val Array(total, nKeys) = counts
      .agg(sum(col("n")), count(lit(1)))
      .collect()(0).toSeq.map(_.toString.toLong).toArray
    counts.orderBy(col("n").desc, col("user_id")).limit(5)
      .select(col("user_id"), col("n"),
        expr(s"10000L * n DIV ${total}L").as("share_q4"),
        expr(s"10000L * n * ${nKeys}L DIV ${total}L").as("skew_q4"))
  }

  /** Event-order integrity check — "does arrival order agree with
    * event time?": per user, count successive event_id-ordered pairs
    * whose timestamps go BACKWARD (ts strictly decreases), the signal
    * that an ingest path reordered or a producer clock skewed. One
    * per-user lag window (the sessionize exchange), then a bounded
    * per-type census of violation counts and total pairs — the
    * monitoring number a pipeline alerts on, exact integers only. */
  def orderViolations(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("ts") < col("prev_ts"), 1L).otherwise(0L))
          .as("n_backward"))
      .selectExpr("event_type", "n_pairs", "n_backward",
        "(1000000 * n_backward) DIV n_pairs AS backward_q6")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_order_violations" -> orderViolations _,
    "dq_audit" -> audit _,
    "dq_referential" -> referential _,
    "dq_quarantine" -> quarantine _,
    "dq_kanonymity" -> kAnonymize _,
    "dq_skew_profile" -> skewProfile _)

  val oracles: Map[String, String] = Map(
    "dq_order_violations" ->
      """WITH l AS (SELECT user_id, event_id, event_type, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS prev_ts
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_backward,
        |  CAST((1000000 * sum(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END))
        |    // count(*) AS BIGINT) AS backward_q6
        |FROM l WHERE prev_ts IS NOT NULL GROUP BY 1""".stripMargin,
    "dq_skew_profile" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |    count(*) AS nk FROM c)
        |SELECT user_id, n, 10000 * n // t.total AS share_q4,
        |  10000 * n * t.nk // t.total AS skew_q4
        |FROM c, t ORDER BY n DESC, user_id LIMIT 5""".stripMargin,
    "dq_kanonymity" ->
      s"""WITH g AS (SELECT c_nationkey, c_mktsegment,
         |    count(*) AS qi_n
         |  FROM customer GROUP BY 1, 2)
         |SELECT c.c_custkey,
         |  CASE WHEN g.qi_n >= $anonK
         |    THEN CAST(c.c_nationkey AS BIGINT)
         |    ELSE CAST(-1 AS BIGINT) END AS nation_anon,
         |  CASE WHEN g.qi_n >= $anonK THEN c.c_mktsegment
         |    ELSE '*' END AS segment_anon,
         |  g.qi_n, g.qi_n >= $anonK AS released
         |FROM customer c JOIN g
         |  ON c.c_nationkey = g.c_nationkey
         |    AND c.c_mktsegment = g.c_mktsegment""".stripMargin,
    "dq_referential" -> {
      def edgeSql(name: String, child: String, ck: String,
          parent: String, pk: String) =
        s"""SELECT '$name' AS fk, count(*) AS n_rows,
           |  count(*) FILTER (WHERE p.$pk IS NULL) AS n_orphan_rows,
           |  count(DISTINCT CASE WHEN p.$pk IS NULL THEN c.$ck END)
           |    AS n_orphan_keys,
           |  count(*) FILTER (WHERE p.$pk IS NULL) = 0 AS ok
           |FROM $child c LEFT JOIN $parent p ON c.$ck = p.$pk""".stripMargin
      Seq(
        edgeSql("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        edgeSql("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        edgeSql("events.user_id->customer", "events", "user_id",
          "customer", "c_custkey")).mkString("\nUNION ALL\n")
    },
    "dq_quarantine" ->
      """WITH k AS (SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
        |    l_shipdate,
        |    count(*) OVER (PARTITION BY l_orderkey, l_linenumber) AS key_n
        |  FROM lineitem),
        |r AS (SELECT concat_ws(',',
        |    CASE WHEN l_quantity <= 0 OR l_quantity > 100
        |      THEN 'range_quantity' END,
        |    CASE WHEN l_discount < 0 OR l_discount > 1
        |      THEN 'range_discount' END,
        |    CASE WHEN l_shipdate < TIMESTAMP '1990-01-01 00:00:00'
        |      THEN 'stale_shipdate' END,
        |    CASE WHEN key_n > 1 THEN 'dup_key' END,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'orphan' END) AS reasons
        |  FROM k LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON k.l_orderkey = o.o_orderkey)
        |SELECT reasons, count(*) AS n_rows, reasons <> '' AS quarantined
        |FROM r GROUP BY reasons""".stripMargin,
    "dq_audit" ->
      """SELECT 'null_quantity' AS check, count(*) FILTER (l_quantity IS NULL)
        |  AS violations FROM lineitem
        |UNION ALL
        |SELECT 'range_quantity' AS check,
        |  count(*) FILTER (l_quantity <= 0 OR l_quantity > 100) FROM lineitem
        |UNION ALL
        |SELECT 'range_discount' AS check,
        |  count(*) FILTER (l_discount < 0 OR l_discount > 1) FROM lineitem
        |UNION ALL
        |SELECT 'stale_shipdate' AS check,
        |  count(*) FILTER (l_shipdate < TIMESTAMP '1990-01-01 00:00:00')
        |FROM lineitem
        |UNION ALL
        |SELECT 'duplicate_lineitem_key' AS check,
        |  CAST(sum(n - 1) AS BIGINT)
        |FROM (SELECT count(*) AS n FROM lineitem
        |      GROUP BY l_orderkey, l_linenumber)
        |UNION ALL
        |SELECT 'orphan_lineitem' AS check, count(*)
        |FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin)
}
