package graft.analytics

import graft.Tables
import graft.Tables.{dec, dprodsum, dsum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join / window / set-op surface. The reference itself has no joins
  * (SURVEY.md §2.6) — its only key-matching semantics is the upsert merge —
  * but the harness star-schema exercises Spark's built-in joins, and the
  * engine's query layer exposes them as first-class operators.
  *
  * Scale design:
  *  - dimension joins (region/nation/customer at TPC-H ratios) are
  *    broadcast explicitly — no shuffle of the fact side;
  *  - fact-fact joins shuffle on the join key once and reuse it;
  *  - money aggregates use exact-decimal terms (see Tables.dsum) so the
  *    result is independent of partial-aggregation order — required for
  *    oracle hash-parity and a good idea at 1000 executors anyway;
  *  - windows partition by high-cardinality keys (customer, user) so no
  *    single partition holds more than one key's rows.
  */
object JoinQueries extends graft.GateModule {

  /** Fact-fact-dim join + grouped revenue (decimal-exact). */
  def joinAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        dprodsum(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Broadcast star: region -> nation -> customer rollup. */
  def broadcastDim(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.load(spark, dir, "region")
    val n = Tables.load(spark, dir, "nation")
    val c = Tables.load(spark, dir, "customer")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("acctbal_sum"))
  }

  /** Left-semi join (EXISTS): customers holding at least one urgent order. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Left-anti join (NOT EXISTS): customers with no urgent order. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Left-outer join preserving customers with zero orders. */
  def outerJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
  }

  /** Full-outer join with unmatched rows on BOTH sides: per-customer
    * counts of finished ('F') orders against the high-balance customer
    * roster. Customers who never placed an F order survive from the
    * right, F-order customers below the balance cut survive from the
    * left, and the `side` column labels which — the reconciliation
    * shape (ledger vs ledger) that left/semi/anti can't express.
    * Both inputs pre-aggregate/filter BEFORE the join, so the full
    * outer shuffles two already-small keyed frames, and a full outer
    * over a shared hash partitioning is one exchange per side — same
    * cost as the inner join at any scale. */
  def fullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.load(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_f_orders"),
        dsum(col("o_totalprice")).as("f_total"))
    val c = Tables.load(spark, dir, "customer")
      .filter(col("c_acctbal") > 5000)
      .select(col("c_custkey"), col("c_name"))
    f.join(c, f("o_custkey") === c("c_custkey"), "full_outer")
      .select(
        coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
        coalesce(col("n_f_orders"), lit(0L)).as("n_f_orders"),
        coalesce(col("f_total"), lit(0.0)).as("f_total"),
        col("c_name"),
        when(col("o_custkey").isNull, "right_only")
          .when(col("c_custkey").isNull, "left_only")
          .otherwise("both").as("side"))
  }

  /** Distinct aggregation: exact distinct suppliers/parts per line status. */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_linestatus")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"))

  /** Window top-1 per key: each customer's highest-value order. */
  def windowTopn(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.load(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
  }

  /** Running (prefix) sum per user over event time — decimal-exact so the
    * result doesn't depend on the engine's windowed-sum association. */
  def runningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "events")
      .withColumn("run_total", sum(dec(col("value"))).over(w).cast("double"))
      .select("event_id", "user_id", "run_total")
  }

  /** [[runningSum]] with time-bucketed chunking for pathological keys:
    * a single user with billions of events would pin one task in the
    * naive form (the window partitions by user_id alone). Here the sort
    * -heavy prefix sum runs within (user_id, day) chunks; a per-chunk
    * carry-in — the cumulative sum of *previous chunks' totals*, one row
    * per (user, day) — is added back. The per-user sequential work drops
    * from O(events) to O(days), and decimal arithmetic is associative,
    * so the result is bit-identical to the naive form (same oracle). */
  def runningSumChunked(spark: SparkSession, dir: String): DataFrame =
    runningSumChunkedDf(Tables.load(spark, dir, "events"))

  def runningSumChunkedDf(events: DataFrame): DataFrame = {
    val ev = events.withColumn("bucket", date_trunc("day", col("ts")))
    val wLocal = Window.partitionBy(col("user_id"), col("bucket"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ev.withColumn("local_run", sum(dec(col("value"))).over(wLocal))
    val wCarry = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = ev.groupBy(col("user_id"), col("bucket"))
      .agg(sum(dec(col("value"))).as("btot"))
      .withColumn("carry", sum(col("btot")).over(wCarry))
      .select(col("user_id").as("cu"), col("bucket").as("cb"), col("carry"))
    local.join(carry,
        local("user_id") === col("cu") && local("bucket") === col("cb"))
      .withColumn("run_total",
        (col("local_run") + coalesce(col("carry"), lit(0))).cast("double"))
      .select("event_id", "user_id", "run_total")
  }

  /** Set operations: UNION (distinct) / INTERSECT / EXCEPT cardinalities
    * over two derived key sets. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val building = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val urgent = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("k"))
    def cnt(df: DataFrame, op: String): DataFrame =
      df.agg(count(lit(1)).as("cnt")).select(lit(op).as("op"), col("cnt"))
    cnt(building.union(urgent).distinct(), "union")
      .union(cnt(building.intersect(urgent), "intersect"))
      .union(cnt(building.except(urgent), "except"))
  }

  /** Tumbling 1-hour window over event time (batch form of the M5
    * streaming aggregation; same result as EventStream's streaming run). */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))

  /** Range predicate + date-part rollup: yearly revenue 1996-1998. */
  def yearlyRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate").between(
        lit("1996-01-01").cast("timestamp"), lit("1998-12-31").cast("timestamp")))
      .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(dprodsum(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"))

  /** Edit-distance (Levenshtein <= 2) similarity self-join over the
    * distinct part-name vocabulary, via the SYMMETRIC-DELETE
    * (SymSpell) neighborhood: two strings within edit distance k share
    * at least one variant obtainable by deleting <= k characters from
    * each (a substitution deletes one char on both sides; an
    * insertion in one string is a deletion in the other). So each name
    * expands map-side into its <= 2-deletion neighborhood (~1 + L +
    * L(L-1)/2 keys, codegen'd higher-order functions — no UDF), pairs
    * meet on an EQUI-join over the variant key, and exact
    * `levenshtein` verifies (removing the neighborhood's false
    * positives). Work is linear in vocabulary size times ~L²/2 keys —
    * never the quadratic all-pairs comparison, which is what makes a
    * fuzzy join feasible over a 100 TB corpus vocabulary. */
  def fuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.load(spark, dir, "part").select(col("p_name")).distinct()
    // delete-1 neighborhood of s, empty-safe: positions 1..len(s)
    def dels(s: String): String =
      s"CASE WHEN length($s) = 0 THEN array() ELSE " +
        s"transform(sequence(1, length($s)), " +
        s"i -> concat(substring($s, 1, i - 1), substring($s, i + 1))) END"
    val vars = names
      .withColumn("v1", expr(dels("p_name")))
      .withColumn("key", explode(expr(
        s"array_distinct(concat(array(p_name), v1, " +
          s"flatten(transform(v1, s -> ${dels("s")}))))")))
    vars.as("a").join(vars.as("b"), "key")
      .where(col("a.p_name") < col("b.p_name"))
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .where(col("dist") <= 2)
  }

  /** Interval-overlap join — the temporal join with NO equi key:
    * purchase attention windows [ts, ts+1h) against error windows
    * [ts, ts+30m) (both sides capped to a pilot user cohort so the
    * quadratic TRUE output stays gate-sized). The naive plan is a
    * cartesian product with a range predicate (banned by the plan
    * audit); this op bucketizes time into hour cells, explodes each
    * interval to the ≤2 cells it covers (map-side, fanout bounded by
    * interval length ÷ cell width), EQUI-joins on the cell, verifies
    * the exact half-open overlap, and `distinct`s away multi-cell
    * double-hits. Any overlapping pair shares the cell containing
    * max(starts), so the cell join loses nothing; cell width tunes the
    * candidate-fanout/selectivity trade exactly like the range-join
    * bucketizer ([[rangeJoin]]'s sibling with BOTH sides interval). */
  def intervalOverlapJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .filter(col("user_id") < 5)
      .select(col("event_id"), col("event_type"),
        date_trunc("second", col("ts")).as("s"))
    def side(et: String, mins: Int, p: String) = ev
      .filter(col("event_type") === et)
      .select(col("event_id").as(s"${p}_id"), col("s").as(s"${p}_s"),
        (col("s") + expr(s"interval $mins minutes")).as(s"${p}_e"))
    val a = side("purchase", 60, "a")
    val b = side("error", 30, "b")
    def cells(df: DataFrame, p: String) = df.withColumn("cell",
      explode(sequence(date_trunc("hour", col(s"${p}_s")),
        date_trunc("hour", col(s"${p}_e")), expr("interval 1 hour"))))
    cells(a, "a").join(cells(b, "b"), "cell")
      .where(col("a_s") < col("b_e") && col("b_s") < col("a_e"))
      .select(col("a_id"), col("b_id"), col("a_s"), col("b_s"),
        (unix_timestamp(least(col("a_e"), col("b_e")))
          - unix_timestamp(greatest(col("a_s"), col("b_s"))))
          .as("overlap_s"))
      .distinct()
  }

  /** Null-aware anti join — SQL `NOT IN (subquery)` with its full
    * three-valued semantics: a NULL probe can never prove
    * non-membership, so those rows drop (where the NULL-blind
    * left-anti of [[antiJoin]] would keep them — the classic silent
    * NOT IN bug). Probe nulls are injected with NULLIF so the corpus
    * actually exercises the rule. Spark plans the single-key form as
    * the optimized broadcast null-aware anti join (NAAJ) rather than a
    * BroadcastNestedLoopJoin; at 100 TB the build side is the
    * deduplicated key set (bounded by key cardinality, broadcast), and
    * the probe side streams map-side. Same text runs in DuckDB. */
  private[analytics] val nullAwareAntiText: String =
    """SELECT o_orderstatus, count(*) AS n_orders
      |FROM (SELECT o_orderstatus, NULLIF(o_custkey % 997, 0) AS probe
      |      FROM orders) o
      |WHERE probe NOT IN (SELECT c_custkey % 1000 FROM customer
      |                    WHERE c_mktsegment = 'MACHINERY')
      |GROUP BY o_orderstatus""".stripMargin

  def nullAwareAnti(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir, "orders", "customer")
    spark.sql(nullAwareAntiText)
  }

  /** TPC-H Q5 shape ("local supplier volume",
    * /root/reference has no SQL surface — this is the OLAP canon the
    * engine must speak): lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈
    * nation ⋈ region, revenue where the CUSTOMER'S nation equals the
    * SUPPLIER'S nation inside one region and order year. The scale
    * shape: the two fact tables join once on orderkey (their natural
    * shuffle), everything else broadcasts (supplier/customer are
    * TPC-H-ratio dims; nation/region are tiny), the same-nation
    * predicate rides the customer broadcast join as a second equi-key
    * (c_nationkey = s_nationkey) rather than a post-filter, and the
    * date + region filters reach the scans (pushdown) so a year's
    * fraction of orders is all that shuffles. */
  def q5Volume(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val c = Tables.load(spark, dir, "customer")
    val s = Tables.load(spark, dir, "supplier")
    val n = Tables.load(spark, dir, "nation")
    val r = Tables.load(spark, dir, "region").filter(col("r_name") === "ASIA")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey")
        && c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name")
      .agg(dprodsum(col("l_extendedprice"), lit(1) - col("l_discount"))
        .as("revenue"))
  }

  /** TPC-H Q10 shape ("returned item reporting"): the top 20 customers
    * by revenue lost to returns in one quarter. Same fact-fact shuffle
    * + broadcast-dim discipline as [[q5Volume]]; the top-20 is
    * TakeOrderedAndProject (per-partition heads, k·P driver merge — no
    * global sort), with c_custkey as the explicit tiebreak so the cut
    * is deterministic on every engine and retry. */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(dprodsum(col("l_extendedprice"), lit(1) - col("l_discount"))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q18 shape ("large-volume customers"): orders whose total
    * line quantity exceeds a threshold, joined back to their customer.
    * The canonical HAVING-over-aggregate-subquery form — and the scale
    * lesson is the ORDER of reduction: the lineitem aggregate collapses
    * to one row per order BEFORE any join (partial+final hash agg, the
    * fact table's only shuffle), the HAVING then cuts that to a ~1%
    * survivor set, and AQE sees the post-filter size at runtime and
    * broadcasts the survivors into the orders join — the join-back
    * costs no second fact shuffle. Quantities are integral by corpus
    * construction (round() pins it), so the threshold predicate and
    * sum are exact on every engine. */
  def q18BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.load(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("sum_qty"))
      .filter(col("sum_qty") > 250)
    Tables.load(spark, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.load(spark, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .selectExpr("c_custkey", "c_name", "o_orderkey",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents",
        "sum_qty")
  }

  /** TPC-H Q3 shape ("shipping priority"): the 10 highest-revenue
    * undelivered BUILDING orders at a cutoff date. Scale shape: both
    * date predicates push to the fact scans (orders placed before /
    * lines shipped after the cutoff), customer broadcasts as a
    * SEGMENT-filtered semi-side, the two facts shuffle once on
    * orderkey, and the top-10 is TakeOrderedAndProject — no global
    * sort. Money is exact c4 integers (cents × discount-%), so the
    * revenue ranking and its o_orderkey tiebreak are retry- and
    * engine-deterministic — a float sum here could flip adjacent
    * ranks between partial-agg orders. */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-03-15").cast("timestamp")
    val l = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") > cut)
      .selectExpr("l_orderkey",
        "CAST(round(l_extendedprice * 100) AS BIGINT)" +
          " * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_c4")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") < cut)
    val c = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(sum(col("rev_c4")).as("revenue_c4"))
      .orderBy(col("revenue_c4").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q14 shape ("promotion effect"): the share of one month's
    * discounted revenue that came from PROMO parts, as an exact q6
    * ratio. Scale shape: the month predicate prunes the fact scan to
    * ~1.5% of lineitem, part broadcasts (TPC-H dim ratio), and the
    * CASE-sum computes both numerator and denominator in ONE pass —
    * the naive two-query form would scan the join twice. The ratio is
    * (1e6·promo) DIV total on non-negative c4 integers, the house
    * cross-engine form. */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-09-01").cast("timestamp")
        && col("l_shipdate") < lit("1998-10-01").cast("timestamp"))
      .selectExpr("l_partkey",
        "CAST(round(l_extendedprice * 100) AS BIGINT)" +
          " * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_c4")
    val p = Tables.load(spark, dir, "part").select("p_partkey", "p_type")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(when(col("p_type") === "PROMO", col("rev_c4")).otherwise(0L))
          .as("promo_c4"),
        sum(col("rev_c4")).as("total_c4"))
      .selectExpr("n_items", "promo_c4", "total_c4",
        "CAST((1000000 * promo_c4) DIV total_c4 AS BIGINT) AS promo_q6")
  }

  /** TPC-H Q19 shape ("discounted revenue", disjunctive predicates):
    * revenue from three (brand, size-range, quantity-range) branches
    * OR'd together — the canonical pushdown stress test, because the
    * raw disjunction mixes columns from both sides and pushes to
    * NEITHER scan. The scale fix is the standard redundant-prefilter
    * decomposition: the union of the part branches (brand IN (...),
    * size ≤ max) prefilters the broadcast side, the union of the
    * quantity ranges prefilters the FACT SCAN (row-group pruning on
    * l_quantity), and the exact three-way disjunction then runs as a
    * post-join filter over the already-tiny survivor set. Branch
    * ranges are widened vs classic Q19 so the corpus' uniform
    * brand/size distribution keeps every branch populated at every
    * test SF. */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
      // raw-column prefilter (half-grid slack) so the branch-union range
      // reaches the parquet scan; the exact rounded-integer filter below
      // decides membership (same pattern as q6Forecast)
      .filter(col("l_quantity") >= 0.5 && col("l_quantity") <= 40.5)
      .selectExpr("l_partkey",
        "CAST(round(l_quantity) AS BIGINT) AS qty",
        "CAST(round(l_extendedprice * 100) AS BIGINT)" +
          " * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_c4")
      .filter(col("qty") >= 1 && col("qty") <= 40) // union of branch ranges
    val p = Tables.load(spark, dir, "part")
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        && col("p_size") >= 1 && col("p_size") <= 25) // union of branches
      .select("p_partkey", "p_brand", "p_size")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)
          && col("qty").between(1, 24)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 20)
          && col("qty").between(10, 30)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 25)
          && col("qty").between(20, 40)))
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(col("rev_c4")), lit(0L)).as("revenue_c4"))
  }

  /** NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM): the join
    * key semantics ETL needs when NULL is a real category (unknown
    * region, unparsed field) rather than SQL's "matches nothing". The
    * two sides bucket orders and customers onto the same NULLable key
    * (bucket 0 nulled out via NULLIF — the null-aware-anti gate's
    * pattern); a plain equi-join would silently DROP the null bucket,
    * a null-safe join pairs it exactly once. Spark plans EqualNullSafe
    * as a first-class hash-join key (no fallback to nested-loop —
    * PlanAuditSpec would catch that), so the null bucket costs the
    * same as any other key at scale. */
  def nullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.load(spark, dir, "orders")
      .selectExpr("NULLIF(o_custkey % 50, 0) AS k")
      .groupBy("k").agg(count(lit(1)).as("n_orders"))
    val b = Tables.load(spark, dir, "customer")
      .selectExpr("NULLIF(c_custkey % 50, 0) AS k2")
      .groupBy("k2").agg(count(lit(1)).as("n_customers"))
    a.join(b, a("k") <=> b("k2"))
      .select(col("k"), col("n_orders"), col("n_customers"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_null_safe" -> nullSafeJoin _,
    "join_q3_shipping" -> q3Shipping _,
    "join_q14_promo" -> q14Promo _,
    "join_q19_disjunctive" -> q19Disjunctive _,
    "join_q5_volume" -> q5Volume _,
    "join_q10_returns" -> q10Returns _,
    "join_q18_big_orders" -> q18BigOrders _,
    "join_null_aware_anti" -> nullAwareAnti _,
    "join_interval_overlap" -> intervalOverlapJoin _,
    "join_fuzzy" -> fuzzyJoin _,
    "join_agg" -> joinAgg _,
    "join_broadcast_dim" -> broadcastDim _,
    "join_semi" -> semiJoin _,
    "join_anti" -> antiJoin _,
    "join_outer" -> outerJoin _,
    "join_full_outer" -> fullOuterJoin _,
    "agg_distinct" -> aggDistinct _,
    "window_topn" -> windowTopn _,
    "window_running_sum" -> runningSum _,
    "window_running_sum_chunked" -> runningSumChunked _,
    "setops_counts" -> setOps _,
    "window_tumbling" -> tumblingWindow _,
    "yearly_revenue" -> yearlyRevenue _)

  val oracles: Map[String, String] = Map(
    "join_null_safe" ->
      """WITH a AS (SELECT NULLIF(o_custkey % 50, 0) AS k,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1),
        |b AS (SELECT NULLIF(c_custkey % 50, 0) AS k2,
        |    CAST(count(*) AS BIGINT) AS n_customers
        |  FROM customer GROUP BY 1)
        |SELECT k, n_orders, n_customers
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k2""".stripMargin,
    "join_q3_shipping" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |    AS BIGINT) AS revenue_c4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue_c4 DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "join_q14_promo" ->
      """WITH j AS (SELECT p_type,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_c4
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1998-09-01'
        |    AND l_shipdate < TIMESTAMP '1998-10-01')
        |SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_c4 ELSE 0 END)
        |    AS BIGINT) AS promo_c4,
        |  CAST(sum(rev_c4) AS BIGINT) AS total_c4,
        |  CAST((1000000 * sum(CASE WHEN p_type = 'PROMO' THEN rev_c4
        |      ELSE 0 END)) // sum(rev_c4) AS BIGINT) AS promo_q6
        |FROM j""".stripMargin,
    "join_q19_disjunctive" ->
      """WITH j AS (SELECT p_brand, p_size,
        |    CAST(round(l_quantity) AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_c4
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(coalesce(sum(rev_c4), 0) AS BIGINT) AS revenue_c4
        |FROM j
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND qty BETWEEN 1 AND 24)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
        |       AND qty BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
        |       AND qty BETWEEN 20 AND 40)""".stripMargin,
    "join_q5_volume" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |           * CAST(1 - l_discount AS DECIMAL(18,4)))
        |    AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "join_q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |           * CAST(1 - l_discount AS DECIMAL(18,4)))
        |    AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "join_q18_big_orders" ->
      """WITH big AS (SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |      AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 250)
        |SELECT c_custkey, c_name, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
        |  sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "join_null_aware_anti" -> nullAwareAntiText,
    "join_interval_overlap" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(date_trunc('second', CAST(ts AS TIMESTAMP))
        |      AS TIMESTAMP) AS s
        |  FROM events WHERE user_id < 5),
        |a AS (SELECT event_id AS a_id, s AS a_s,
        |    s + INTERVAL 60 MINUTE AS a_e
        |  FROM e WHERE event_type = 'purchase'),
        |b AS (SELECT event_id AS b_id, s AS b_s,
        |    s + INTERVAL 30 MINUTE AS b_e
        |  FROM e WHERE event_type = 'error')
        |SELECT a_id, b_id, a_s, b_s,
        |  CAST(epoch(least(a_e, b_e)) AS BIGINT)
        |    - CAST(epoch(greatest(a_s, b_s)) AS BIGINT) AS overlap_s
        |FROM a JOIN b ON a_s < b_e AND b_s < a_e""".stripMargin,
    "join_fuzzy" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
    "join_agg" ->
      """SELECT c_mktsegment,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |           * CAST(1 - l_discount AS DECIMAL(18,4)))
        |    AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "join_broadcast_dim" ->
      """SELECT r_name, count(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS acctbal_sum
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "join_semi" ->
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin,
    "join_anti" ->
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin,
    "join_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,
    "join_full_outer" ->
      """WITH f AS (SELECT o_custkey, count(*) AS n_f_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |      AS f_total
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |c AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000)
        |SELECT coalesce(f.o_custkey, c.c_custkey) AS custkey,
        |  coalesce(f.n_f_orders, 0) AS n_f_orders,
        |  coalesce(f.f_total, 0.0) AS f_total,
        |  c.c_name,
        |  CASE WHEN f.o_custkey IS NULL THEN 'right_only'
        |    WHEN c.c_custkey IS NULL THEN 'left_only'
        |    ELSE 'both' END AS side
        |FROM f FULL OUTER JOIN c ON f.o_custkey = c.c_custkey""".stripMargin,
    "agg_distinct" ->
      """SELECT l_linestatus,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,
    "window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC) = 1""".stripMargin,
    "window_running_sum" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS run_total
        |FROM events""".stripMargin,
    // chunked form is decimal-exact-equal to the naive prefix sum
    "window_running_sum_chunked" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS run_total
        |FROM events""".stripMargin,
    "setops_counts" ->
      """WITH b AS (SELECT c_custkey AS k FROM customer
        |           WHERE c_mktsegment = 'BUILDING'),
        |     u AS (SELECT o_custkey AS k FROM orders
        |           WHERE o_orderpriority = '1-URGENT')
        |SELECT 'union' AS op, count(*) AS cnt
        |  FROM (SELECT k FROM b UNION SELECT k FROM u)
        |UNION ALL
        |SELECT 'intersect' AS op, count(*) AS cnt
        |  FROM (SELECT k FROM b INTERSECT SELECT k FROM u)
        |UNION ALL
        |SELECT 'except' AS op, count(*) AS cnt
        |  FROM (SELECT k FROM b EXCEPT SELECT k FROM u)""".stripMargin,
    "window_tumbling" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  event_type, count(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY 1, 2""".stripMargin,
    "yearly_revenue" ->
      """SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |           * CAST(1 - l_discount AS DECIMAL(18,4)))
        |    AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
        |                     AND TIMESTAMP '1998-12-31 00:00:00'
        |GROUP BY 1""".stripMargin)
}
