package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for each right-side row, the latest left-side row with
  * ts <= right.ts within the same key. The canonical time-series
  * operator (quote-to-trade matching in the reference's stock domain;
  * here: each purchase event matched to the user's most recent prior
  * view event).
  *
  * Implementation is the merge-scan form, not a range join: union both
  * sides tagged, sort within each user by (ts, side), and carry the
  * last seen left row forward with `last(_, ignoreNulls)` over an
  * unbounded-preceding window. One shuffle on the key, one sort, zero
  * pair explosion — this is the shape that survives 100 TB, unlike a
  * `ts BETWEEN` self-join whose intermediate is quadratic in events
  * per key. (DuckDB expresses the same operator natively as ASOF JOIN,
  * which is the oracle.)
  */
object AsofJoin extends graft.GateModule {

  /** Generic form: left/right must share `key`; both need `ts`.
    * Emits right rows with the as-of matched left columns (nullable).
    * `forward = true` flips the direction: the EARLIEST left row with
    * ts >= right.ts (the "next quote" variant) — the merge-scan simply
    * runs over the reversed time order, same single exchange. */
  def asof(left: DataFrame, right: DataFrame, key: String,
      leftCols: Seq[String], forward: Boolean = false,
      tieBreak: String = "event_id"): DataFrame = {
    val l = left.withColumn("_side", lit(0))
      .withColumn("_l", struct(leftCols.map(col): _*))
    val r = right.withColumn("_side", lit(1))
      .withColumn("_l", lit(null).cast(l.schema("_l").dataType))
    val commonCols = r.columns.toSeq
    val unioned = l.select(commonCols.map(col): _*).unionByName(r)
    // left rows sort before right rows on ties, so an exactly-equal ts
    // matches in either direction (ASOF's <= / >= semantics). `tieBreak`
    // (a unique id carried through the union) pins the order among
    // equal-ts left rows — the HIGHEST id wins in both directions, the
    // same rule StreamAsof's (us, side, event_id) sort applies — so
    // batch, stream, and oracle stay equal even if the corpus ever
    // grows duplicate per-user timestamps.
    val ord = if (forward) col("ts").desc else col("ts").asc
    val w = Window.partitionBy(col(key))
      .orderBy(ord, col("_side"), col(tieBreak).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("_match", last(col("_l"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .drop("_side", "_l")
  }

  /** Gate query: purchases matched to the user's latest prior view. */
  def purchaseToView(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    asof(views, purchases, "user_id", Seq("ts", "event_id"))
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        col("_match.event_id").as("view_id"),
        (unix_timestamp(col("ts"))
          - unix_timestamp(col("_match.ts"))).as("gap_s"))
  }

  /** Gate query: purchases matched to the user's NEXT view at-or-after
    * the purchase (the forward direction). */
  def purchaseToNextView(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    asof(views, purchases, "user_id", Seq("ts", "event_id"), forward = true)
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        col("_match.event_id").as("view_id"),
        (unix_timestamp(col("_match.ts"))
          - unix_timestamp(col("ts"))).as("gap_s"))
  }

  /** Native whole-operator form of [[purchaseToView]]: the same query
    * through [[graft.plans.AsofJoinNode]] -> AsofJoinStrategy ->
    * AsofJoinExec (custom LogicalPlan + SparkStrategy + SparkPlan, the
    * (c) extension rung) instead of the union+window composition. One
    * exchange + sort per side, then a zero-copy streaming merge with
    * O(1) state per partition. Shares the `asof_join` DuckDB oracle,
    * so the gate proves the custom operator agrees with both the
    * composed form and DuckDB's native ASOF JOIN. Sides are loaded
    * separately so their attribute ids never collide (the analyzer's
    * self-join dedup only rewrites nodes it knows). */
  def purchaseToViewNative(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.{AsofJoinNode, AsofJoinPushDown, AsofJoinStrategy}
    import org.apache.spark.sql.GraftBridge
    // available regardless of whether the session was built with
    // spark.sql.extensions=graft.GraftExtensions (idempotent)
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy
    if (!spark.experimental.extraOptimizations.contains(AsofJoinPushDown))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AsofJoinPushDown
    val views = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
    val purchases = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val lp = GraftBridge.analyzed(views)
    val rp = GraftBridge.analyzed(purchases)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) = p.output.find(_.name == name).get
    val node = AsofJoinNode(lp, rp,
      attr(lp, "v_user"), attr(rp, "user_id"),
      attr(lp, "v_ts"), attr(rp, "ts"),
      attr(lp, "view_id"), attr(rp, "purchase_id"))
    GraftBridge.ofRows(spark, node)
      .select(col("purchase_id"), col("user_id"), col("view_id"),
        (unix_timestamp(col("ts"))
          - unix_timestamp(col("v_ts"))).as("gap_s"))
  }

  /** Max staleness (seconds) for the tolerance-bounded as-of gate. */
  val asofToleranceS = 3600L

  /** As-of with TOLERANCE (pandas `merge_asof(tolerance=...)`): the
    * latest prior view still matches, but a match staler than
    * [[asofToleranceS]] is nulled out — "the quote is too old to
    * trust". The as-of match IS the nearest prior row, so nulling
    * after the fact is exact (no nearer candidate can exist), which
    * keeps the operator the same single union+window exchange with a
    * post-projection — tolerance costs nothing at any scale. */
  def purchaseToViewTolerance(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val gap = unix_timestamp(col("ts")) - unix_timestamp(col("_match.ts"))
    val within = gap <= asofToleranceS
    asof(views, purchases, "user_id", Seq("ts", "event_id"))
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        when(within, col("_match.event_id")).as("view_id"),
        when(within, gap).as("gap_s"))
  }

  /** As-of NEAREST (pandas `merge_asof(direction='nearest')`): each
    * purchase matched to the view closest in time in EITHER direction,
    * ties to the prior one. Composes the backward and forward merge
    * scans — each already exact for its direction, so the row-wise
    * argmin over the two candidates is the global nearest; no new
    * operator shape, just two keyed exchanges and one equi-join on the
    * unique purchase id. The same two-scan trick is how a native
    * engine implements nearest too (a single scan can't know the
    * forward candidate until it has passed it). */
  def purchaseToNearestView(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val back = asof(views, purchases, "user_id", Seq("ts", "event_id"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("_match.event_id").as("b_id"),
        (unix_timestamp(col("ts"))
          - unix_timestamp(col("_match.ts"))).as("b_gap"))
    val fwd = asof(views, purchases, "user_id", Seq("ts", "event_id"),
        forward = true)
      .select(col("event_id").as("purchase_id"),
        col("_match.event_id").as("f_id"),
        (unix_timestamp(col("_match.ts"))
          - unix_timestamp(col("ts"))).as("f_gap"))
    val useBack = col("f_gap").isNull ||
      (col("b_gap").isNotNull && col("b_gap") <= col("f_gap"))
    back.join(fwd, "purchase_id")
      .select(col("purchase_id"), col("user_id"),
        when(useBack, col("b_id")).otherwise(col("f_id")).as("view_id"),
        when(useBack, col("b_gap")).otherwise(col("f_gap")).as("gap_s"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "asof_join" -> purchaseToView _,
    "asof_join_forward" -> purchaseToNextView _,
    "asof_join_tolerance" -> purchaseToViewTolerance _,
    "asof_join_native" -> purchaseToViewNative _,
    "asof_join_nearest" -> purchaseToNearestView _)

  val oracles: Map[String, String] = Map(
    "asof_join_native" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  v.event_id AS view_id,
        |  CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS gap_s
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts""".stripMargin,
    "asof_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  v.event_id AS view_id,
        |  CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS gap_s
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts""".stripMargin,
    "asof_join_tolerance" ->
      s"""SELECT p.event_id AS purchase_id, p.user_id,
         |  CASE WHEN date_diff('second', v.ts, p.ts) <= $asofToleranceS
         |    THEN v.event_id END AS view_id,
         |  CASE WHEN date_diff('second', v.ts, p.ts) <= $asofToleranceS
         |    THEN CAST(date_diff('second', v.ts, p.ts) AS BIGINT)
         |  END AS gap_s
         |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
         |  ON p.user_id = v.user_id AND v.ts <= p.ts""".stripMargin,
    "asof_join_nearest" ->
      """WITH b AS (
        |  SELECT p.event_id AS purchase_id, p.user_id,
        |    v.event_id AS b_id,
        |    CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS b_gap
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |    ON p.user_id = v.user_id AND v.ts <= p.ts),
        |f AS (
        |  SELECT p.event_id AS purchase_id, v.event_id AS f_id,
        |    CAST(date_diff('second', p.ts, v.ts) AS BIGINT) AS f_gap
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |    ON p.user_id = v.user_id AND v.ts >= p.ts)
        |SELECT b.purchase_id, b.user_id,
        |  CASE WHEN f.f_gap IS NULL
        |         OR (b.b_gap IS NOT NULL AND b.b_gap <= f.f_gap)
        |    THEN b.b_id ELSE f.f_id END AS view_id,
        |  CASE WHEN f.f_gap IS NULL
        |         OR (b.b_gap IS NOT NULL AND b.b_gap <= f.f_gap)
        |    THEN b.b_gap ELSE f.f_gap END AS gap_s
        |FROM b JOIN f USING (purchase_id)""".stripMargin,
    "asof_join_forward" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  v.event_id AS view_id,
        |  CAST(date_diff('second', p.ts, v.ts) AS BIGINT) AS gap_s
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts >= p.ts""".stripMargin)
}
