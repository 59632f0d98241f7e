package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type 2 — the history-preserving sibling of
  * the reference's LWW upsert (operators/Upsert.scala covers its
  * overwrite semantics; reference README.md:300-310 "latest data wins").
  * Where LWW keeps one row per key, SCD2 keeps one row per key VERSION,
  * each stamped [valid_from, valid_to) with the current version open —
  * the standard warehouse shape for point-in-time joins.
  *
  * Built from each user's purchase stream: a purchase whose amount
  * differs from the user's previous purchase opens a new version
  * (consecutive no-change updates collapse, per SCD2); the next
  * version's start closes it. Two stacked windows over the SAME
  * (user_id → ts, event_id) partitioning-and-order — change detection
  * via lag, then valid_to/version via lead/row_number on the change
  * rows — so the whole operator costs ONE per-key sort exchange at any
  * scale (Catalyst reuses the exchange; the second window re-sorts only
  * the surviving change rows). Timestamps are second-floored on output
  * like `ts_fill_forward` (the corpus clock is ns in DuckDB, micros
  * here); ordering uses the raw timestamp with event_id tiebreak. */
object Scd extends graft.GateModule {

  private val w =
    Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))

  /** Change-point rows of a (user_id, ts, event_id, value) stream: the
    * first row per key plus every row whose value differs from its
    * predecessor. Idempotent — consecutive change rows differ by
    * construction, so re-collapsing a change-row set is the identity —
    * which is what lets [[scd2Apply]] keep ONLY change rows as state. */
  def changePoints(rows: DataFrame): DataFrame = rows
    .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    .withColumn("prev", lag(col("value"), 1).over(w))
    .filter(col("prev").isNull || col("value") =!= col("prev"))
    .drop("prev")

  /** Validity intervals + version numbers derived from change rows. */
  def deriveHistory(changes: DataFrame): DataFrame = changes
    .withColumn("next_ts", lead(col("ts"), 1).over(w))
    .select(col("user_id"), col("value"),
      date_trunc("second", col("ts")).as("valid_from"),
      date_trunc("second", col("next_ts")).as("valid_to"),
      col("next_ts").isNull.as("is_current"),
      row_number().over(w).cast("long").as("version"))

  def scd2History(spark: SparkSession, dir: String): DataFrame =
    deriveHistory(changePoints(Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")))

  /** Incremental SCD2 maintenance: fold a CDC batch into the change-row
    * state, recomputing ONLY keys the batch touches. Sound because
    * every raw row between two change points carries the last change
    * point's value, so collapsing {state change rows ∪ new raw rows}
    * per key equals collapsing the full raw history — and collapse is
    * idempotent on untouched keys. Work per batch = touched keys
    * (callers prune the state read to touched key buckets); the
    * streaming deployment is [[graft.streaming.ForeachBatchSink
    * .streamScd2]], whose gate pins incremental == full recompute. */
  def scd2Apply(stateChanges: DataFrame, batch: DataFrame): DataFrame = {
    val cols = Seq("user_id", "ts", "event_id", "value").map(col)
    val touched = batch.select("user_id").distinct()
    val affected = stateChanges.select(cols: _*)
      .join(touched, Seq("user_id"), "left_semi")
      .unionByName(batch.select(cols: _*))
    changePoints(affected)
      .unionByName(stateChanges.select(cols: _*)
        .join(touched, Seq("user_id"), "left_anti"))
  }

  /** Point-in-time join — the lookup SCD2 exists to serve: each click
    * joins the purchase-value VERSION valid at its moment,
    * `valid_from <= t < valid_to` (current version open-ended). The
    * half-open intervals partition each user's timeline, so every
    * click matches at most one version — an inner equi-join on
    * user_id with the interval test as a residual range predicate,
    * which Catalyst plans as one per-key sort-merge exchange, never a
    * cross product. Both sides compare second-floored timestamps
    * (history stamps are second-floored), keeping the boundary
    * semantics engine-identical. Clicks before a user's first version
    * have no valid row and drop out, as a PIT lookup should. */
  def pointInTimeJoin(spark: SparkSession, dir: String): DataFrame = {
    val hist = scd2History(spark, dir)
    val clicks = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("at"))
    clicks.join(hist,
        clicks("user_id") === hist("user_id")
          && col("at") >= col("valid_from")
          && (col("valid_to").isNull || col("at") < col("valid_to")))
      .select(clicks("event_id"), clicks("user_id"), col("at"),
        col("version"), col("value"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scd2_history" -> scd2History _,
    "join_point_in_time" -> pointInTimeJoin _)

  val oracles: Map[String, String] = Map(
    "scd2_history" ->
      """WITH p AS (SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT *, lag(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev FROM p),
        |ch AS (SELECT * FROM c WHERE prev IS NULL OR value <> prev)
        |SELECT user_id, value,
        |  CAST(date_trunc('second', ts) AS TIMESTAMP) AS valid_from,
        |  CAST(date_trunc('second', lead(ts) OVER w) AS TIMESTAMP) AS valid_to,
        |  (lead(ts) OVER w) IS NULL AS is_current,
        |  CAST(row_number() OVER w AS BIGINT) AS version
        |FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    "join_point_in_time" ->
      """WITH p AS (SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'purchase'),
        |c2 AS (SELECT *, lag(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev FROM p),
        |ch AS (SELECT * FROM c2 WHERE prev IS NULL OR value <> prev),
        |hist AS (SELECT user_id, value,
        |    CAST(date_trunc('second', ts) AS TIMESTAMP) AS valid_from,
        |    CAST(date_trunc('second', lead(ts) OVER w) AS TIMESTAMP)
        |      AS valid_to,
        |    CAST(row_number() OVER w AS BIGINT) AS version
        |  FROM ch
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |clicks AS (SELECT event_id, user_id,
        |    CAST(date_trunc('second', ts) AS TIMESTAMP) AS at
        |  FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.at, h.version, h.value
        |FROM clicks c JOIN hist h ON c.user_id = h.user_id
        |  AND c.at >= h.valid_from
        |  AND (h.valid_to IS NULL OR c.at < h.valid_to)""".stripMargin)
}
