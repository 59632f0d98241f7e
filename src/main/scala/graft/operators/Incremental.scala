package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — the materialized-view pattern
  * behind every at-scale metrics pipeline: instead of recomputing a
  * 100 TB aggregate when late data lands, keep per-partition SUFFICIENT
  * STATISTICS (count / decimal sum / min / max — all algebraic) and fold
  * the delta batch's partials into them with one small merge
  * aggregation. Work per refresh is O(delta + touched groups), not
  * O(history).
  *
  * The gate proves the algebra: the corpus is split into a base slice
  * and a "late-arriving" delta slice, each aggregated to partials
  * independently (in production the base partials are the stored MV
  * state), and the union is merged — count by sum, sum by decimal sum
  * (order-independent, see Tables.dsum), min/max by min/max. The result
  * must equal the full single-pass aggregation bit-for-bit, which is
  * exactly the DuckDB oracle. The same algebra is what makes partial
  * (map-side) aggregation, AQE re-planning, and retry idempotence safe
  * everywhere else in the engine. */
object Incremental extends graft.GateModule {

  /** Deterministic "late data" rule — a fifth of events arrive in the
    * delta batch. */
  private def isLate = col("event_id") % 5 === 0

  private def partials(ev: DataFrame): DataFrame =
    ev.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(Tables.dec(col("value"))).as("vsum"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"))

  def incrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(date_trunc("day", col("ts")).as("day"), col("event_type"),
        col("value"), col("event_id"))
    val base = partials(ev.filter(!isLate))
    val delta = partials(ev.filter(isLate))
    base.unionByName(delta)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("vsum")).cast("double").as("val_sum"),
        min(col("vmin")).as("val_min"),
        max(col("vmax")).as("val_max"))
  }

  /** Incremental JOIN maintenance — the delta-join identity that lets a
    * materialized join view absorb late rows on BOTH inputs without
    * re-joining history:
    * Δ(A⋈B) = ΔA⋈A̅B ∪ A̅A⋈ΔB ∪ ΔA⋈ΔB (A̅ = pre-delta state).
    * The gate splits orders and lineitem into old/delta slices by
    * INDEPENDENT rules (so all four quadrants are non-empty), builds
    * the view as old⋈old plus the three delta terms, and aggregates —
    * which must equal the direct join of the full tables (the oracle).
    * In production V_old = old⋈old is STORED state: a refresh computes
    * only the three delta terms, and with both sides key-partitioned
    * the two mixed terms shuffle just the delta rows against a
    * co-located base — work O(Δ + matched), never O(history). The gate
    * materializes every quadrant because proving the algebra IS the
    * point; per-quadrant disjointness is spec-asserted. */
  def joinIncremental(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_orderkey") % 7 === 0).as("late"))
    val l = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        (col("l_linenumber") % 3 === 0).as("late"))
    def quad(oLate: Boolean, lLate: Boolean): DataFrame =
      o.filter(col("late") === oLate).drop("late")
        .join(l.filter(col("late") === lLate).drop("late"),
          col("o_orderkey") === col("l_orderkey"))
    quad(false, false) // V_old: the stored view state
      .unionByName(quad(true, false)) // ΔA ⋈ old B
      .unionByName(quad(false, true)) // old A ⋈ ΔB
      .unionByName(quad(true, true)) // ΔA ⋈ ΔB
      .groupBy(col("o_orderkey"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("rev_cents"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_incremental" -> incrementalMerge _,
    "join_incremental" -> joinIncremental _)

  val oracles: Map[String, String] = Map(
    // merged partials must equal the full one-pass aggregation
    "agg_incremental" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum,
        |  min(value) AS val_min, max(value) AS val_max
        |FROM events GROUP BY 1, 2""".stripMargin,
    // the quadrant union must equal the direct full join
    "join_incremental" ->
      """SELECT o_orderkey, o_orderstatus, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS rev_cents
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin)
}
