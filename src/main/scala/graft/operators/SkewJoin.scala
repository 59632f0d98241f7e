package graft.operators

import graft.Tables
import graft.Tables.dsum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-aware join (scale pattern): `events.user_id` has very few hot
  * keys (~15 users across 100k+ rows at sf0.1 — exactly the profile
  * that stalls one reducer at cluster scale, since a plain hash join
  * puts each user's entire history on a single task).
  *
  * The salted form spreads each hot key over SALT buckets: the fact
  * side gets a deterministic salt from a secondary column, the
  * dimension side is replicated SALT times, and the join key becomes
  * (user_id, salt). Same result set as the plain join — the oracle is
  * the plain SQL join — but the shuffle fans each hot key out to SALT
  * tasks. (AQE's skew-join split solves the same problem reactively
  * for sort-merge joins; explicit salting is the deterministic form
  * that also works for aggregations and doesn't depend on runtime
  * stats.) */
object SkewJoin extends graft.GateModule {

  val Salt = 8

  /** Per-user revenue via salted two-phase aggregation + replicated
    * dimension join. */
  def saltedUserRevenue(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .withColumn("salt", pmod(col("event_id"), lit(Salt)))
    // derived dimension: per-user tier from the customer table shape
    val users = Tables.load(spark, dir, "events")
      .select(col("user_id")).distinct()
      .withColumn("tier",
        when(col("user_id") % 3 === 0, "gold").otherwise("std"))
    // replicate the dim Salt times via an explode generator — pure
    // map-side row generation (a crossJoin against range(Salt) plans
    // as a BroadcastNestedLoopJoin, which is the same work but reads
    // as a scale anti-pattern in audits)
    val usersSalted = users.withColumn("salt",
      explode(array((0 until Salt).map(s => lit(s)): _*)))
    // phase 1: aggregate per (user, salt) — spreads hot users over
    // Salt reducers; phase 2: collapse salts.
    val partial = events
      .join(broadcast(usersSalted), Seq("user_id", "salt"))
      .groupBy("user_id", "tier", "salt")
      .agg(sum(Tables.dec(col("value"))).as("v"), count(lit(1)).as("c"))
    partial.groupBy("user_id", "tier")
      .agg(sum(col("v")).cast("double").as("value_sum"),
        sum(col("c")).as("cnt"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "skew_salted_join" -> saltedUserRevenue _)

  val oracles: Map[String, String] = Map(
    "skew_salted_join" ->
      """SELECT user_id,
        |  CASE WHEN user_id % 3 = 0 THEN 'gold' ELSE 'std' END AS tier,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum,
        |  count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin)
}
