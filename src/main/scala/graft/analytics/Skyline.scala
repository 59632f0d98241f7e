package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Skyline (Pareto-optimal) query — "the maxima of a point set"
  * (Börzsönyi, Kossmann, Stocker, ICDE 2001): keep every order not
  * DOMINATED by another, where b dominates a when b is >= a in both
  * (totalprice, orderdate) and strictly > in at least one. The shape
  * behind every "best trade-off" question (biggest AND most recent;
  * cheapest AND closest) that top-k by a single weighted score gets
  * wrong.
  *
  * Distributed shape — the textbook two-phase split:
  *  1. LOCAL skyline per partition (`mapPartitions`, an O(k) sweep
  *     after an in-partition sort). Correct because dominance within a
  *     partition implies dominance globally, so a local drop is always
  *     safe; local survivors are a superset of the global skyline.
  *  2. GLOBAL skyline over the union of local survivors. Local
  *     skylines are tiny relative to their partitions (a partition of
  *     random points keeps O(log n) expected; even adversarial sorted
  *     data keeps only the per-partition Pareto front), so the final
  *     sweep runs on one executor over a frame the size of candidates,
  *     never the corpus.
  *
  * `mapPartitions` is deliberate, not a fallback: the dominance sweep
  * is inherently sequential per partition (each point compares against
  * the running frontier), the one shape the declarative operator set
  * can't express without an unpartitioned window (all data to one
  * partition — banned at scale) or a quadratic self-join. The output
  * is the EXACT skyline regardless of partitioning — the spec
  * reshuffles and re-runs to pin partition-invariance. */
object Skyline extends graft.GateModule {

  /** One sweep: sort by price desc / date desc, walk price GROUPS in
    * descending order keeping a running `m` = max date over strictly
    * higher prices. A group survives iff its max date D > m, and the
    * survivors are exactly its date==D points (lower dates are
    * dominated in-group: equal price, strictly later date; identical
    * (price, date) duplicates never dominate each other, so all are
    * kept). O(k log k) in the partition size, O(1) state. */
  private def sweep(rows: Iterator[(Long, Double, Long)])
      : Iterator[(Long, Double, Long)] = {
    val sorted = rows.toArray.sortBy(t => (-t._2, -t._3, t._1))
    val out = Array.newBuilder[(Long, Double, Long)]
    var m = Long.MinValue
    var i = 0
    while (i < sorted.length) {
      val p = sorted(i)._2
      val d = sorted(i)._3
      var j = i
      while (j < sorted.length && sorted(j)._2 == p) {
        if (sorted(j)._3 == d && d > m) out += sorted(j)
        j += 1
      }
      if (d > m) m = d
      i = j
    }
    out.result().iterator
  }

  /** Skyline of orders over (o_totalprice max, o_orderdate max). */
  def skyline(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val pts = orders.select(col("o_orderkey"), col("o_totalprice"),
        unix_timestamp(col("o_orderdate")).as("od"))
      .as[(Long, Double, Long)]
    val local = pts.mapPartitions(sweep)
    val global = local.repartition(1).mapPartitions(sweep)
    global.toDF("o_orderkey", "o_totalprice", "od")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("od").cast("timestamp").as("o_orderdate"))
  }

  def skylineQuery(spark: SparkSession, dir: String): DataFrame =
    skyline(Tables.load(spark, dir, "orders"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_skyline" -> skylineQuery _)

  val oracles: Map[String, String] = Map(
    "agg_skyline" ->
      """SELECT a.o_orderkey, a.o_totalprice, a.o_orderdate
        |FROM orders a WHERE NOT EXISTS (
        |  SELECT 1 FROM orders b
        |  WHERE b.o_totalprice >= a.o_totalprice
        |    AND b.o_orderdate >= a.o_orderdate
        |    AND (b.o_totalprice > a.o_totalprice
        |      OR b.o_orderdate > a.o_orderdate))""".stripMargin)
}
