package graft.operators

import graft.Tables
import graft.Tables.{dec, dprodsum}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter semi-join reduction — the shuffle-side pruning pattern
  * for fact-vs-filtered-dim joins at 100 TB.
  *
  * A semi join of a huge fact table against a *filtered* dimension
  * shuffles every fact row whose key survives partition pruning, even
  * though only a fraction match the dim filter. The classic fix
  * (Bloomjoin; also Spark's own runtime row-level filtering) inserts an
  * approximate membership test before the shuffle:
  *
  *  1. build a Bloom filter over the filtered dim keys — a distributed
  *     aggregation ([[org.apache.spark.sql.DataFrameStatFunctions
  *     .bloomFilter]]), mergeable map-side partials, only the fixed-size
  *     bit array reaches the driver;
  *  2. pre-filter the fact scan with the codegen'd Catalyst predicate
  *     [[BloomFilterMightContain]] (the filter bytes ride along as a
  *     literal inside the broadcast plan) — false-positive rate `fpp`,
  *     zero false negatives, so at most `fpp` of non-matching rows
  *     survive to the shuffle;
  *  3. run the EXACT join on the survivors — false positives drop out
  *     here, so the composition is output-invariant vs the plain join
  *     (the property the spec pins and the DuckDB oracle checks).
  *
  * At TPC-H ratios an urgent-orders filter keeps ~20% of orders; the
  * bloom prunes ~80% of lineitem before the exchange — the 100 TB win
  * is shuffling 20 TB instead of 100. Driver/executor memory is the
  * bit-array size (~1.2 MB per million keys at 1% fpp), the same order
  * as the broadcast hash relation the exact join ships anyway.
  *
  * Reference provenance: the reference joins nothing (SURVEY.md §2.6),
  * but its retention scan (scripts/retention.py:10-14) is the
  * scan-reduction idea this generalizes to joins.
  */
object BloomJoin extends graft.GateModule {

  /** False-positive probability for the pre-filter. 1% costs ~9.6 bits
    * per key and removes ~99% of the non-matching shuffle volume. */
  val Fpp = 0.01

  /** Pre-filter `fact` to rows whose `factKey` might be in `dimKeys`.
    *
    * Builds the bloom over `dimKeys` (LongType column `key`), probes
    * with the native codegen'd [[BloomFilterMightContain]] — no UDF, no
    * deserialization per row (the filter is deserialized once per task
    * inside the expression). Zero false negatives by construction, so
    * `bloomReduce(fact, k, dim)` followed by the exact join equals the
    * plain join. */
  def bloomReduce(fact: DataFrame, factKey: Column, dimKeys: DataFrame,
      expectedKeys: Long): DataFrame = {
    val bf: BloomFilter =
      dimKeys.stat.bloomFilter(dimKeys.columns.head, expectedKeys, Fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val probe = GraftBridge.column(new BloomFilterMightContain(
      GraftBridge.expression(lit(bos.toByteArray)),
      GraftBridge.expression(factKey.cast("long"))))
    fact.filter(probe)
  }

  /** Gate query: revenue of lineitems belonging to urgent orders, with
    * the lineitem side bloom-pruned before the exact semi join. The
    * exact join makes the bloom invisible in the output — the oracle is
    * the plain semi-join SQL. */
  def bloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val urgent = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // exact sizing via one pushed-filter count of the (10x smaller)
    // dim side; overshooting would only lower the realized fpp
    val expected = math.max(1024L, urgent.count())
    val pruned = bloomReduce(li, col("l_orderkey"), urgent, expected)
    pruned.join(urgent, pruned("l_orderkey") === urgent("o_orderkey"),
        "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        dprodsum(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_bloom" -> bloomSemiJoin _)

  val oracles: Map[String, String] = Map(
    "join_bloom" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |           * CAST(1 - l_discount AS DECIMAL(18,4)))
        |    AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin)
}
