package graft.functions

import graft.Tables
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Typed top-k aggregator (`Aggregator[IN, BUF, OUT]`, SURVEY.md §2.10):
  * keeps the k best (score, key) pairs per group in a bounded buffer.
  *
  * Scale rationale: `row_number() OVER (...) <= k` sorts every group's
  * full row set (or at best applies WindowGroupLimit); an algebraic
  * top-k aggregate keeps only k entries per partition and merges
  * k-sized buffers in the exchange — the shuffle carries O(groups * k)
  * rows regardless of input size. Deterministic tie-break on
  * (score desc, key asc) keeps it oracle-comparable.
  */
object TopK extends graft.GateModule {

  case class Scored(score: Double, key: Long)

  private def better(a: Scored, b: Scored): Boolean =
    a.score > b.score || (a.score == b.score && a.key < b.key)

  class TopKAgg(k: Int) extends Aggregator[Scored, List[Scored], Seq[Scored]] {
    override def zero: List[Scored] = Nil
    private def trim(l: List[Scored]): List[Scored] =
      l.sortWith(better).take(k)
    override def reduce(b: List[Scored], a: Scored): List[Scored] =
      // avoid re-sorting when the candidate can't displace anything
      if (b.length >= k && better(b.last, a)) b else trim(a :: b)
    override def merge(x: List[Scored], y: List[Scored]): List[Scored] =
      trim(x ++ y)
    override def finish(r: List[Scored]): Seq[Scored] = r.sortWith(better)
    override def bufferEncoder: Encoder[List[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Scored]]()
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  }

  /** Gate query: top-3 orders by value per priority through the
    * aggregator, exploded back to rows; oracle is the QUALIFY form. */
  def topOrders(spark: SparkSession, dir: String): DataFrame = {
    val top3 = udaf(new TopKAgg(3), Encoders.product[Scored])
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(top3(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_orderpriority"),
        posexplode(col("top")).as(Seq("i", "s")))
      .select(col("o_orderpriority"),
        (col("i") + 1).cast("long").as("rn"),
        col("s.key").as("o_orderkey"),
        col("s.score").as("o_totalprice"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_topk" -> topOrders _)

  val oracles: Map[String, String] = Map(
    "agg_topk" ->
      """SELECT o_orderpriority,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn,
        |  o_orderkey, o_totalprice
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) <= 3""".stripMargin)
}
