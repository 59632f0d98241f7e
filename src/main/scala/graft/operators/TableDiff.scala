package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot diff / change-data-capture derivation: classify every key
  * as insert / delete / update / unchanged between two keyed snapshots
  * of the same table — the anti-entropy primitive behind replica
  * repair, incremental backup validation, and deriving a CDC stream
  * from periodic full dumps when no changelog exists.
  *
  * Scale shape: ONE full-outer equi-join on the key — both sides
  * shuffle by key once (or not at all when the snapshots are bucketed
  * on the key, the stored-table layout `store.Bucketing` provides);
  * the value comparison is a null-safe struct equality evaluated
  * per-row inside the join, so no second pass and no column explosion.
  * At 100 TB the op is bounded by the table scan + one co-partitioned
  * join — the minimum any byte-accurate diff must pay.
  */
object TableDiff extends graft.GateModule {

  /** Classify rows of `after` vs `before` by `keys`. All non-key
    * columns participate in the equality via one null-safe struct
    * compare (null == null is unchanged; null vs value is update). */
  def diff(before: DataFrame, after: DataFrame, keys: Seq[String]): DataFrame = {
    val valCols = before.columns.filterNot(keys.contains).toIndexedSeq
    val b = before.select((keys.map(col) :+
      struct(valCols.map(col): _*).as("_before")): _*)
    val a = after.select((keys.map(col) :+
      struct(valCols.map(col): _*).as("_after")): _*)
    b.join(a, keys, "full_outer")
      .select(keys.map(col) :+
        when(col("_before").isNull, lit("insert"))
          .when(col("_after").isNull, lit("delete"))
          .when(col("_before") <=> col("_after"), lit("unchanged"))
          .otherwise(lit("update")).as("op"): _*)
  }

  /** Gate: two deterministic snapshots carved from `orders` — keys
    * ≡ 3 (mod 11) exist only in the after-snapshot (inserts), ≡ 7 only
    * in the before-snapshot (deletes), ≡ 5 change status (updates),
    * everything else is identical. Emits the full classified key set. */
  def diffQuery(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val before = o.filter(pmod(col("o_orderkey"), lit(11)) =!= 3)
    val after = o.filter(pmod(col("o_orderkey"), lit(11)) =!= 7)
      .withColumn("o_orderstatus",
        when(pmod(col("o_orderkey"), lit(11)) === 5, lit("X"))
          .otherwise(col("o_orderstatus")))
    diff(before, after, Seq("o_orderkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "table_diff" -> diffQuery _)

  val oracles: Map[String, String] = Map(
    "table_diff" ->
      """WITH b AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 11 <> 3),
        |a AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 11 = 5 THEN 'X' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey % 11 <> 7)
        |SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey,
        |  CASE
        |    WHEN b.o_orderkey IS NULL THEN 'insert'
        |    WHEN a.o_orderkey IS NULL THEN 'delete'
        |    WHEN b.o_orderstatus = a.o_orderstatus
        |     AND b.o_totalprice = a.o_totalprice THEN 'unchanged'
        |    ELSE 'update'
        |  END AS op
        |FROM b FULL OUTER JOIN a ON a.o_orderkey = b.o_orderkey""".stripMargin)
}
