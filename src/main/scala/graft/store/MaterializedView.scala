package graft.store

import graft.Tables
import graft.Tables.{dec, dsum}
import graft.plans.{MvCatalog, MvDef, MvMeasure}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Materialized-view lifecycle for the [[graft.plans.MvRewrite]] rule:
  * build the summary parquet (one full-table aggregation, run ONCE —
  * the whole point is amortizing it across every later query), register
  * it in the [[MvCatalog]], and expose a gate whose user-visible query
  * names only the BASE table. The DuckDB oracle also reads the base
  * table, so a hash-match proves the transparent rewrite returned
  * exactly what the un-rewritten query would have — the only
  * correctness statement an MV rewrite has to make.
  *
  * Scale: the MV is `|groups|` rows (here 3x2) regardless of fact-table
  * size; a rewritten query reads kilobytes instead of 100 TB. Refresh
  * composes with the engine's own incremental machinery
  * ([[graft.operators.Incremental]] maintains exactly this
  * count/sum-shaped state from an append delta), so the rule +
  * registry is the missing read-side half of a full MV subsystem.
  */
object MaterializedView extends graft.GateModule {

  private val decT = DecimalType(18, 4)

  private def sfTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Build (once per sf dir) + register the lineitem return-flag /
    * line-status summary MV. */
  def ensureLineitemMv(spark: SparkSession, dir: String): MvDef = {
    val basePath = s"$dir/lineitem.parquet"
    val mvPath = s"${Catalog.warehouse}/mv/${sfTag(dir)}/lineitem_rfls"
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$mvPath/_SUCCESS"))) {
      Tables.load(spark, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("cnt"),
          sum(dec(col("l_quantity"))).as("sum_l_quantity"),
          min(col("l_quantity")).as("min_l_quantity"),
          max(col("l_quantity")).as("max_l_quantity"),
          sum(dec(col("l_extendedprice"))).as("sum_l_extendedprice"),
          min(col("l_extendedprice")).as("min_l_extendedprice"),
          max(col("l_extendedprice")).as("max_l_extendedprice"))
        .coalesce(1)
        .write.mode("overwrite").parquet(mvPath)
    }
    val mv = MvDef("lineitem_rfls", basePath, mvPath,
      groupCols = Seq("l_returnflag", "l_linestatus"),
      measures = Seq(
        MvMeasure("l_quantity", Some(decT)),
        MvMeasure("l_extendedprice", Some(decT))))
    MvCatalog.register(mv)
    mv
  }

  /** The user-facing pricing-summary query: written against the BASE
    * lineitem table, grouped COARSER than the MV (l_returnflag only),
    * so answering it from the MV exercises the re-aggregation algebra,
    * not just a scan swap. MvRewriteSpec asserts the executed plan
    * reads the MV path. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("cnt"),
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))

  /** Gate: register the MV, then run the base-table query. */
  def mvRewriteGate(spark: SparkSession, dir: String): DataFrame = {
    ensureLineitemMv(spark, dir)
    pricingSummary(spark, dir)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mv_rewrite" -> mvRewriteGate _)

  val oracles: Map[String, String] = Map(
    "mv_rewrite" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_qty,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
}
