package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact `percentile()` computed as a codegen sort-window + index
  * arithmetic — a drop-in for `groupBy(g).agg(percentile(v, p))` that
  * produces BIT-IDENTICAL doubles while avoiding the built-in
  * aggregate's execution shape, which is the single slowest operator
  * pattern the round-12 profiling found (optimization guide §1/§4):
  * `Percentile` is a non-codegen ObjectHashAggregate whose update path
  * boxes every value into a per-partition `OpenHashMap[AnyRef, Long]`,
  * merges those maps across partitions, then sorts the merged map in
  * the single final-agg task — ~2 s for one 600 k-row group at sf0.1
  * where the equivalent UnsafeSort takes a small fraction of that, and
  * the sort parallelizes per group while the map merge cannot.
  *
  * Semantics replicated from Spark's `Percentile.getPercentile` (the
  * oracle-pinned behavior every caller was hashed against):
  *   position = p · (n − 1) over the group's non-null values;
  *   lo = ⌊position⌋, hi = ⌈position⌉ (0-based indexes into the
  *   group's values sorted ascending);
  *   result = v[lo]                       when hi == lo or v[hi] == v[lo]
  *            (hi − position) · v[lo] + (position − lo) · v[hi]  otherwise.
  * Both short-circuits matter for float-exactness: the interpolation
  * expression algebraically equals v[lo] in those cases but can differ
  * in the last ulp. Values are read back as doubles exactly like
  * `toDoubleValue` (numeric → double cast, identity for doubles).
  */
object ExactPercentiles {

  /** Per-group exact percentiles: returns one row per group with
    * `groups ++ ps.map(_._1)` double columns — the same frame
    * `df.groupBy(groups).agg(percentile(value, p).as(name)…)` yields.
    * Percentile skips nulls and its `n` counts non-null rows only, so
    * null values sort last (past every index a percentile reads) and
    * `_n` counts the non-null ones. A group whose values are all null
    * is kept, as `groupBy().agg(percentile)` keeps it: `_n = 0`
    * matches no row and every percentile reads NULL. One exchange
    * (hash by group), one per-group sort, one hash agg — all
    * whole-stage-codegen. With no groups, see [[globalRanks]]. */
  def groupPercentiles(df: DataFrame, groups: Seq[String], value: Column,
      ps: Seq[(String, Double)]): DataFrame = {
    val g = groups.map(col)
    // order by the double image: monotone for the numeric inputs this
    // engine feeds it (doubles verbatim; integers far below 2^53)
    val sortW = Window.partitionBy(g: _*).orderBy(col("_v").asc_nulls_last)
    val cntW = Window.partitionBy(g: _*)
    val vals = df.select(g :+ value.cast("double").as("_v"): _*)
    var ranked =
      if (groups.isEmpty) globalRanks(vals)
      else vals
        .withColumn("_i", row_number().over(sortW).cast("long") - 1L)
        .withColumn("_n", count(col("_v")).over(cntW))
    // per-row index targets (group-constant — _n is): computed pre-agg
    // so the aggregate only ever reduces them with max()
    ps.foreach { case (name, p) =>
      val pos = lit(p) * (col("_n") - 1L).cast("double")
      ranked = ranked
        .withColumn(s"_pos_$name", pos)
        .withColumn(s"_lo_$name", floor(pos).cast("long"))
        .withColumn(s"_hi_$name", ceil(pos).cast("long"))
    }
    val aggs = ps.flatMap { case (name, _) =>
      Seq(
        // v[lo] / v[hi] via the row index: when() matches exactly one
        // row per group (ties in _v make any matching row equivalent)
        max(when(col("_i") === col(s"_lo_$name"), col("_v")))
          .as(s"_vlo_$name"),
        max(when(col("_i") === col(s"_hi_$name"), col("_v")))
          .as(s"_vhi_$name"),
        max(col(s"_pos_$name")).as(s"_p_$name"),
        max(col(s"_lo_$name")).as(s"_l_$name"),
        max(col(s"_hi_$name")).as(s"_h_$name"))
    }
    val agged =
      if (groups.isEmpty) ranked.agg(aggs.head, aggs.tail: _*)
      else ranked.groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
    val outs = ps.map { case (name, _) =>
      val (vlo, vhi) = (col(s"_vlo_$name"), col(s"_vhi_$name"))
      val (pos, lo, hi) =
        (col(s"_p_$name"), col(s"_l_$name"), col(s"_h_$name"))
      when(lo === hi || vlo === vhi, vlo)
        .otherwise((hi.cast("double") - pos) * vlo
          + (pos - lo.cast("double")) * vhi)
        .as(name)
    }
    agged.select(g ++ outs: _*)
  }

  /** `_i`/`_n` over ALL rows without a window over all rows (one task
    * sorting the whole input): rank within monotone value bands (16 per
    * octave of |v|, ≤ ~33k for any double), offset by the rows of the
    * bands below — a running sum over the bounded band summary. Nulls
    * are dropped: no index reaches them, and an all-null or empty input
    * still aggregates to one all-NULL row. */
  private def globalRanks(vals: DataFrame): DataFrame = {
    val v = col("_v")
    val banded = vals.filter(v.isNotNull).withColumn("_b",
      when(isnan(v), lit(Int.MaxValue))
        .otherwise((signum(v) * floor(log2(abs(v) + 1) * 16)).cast("int")))
    val bands = banded.groupBy("_b").agg(count(lit(1)).as("_c"))
      // bounded: one row per band
      .withColumn("_off", sum(col("_c"))
        .over(graft.Tables.boundedGlobalWindow(col("_b"))) - col("_c"))
      .withColumn("_n", sum(col("_c")).over(graft.Tables.boundedGlobalFrame))
    banded
      .withColumn("_j", row_number().over(Window.partitionBy("_b").orderBy(v)))
      .join(broadcast(bands.select("_b", "_off", "_n")), "_b")
      .select(v, (col("_off") + col("_j") - 1L).as("_i"), col("_n"))
  }
}
