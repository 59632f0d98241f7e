package graft

import graft.analytics.ExactPercentiles
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

/** [[ExactPercentiles.groupPercentiles]] is a drop-in for
  * `groupBy(g).agg(percentile(v, p))`: same groups, bit-identical
  * doubles — including groups whose values are all NULL (kept, with
  * NULL percentiles), nulls mixed into values (skipped) and empty
  * inputs. */
class ExactPercentilesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val ps = Seq("p0" -> 0.0, "p25" -> 0.25, "p50" -> 0.5,
    "p90" -> 0.9, "p100" -> 1.0)

  private def frame(rows: (String, Option[Double])*): DataFrame = {
    import spark.implicits._
    rows.toDF("g", "v")
  }

  private def assertMatchesSpark(df: DataFrame): Unit =
    for (groups <- Seq(Seq("g"), Nil)) {
      val ours = ExactPercentiles.groupPercentiles(df, groups, col("v"), ps)
      val aggs = ps.map { case (n, p) => expr(s"percentile(v, $p)").as(n) }
      val ref =
        if (groups.isEmpty) df.agg(aggs.head, aggs.tail: _*)
        else df.groupBy(groups.map(col): _*).agg(aggs.head, aggs.tail: _*)
      def rows(f: DataFrame): Seq[Row] =
        f.collect().toSeq.sortBy(r => Option(r.get(0)).map(_.toString))
      assert(ours.columns.toSeq == ref.columns.toSeq)
      assert(rows(ours) == rows(ref), s"groups=$groups")
    }

  test("an all-null group is kept with NULL percentiles") {
    val df = frame("a" -> Some(1.0), "a" -> Some(2.5), "a" -> Some(7.0),
      "b" -> None, "b" -> None)
    assertMatchesSpark(df)
    val b = ExactPercentiles.groupPercentiles(df, Seq("g"), col("v"), ps)
      .filter(col("g") === "b").collect()
    assert(b.length == 1 && (1 to ps.size).forall(b.head.isNullAt))
  }

  test("nulls mixed into a group's values are skipped") {
    assertMatchesSpark(frame("a" -> None, "a" -> Some(5.0), "a" -> Some(1.0),
      "a" -> None, "a" -> Some(3.0), "b" -> Some(2.0), "b" -> None,
      "c" -> Some(4.0), "c" -> Some(4.0), "c" -> None))
  }

  test("values spread over many magnitudes and signs rank globally") {
    val vs = Seq(-1e9, -123456.0, -3.5, -0.75, -0.25, 0.0, 0.25, 0.5, 1.0,
      7.0, 7.0, 99.5, 1024.0, 65537.0, 1e7 + 0.5, 3e12, Double.NaN)
    assertMatchesSpark(frame(vs.zipWithIndex.map { case (v, i) =>
      (if (i % 3 == 0) "a" else "b") -> Some(v) }: _*))
  }

  test("an empty input matches percentile's empty result") {
    assertMatchesSpark(frame())
  }
}
