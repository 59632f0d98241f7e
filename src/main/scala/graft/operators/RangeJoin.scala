package graft.operators

import graft.Tables
import graft.Tables.{dec, dsum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Range (interval) join: match points to [lo, hi) intervals.
  *
  * Spark has no native range-join operator; the naive formulation
  * (`join(points, lo <= p && p < hi)`) plans as a BroadcastNestedLoop
  * join — O(points x intervals) comparisons and a CodegenFallback
  * condition, the classic scale cliff. The scalable shape is interval
  * bucketization: quantize the domain into fixed-width buckets, explode
  * every interval into the buckets it overlaps, compute each point's
  * bucket, and equi-join on the bucket with the range predicate as a
  * residual filter. The join becomes a plain hash/sort-merge shuffle on
  * an integer key — partitionable, skew-handleable, AQE-friendly — and
  * the per-row work is bounded by intervals-per-bucket, not total
  * intervals. Bucket width tunes replication (wide intervals span
  * hi/width buckets) against bucket fan-in, exactly like the triangle
  * join's group count.
  */
object RangeJoin extends graft.GateModule {

  /** Fixed price bands over o_totalprice (half-open [lo, hi)). A
    * literal dimension so the gate is deterministic; at scale this is
    * any interval table (IP ranges, time windows, price tiers). */
  val bands: Seq[(String, Double, Double)] = Seq(
    ("p0_60k", 0.0, 60000.0),
    ("p60_120k", 60000.0, 120000.0),
    ("p120_200k", 120000.0, 200000.0),
    ("p200_300k", 200000.0, 300000.0),
    ("p300k_up", 300000.0, 600000.0))

  val bucketWidth = 30000.0

  /** Revenue/count of orders per price band via the bucketed equi-join. */
  def rangeJoinBucketed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = bands.toDF("band", "lo", "hi")
      // explode each interval into every bucket it overlaps; hi is
      // exclusive, so the last bucket is the one containing hi-epsilon
      .withColumn("bucket", explode(sequence(
        floor(col("lo") / bucketWidth).cast("long"),
        floor((col("hi") - lit(0.001)) / bucketWidth).cast("long"))))
    val pts = Tables.load(spark, dir, "orders")
      .withColumn("bucket", floor(col("o_totalprice") / bucketWidth).cast("long"))
    pts.join(dim, pts("bucket") === dim("bucket")
        && col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("price_sum"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_range" -> rangeJoinBucketed _)

  val oracles: Map[String, String] = Map(
    "join_range" -> {
      val dimSql = bands
        .map { case (b, lo, hi) => s"('$b', $lo, $hi)" }.mkString(",\n  ")
      s"""SELECT band, count(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         |    AS price_sum
         |FROM orders
         |JOIN (VALUES
         |  $dimSql) AS bands(band, lo, hi)
         |  ON o_totalprice >= lo AND o_totalprice < hi
         |GROUP BY band""".stripMargin
    })
}
