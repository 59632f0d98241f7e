package graft.store

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout — multi-dimensional clustering for the
  * write path. Sorting a table by ONE column gives parquet min/max
  * pruning on that column only; interleaving the bits of two dimensions
  * into one sort key clusters rows so every file covers a small
  * RECTANGLE of the (dim1, dim2) space — a predicate on EITHER
  * dimension (or a 2-D box) then skips most files at the scan, which at
  * 100 TB is the difference between reading one machine's worth and one
  * rack's worth. This is the layout trick behind Delta/Iceberg OPTIMIZE
  * ZORDER; here it is a plain column expression plus
  * `repartitionByRange` on the key, so it works on any sink.
  *
  * The key is a pure codegen'd expression: 16 bits per dimension,
  * interleaved by 32 shift-mask-scale terms folded into one sum — no
  * UDF, no shuffle beyond the range partitioning the write pays anyway.
  * Dimensions are clamped to 16 bits after normalization (user ids are
  * small; event hours are offset from the corpus epoch so they fit). */
object Zorder extends graft.GateModule {

  val bits = 16
  private val mask = (1 << bits) - 1

  /** Hours between 1970 and 2024-01-01 — fixed normalization offset so
    * corpus event hours land in 16 bits without a data-dependent scan. */
  val epochHourOffset: Long =
    java.time.LocalDate.of(2024, 1, 1).toEpochDay * 24L

  /** Morton interleave of two 16-bit dimensions: bit i of `a` lands at
    * position 2i+1, bit i of `b` at 2i. */
  def zvalue(a: Column, b: Column): Column = {
    val am = a.bitwiseAND(lit(mask))
    val bm = b.bitwiseAND(lit(mask))
    (0 until bits).map { i =>
      shiftright(am, i).bitwiseAND(lit(1)) * lit(1L << (2 * i + 1)) +
        shiftright(bm, i).bitwiseAND(lit(1)) * lit(1L << (2 * i))
    }.reduceLeft(_ + _)
  }

  /** Events with their (user, hour) z-key — the gate surface. `h16` is
    * hours since 2024-01-01 (fits 16 bits across the corpus span). */
  def zorderKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .withColumn("u16", col("user_id").bitwiseAND(lit(mask)).cast("long"))
      .withColumn("h16",
        (floor(unix_timestamp(col("ts")) / lit(3600)).cast("long")
          - epochHourOffset).bitwiseAND(lit(mask)).cast("long"))
      .select(col("event_id"), col("u16"), col("h16"),
        zvalue(col("u16"), col("h16")).cast("long").as("z"))

  /** Write `df` range-partitioned and sorted by the z-key over (d1, d2)
    * — each output file then owns a compact z-range, i.e. a small
    * rectangle of the key space (the property ZorderSpec measures via
    * per-file min/max stats).
    *
    * Both dimensions are first SCALED to the full 16-bit width from
    * their observed min/max (one tiny aggregate; four longs reach the
    * driver). This is not cosmetic: interleaving raw values whose
    * ranges differ by orders of magnitude degenerates to a 1-D sort on
    * the wider dimension, because the narrow dimension's high bits
    * never vary — with 15 users against 720 hours, every top
    * interleaved bit is an hour bit and user pruning vanishes. Equal-
    * width normalization is what production ZORDER implementations do
    * for exactly this reason. Scaling is monotone per dimension, so
    * per-file rectangles in scaled space are rectangles in raw space
    * and parquet min/max stats prune identically. */
  def writeZordered(df: DataFrame, d1: Column, d2: Column, path: String,
      numFiles: Int): Unit = {
    val Array(lo1, hi1, lo2, hi2) =
      df.agg(min(d1), max(d1), min(d2), max(d2))
        .collect()(0).toSeq.map(_.toString.toLong).toArray
    // products stay < 2^53 (dim range * 65535), so the double division
    // under floor is exact and the scaling strictly monotone
    def scaled(c: Column, lo: Long, hi: Long): Column =
      floor((c - lit(lo)) * lit(mask.toLong) / lit(math.max(1L, hi - lo)))
        .cast("long")
    df.withColumn("__z",
        zvalue(scaled(d1, lo1, hi1), scaled(d2, lo2, hi2)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zorder_key" -> zorderKeys _)

  val oracles: Map[String, String] = Map(
    "zorder_key" -> {
      val terms = (0 until bits).map { i =>
        s"(((u16 >> $i) & 1) * ${1L << (2 * i + 1)}" +
          s" + ((h16 >> $i) & 1) * ${1L << (2 * i)})"
      }.mkString("\n  + ")
      s"""WITH e AS (SELECT event_id,
         |    user_id & $mask AS u16,
         |    ((CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600)
         |      - $epochHourOffset) & $mask AS h16
         |  FROM events)
         |SELECT event_id, u16, h16,
         |  $terms AS z
         |FROM e""".stripMargin
    })
}
