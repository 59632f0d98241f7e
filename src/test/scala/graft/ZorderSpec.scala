package graft

import graft.store.Zorder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZorderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("zvalue interleaves bits (known values, monotone locality)") {
    import spark.implicits._
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (65535L, 65535L),
        (5L, 3L))
      .toDF("a", "b")
      .select(Zorder.zvalue(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    // interleave(a=bit at odd positions, b=even): (1,0)->2, (0,1)->1,
    // (1,1)->3, full-mask -> 2^32-1, (5,3)=(101,011)->100111 = 39
    assert(out.toSeq == Seq(0L, 2L, 1L, 3L, (1L << 32) - 1, 39L))
  }

  /** Per-file (min,max) of both dimensions after writing events under
    * the given layout — the stats parquet pruning operates on. */
  private def fileStats(write: (DataFrame, String) => Unit): Array[(Long, Long, Long, Long)] = {
    val dir = graft.store.Staging.jvmDir("zorder").toString
    val ev = Zorder.zorderKeys(spark, SparkTestSession.sf)
    write(ev, dir)
    spark.read.parquet(dir)
      .groupBy(input_file_name())
      .agg(min("u16").as("ulo"), max("u16").as("uhi"),
        min("h16").as("hlo"), max("h16").as("hhi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
  }

  test("z-ordered files prune a user-range query that time-sort cannot") {
    val nFiles = 16
    val zStats = fileStats((df, dir) =>
      Zorder.writeZordered(df, col("u16"), col("h16"), dir, nFiles))
    val tStats = fileStats((df, dir) =>
      df.repartitionByRange(nFiles, col("h16"))
        .sortWithinPartitions(col("h16"))
        .write.mode("overwrite").parquet(dir))
    assert(zStats.length == nFiles && tStats.length == nFiles)
    // z-order's claim is BALANCED pruning: a 1-D sort prunes its own
    // dimension perfectly and the other not at all; z-order prunes
    // BOTH to ~sqrt resolution. Assert exactly that, octant predicates
    // on each dimension:
    val (uMax, hMax) = (zStats.map(_._2).max, zStats.map(_._4).max)
    val uBox = uMax / 8
    val hBox = hMax / 8
    val zUser = zStats.count(_._1 <= uBox)
    val tUser = tStats.count(_._1 <= uBox)
    val zHour = zStats.count(_._3 <= hBox)
    val tHour = tStats.count(_._3 <= hBox)
    // time-sort reads EVERY file for a user-range scan; z-order skips
    // most of them
    assert(tUser == nFiles)
    assert(zUser <= nFiles / 2,
      s"z-order should skip most files on a user-range scan: $zUser")
    // z-order still prunes the time dimension (unlike user-sort would)
    assert(zHour <= nFiles / 2,
      s"z-order should keep pruning the hour dimension: $zHour")
    // worst-case-over-dimensions: z-order's worst dimension beats the
    // 1-D layout's worst dimension
    assert(math.max(zUser, zHour) < math.max(tUser, tHour),
      s"balanced pruning: z=($zUser,$zHour) t=($tUser,$tHour)")
  }
}
