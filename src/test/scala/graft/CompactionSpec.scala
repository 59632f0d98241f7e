package graft

import graft.store.Compaction
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CompactionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmp(name: String): String =
    graft.store.Staging.jvmDir(s"graft_compact_$name").toString

  test("compaction shrinks file count to the byte-target bin count") {
    val in = s"${tmp("in")}/frag"
    val out = s"${tmp("out")}/packed"
    Tables.load(spark, SparkTestSession.sf, "events")
      .repartition(16).write.mode("overwrite").parquet(in)
    val (bytes, before) = Compaction.dirStats(spark, in)
    assert(before == 16)
    val (_, after) = Compaction.compact(spark, in, out)
    val expected = math.max(1L,
      (bytes + Compaction.targetBytes - 1) / Compaction.targetBytes).toInt
    assert(after == expected, s"files after=$after expected=$expected")
    assert(after < before)
  }

  test("compaction preserves content exactly") {
    val in = s"${tmp("in2")}/frag"
    val out = s"${tmp("out2")}/packed"
    val src = Tables.load(spark, SparkTestSession.sf, "events")
    src.repartition(16).write.mode("overwrite").parquet(in)
    Compaction.compact(spark, in, out)
    val back = spark.read.parquet(out)
    assert(back.count() == src.count())
    assert(back.exceptAll(src.select(back.columns.map(col): _*)).isEmpty)
    assert(src.select(back.columns.map(col): _*).exceptAll(back).isEmpty)
  }

  test("shrink-direction compaction plans no shuffle exchange") {
    val in = s"${tmp("in3")}/frag"
    Tables.load(spark, SparkTestSession.sf, "events")
      .repartition(16).write.mode("overwrite").parquet(in)
    val df = spark.read.parquet(in).coalesce(2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
