package graft

import graft.store.Partitioned
import graft.Tables.dsum
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PartitionedDppSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("DPP join equals the unpartitioned computation") {
    val dpp = Partitioned.dppJoin(spark, SparkTestSession.sf)
      .orderBy("event_type").collect()
    val plain = Tables.load(spark, SparkTestSession.sf, "events")
      .filter(col("event_type").isInCollection(Partitioned.convTypes))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
      .orderBy("event_type").collect()
    assert(dpp.toSeq == plain.toSeq)
  }

  test("fact scan carries a dynamic partition-pruning filter") {
    val q = Partitioned.dppJoin(spark, SparkTestSession.sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter on the fact scan:\n$plan")
  }

  test("static partition filters prune the directory listing") {
    // one partition selected statically -> the scan's partition count
    // is 1 of 5 (readable from the FileSourceScan's partition filters)
    val (factT, _) = Partitioned.bootstrap(spark, SparkTestSession.sf)
    val one = spark.table(factT).filter(col("event_type") === "purchase")
    val scans = one.queryExecution.executedPlan.collectLeaves()
    val expected = Tables.load(spark, SparkTestSession.sf, "events")
      .filter(col("event_type") === "purchase").count()
    assert(one.count() == expected)
    val planStr = one.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters"), planStr)
  }

  test("a warm bootstrap runs no statement or query") {
    Partitioned.bootstrap(spark, SparkTestSession.sf)
    val (_, executed) = PlanDump.executed(spark)(Partitioned.bootstrap(spark, SparkTestSession.sf))
    assert(executed.isEmpty, executed.mkString("\n"))
  }
}
