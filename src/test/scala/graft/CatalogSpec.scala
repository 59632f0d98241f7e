package graft

import graft.store.Catalog
import org.scalatest.funsuite.AnyFunSuite

class CatalogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("bootstrap is idempotent and creates all three tables") {
    Catalog.bootstrap(spark)
    Catalog.bootstrap(spark)
    assert(Catalog.tableNames.forall(spark.catalog.tableExists))
  }

  test("bootstrap over existing tables runs one command: the repair") {
    Catalog.bootstrap(spark)
    val (_, ex) = PlanDump.executed(spark)(Catalog.bootstrap(spark))
    assert(ex.map(_.funcName) == Seq("command"),
      ex.map(e => s"${e.funcName}: ${e.plan}").mkString("\n"))
    assert(ex.head.plan.contains("RepairTable"), ex.head.plan)
  }

  test("warehouse defaults to data/warehouse under the working directory") {
    assume(!sys.env.contains("GRAFT_WAREHOUSE"), "GRAFT_WAREHOUSE is set")
    val cwd = java.nio.file.Paths.get(System.getProperty("user.dir"))
    assert(java.nio.file.Paths.get(Catalog.warehouse) ==
      cwd.resolve("data/warehouse"), Catalog.warehouse)
  }

  test("mergeSchema read unifies pre- and post-evolution file layouts") {
    val out = graft.store.Catalog.schemaEvolution(spark, SparkTestSession.sf)
    // the merged frame sees the added column; legacy rows surface as
    // the coalesced sentinel with the exact legacy-half count
    val byType = out.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = Tables.load(spark, SparkTestSession.sf, "events")
    assert(byType("legacy") == ev.filter("event_id % 2 = 0").count())
    assert(byType.values.sum == ev.count())
  }

  test("snapshot and restore round-trip stock_metadata") {
    Catalog.bootstrap(spark)
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    Seq(("SNAP", ts, true, null.asInstanceOf[String], 7L))
      .toDF("symbol", "last_updated", "last_fetch_success", "error_message",
        "total_records")
      .write.mode("append").insertInto("stock_metadata")
    val before = spark.table("stock_metadata").count()
    val path = graft.store.Staging.jvmDir("graft_snap").toString
    Catalog.snapshot(spark, "stock_metadata", path)
    Catalog.restore(spark, path, "stock_metadata")
    assert(spark.table("stock_metadata").count() == before)
    assert(spark.table("stock_metadata")
      .filter("symbol = 'SNAP'").count() >= 1)
  }
}
