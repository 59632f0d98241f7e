package graft

import graft.store.Catalog
import org.scalatest.funsuite.AnyFunSuite

/** Export/import round-trips through every supported interchange
  * format (K3 extension). Parquet and ORC must round-trip exactly;
  * CSV/JSON go through text so timestamps/doubles are checked
  * value-wise after normalization. */
class FormatSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def orders = Tables.load(spark, SparkTestSession.sf, "orders")

  for (fmt <- Seq("parquet", "orc", "json", "csv")) {
    test(s"orders round-trips through $fmt") {
      val out = graft.store.Staging.jvmDir(s"graft_fmt_$fmt").toString
      val src = orders
      Catalog.export(src, out, fmt)
      val back = Catalog.importAs(spark, out, fmt, src.schema)
      assert(back.count() == src.count())
      // exact set equality on a stable projection
      val a = src.selectExpr("o_orderkey", "o_orderstatus",
        "cast(o_totalprice as decimal(18,2)) p",
        "cast(o_orderdate as date) d")
      val b = back.selectExpr("o_orderkey", "o_orderstatus",
        "cast(o_totalprice as decimal(18,2)) p",
        "cast(o_orderdate as date) d")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, fmt)
    }
  }

  test("parquet round-trip is bitwise-complete on all columns") {
    val out = graft.store.Staging.jvmDir("graft_fmt_full").toString
    Catalog.export(orders, out, "parquet")
    val back = Catalog.importAs(spark, out, "parquet", orders.schema)
    assert(orders.exceptAll(back).isEmpty && back.exceptAll(orders).isEmpty)
  }
}
