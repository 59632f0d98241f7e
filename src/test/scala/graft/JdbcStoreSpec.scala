package graft

import graft.store.JdbcStore
import org.scalatest.funsuite.AnyFunSuite

/** JDBC storage variant against embedded Derby (the JDBC driver Spark
  * ships with) — scan, partitioned scan, and keyed upsert semantics
  * matching the lakehouse Upsert path. */
class JdbcStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val url = {
    val dir = graft.store.Staging.jvmDir("graft_derby")
    s"jdbc:derby:$dir/db;create=true"
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("upsert inserts then updates on the composite key (LWW)") {
    import spark.implicits._
    JdbcStore.execute(url,
      """CREATE TABLE jstock (
        |  symbol VARCHAR(8) NOT NULL,
        |  ts TIMESTAMP NOT NULL,
        |  price DOUBLE,
        |  volume BIGINT,
        |  PRIMARY KEY (symbol, ts))""".stripMargin)
    val batch1 = Seq(
      ("AAPL", ts("2025-01-01 00:00:00"), 100.0, 10L),
      ("MSFT", ts("2025-01-01 00:00:00"), 200.0, 20L))
      .toDF("symbol", "ts", "price", "volume")
    JdbcStore.upsert(batch1, url, "jstock", keys = Seq("symbol", "ts"))
    // overlapping key updated, new key inserted
    val batch2 = Seq(
      ("AAPL", ts("2025-01-01 00:00:00"), 111.0, 11L),
      ("AAPL", ts("2025-01-02 00:00:00"), 105.0, 12L))
      .toDF("symbol", "ts", "price", "volume")
    JdbcStore.upsert(batch2, url, "jstock", keys = Seq("symbol", "ts"))

    val got = JdbcStore.scan(spark, url, "jstock")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      ("AAPL", "2025-01-01 00:00:00.0", 111.0, 11L),
      ("AAPL", "2025-01-02 00:00:00.0", 105.0, 12L),
      ("MSFT", "2025-01-01 00:00:00.0", 200.0, 20L)))
  }

  test("partitioned scan splits into range-bounded tasks with equal result") {
    val part = JdbcStore.scanPartitioned(spark, url, "jstock",
      partitionColumn = "volume", lowerBound = 0L, upperBound = 32L,
      numPartitions = 4)
    assert(part.rdd.getNumPartitions == 4)
    assert(part.count() == 3)
    assert(part.agg(org.apache.spark.sql.functions.sum("volume"))
      .collect()(0).getLong(0) == 43L)
  }
}
