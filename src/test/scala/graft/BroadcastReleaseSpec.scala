package graft

import org.apache.spark.{BlockStoreProbe, ListenerBusDrain}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BroadcastReleaseSpec extends AnyFunSuite {
  test("a broadcast join's relation leaves the block store when its query ends") {
    val spark = SparkTestSession.spark
    val sc = spark.sparkContext
    // a string key, so the build side is an UnsafeHashedRelation (one whole page)
    val dim = spark.range(5).selectExpr("cast(id AS string) AS k", "id * 10 AS v")
    val fact = spark.range(100).selectExpr("cast(id % 5 AS string) AS k", "id")
    val df = fact.join(broadcast(dim), "k").groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
    ListenerBusDrain(sc)
    val before = BlockStoreProbe.broadcastRelations()
    val first = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(first == (0 until 5).map(k => (k.toString, 200L * k, 20L)))
    ListenerBusDrain(sc)
    assert((BlockStoreProbe.broadcastRelations() -- before).isEmpty,
      "the query's hashed relation is still in the block store")
    // the same executed plan runs again: its broadcast is read from the pieces
    val again = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(again == first)
  }
}
