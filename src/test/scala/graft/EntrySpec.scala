package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke over the whole driver contract: every declared query runs on
  * sf0.001 and returns rows (read off the shared [[SurfacePass]]);
  * oracle keys are a subset of query keys; streaming equals its batch
  * twin. */
class EntrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every query executes and returns rows on sf0.001") {
    val gates = SurfacePass.gates.toSeq.sortBy(_._1)
    val failed = gates.collect { case (name, g) if g.error.nonEmpty =>
      s"$name: ${g.error.get}" }
    assert(failed.isEmpty, s"queries that failed: ${failed.mkString("; ")}")
    val empty = gates.collect { case (name, g) if g.rows == 0 => name }
    assert(empty.isEmpty, s"queries with zero rows: $empty")
  }

  test("streaming tumbling window equals batch tumbling window") {
    val s = streaming.EventStream.streamTumbling(spark, SparkTestSession.sf)
    val b = analytics.JoinQueries.tumblingWindow(spark, SparkTestSession.sf)
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty)
  }
}
