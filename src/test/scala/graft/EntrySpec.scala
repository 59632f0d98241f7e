package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke over the whole driver contract: every declared query runs on
  * sf0.001 and returns rows (read off the shared [[SurfacePass]]);
  * every gate is defined once and has an oracle; streaming equals its
  * batch twin. */
class EntrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    // `Map ++` keeps the later of two same-named gates, so the merged
    // map is exactly as large as the modules' maps together only when
    // no gate name is defined twice
    val defined = SparkEntry.modules.map(_.queries.size).sum
    val twice = SparkEntry.modules.flatMap(_.queries.keys)
      .groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(defined == SparkEntry.queries.size, s"gates defined twice: $twice")
    for (m <- SparkEntry.modules) {
      val name = m.getClass.getSimpleName
      assert(m.oracles.keySet == m.queries.keySet,
        s"$name: oracles without queries ${m.oracles.keySet -- m.queries.keySet}, " +
          s"queries without oracles ${m.queries.keySet -- m.oracles.keySet}")
    }
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 313)
    assert(SparkEntry.oracleSql.size == 313)
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
