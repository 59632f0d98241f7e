package graft

import org.scalatest.funsuite.AnyFunSuite

/** Library-caller cache hygiene: EVERY public gate entry point must
  * release the cached/persisted intermediates it created by the time
  * its result is materialized. A query that returns a lazy frame
  * reading its own `.cache()` leaks cached partitions into the
  * caller's session — the class of bug behind round 8's `setSimParts`
  * advice and round 9's `behavior_seq_support` suite regression
  * (in-suite 7.50 s vs 2.38 s isolated: its `u.cache()` competed with
  * later gates' caches for executor memory). The contract asserted
  * here is the checkpoint-then-release pattern: materialize what the
  * result needs, then unpersist, BEFORE returning.
  *
  * Reads the shared [[SurfacePass]] over the full gate surface at
  * sf0.001 (one materialization each, the Bench hash-agg shape), which
  * notes after each gate whether the session cache registry is empty
  * and resets it before the next. Failures name the offending gate
  * directly.
  */
class CacheHygieneSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("every public gate leaves the cache registry empty") {
    spark.catalog.clearCache()
    assert(cacheEmpty, "pre-existing cached frames — fix the harness")
    val gates = SurfacePass.gates.toSeq.sortBy(_._1)
    val failures = gates.collect { case (name, g) if g.error.nonEmpty =>
      s"$name: ${g.error.get}" }
    val leaks = gates.collect { case (name, g) if !g.cacheEmpty => name }
    assert(failures.isEmpty, s"gates crashed: ${failures.mkString("; ")}")
    assert(leaks.isEmpty,
      s"${leaks.size} gates leak cached frames to library callers: " +
        leaks.mkString(", "))
  }
}
