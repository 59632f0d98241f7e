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
  *
  * The same walk notes which `graft_*`/`graft-*` temp dirs each gate
  * left behind after the reset: a recurring job must own its on-disk
  * residue, so every scratch dir a gate makes has to go with the
  * reset (see [[store.Staging]]). It also notes which streaming
  * queries were still active after each gate: every gate must stop
  * the queries it started, also when it fails (see
  * [[streaming.StreamRun]]). And it notes every process a gate started
  * through Hadoop's `Shell`: local file I/O goes through
  * [[store.NioLocalFs]], which starts none (Spark's own `rm -rf` of
  * a deleted dir is not a Hadoop process).
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

  test("no gate leaves a scratch dir behind in java.io.tmpdir") {
    // by design these outlive a gate: the cross-JVM staging root and
    // the JVM-scoped replay byte cache
    def exempt(n: String): Boolean = n.startsWith("graft-canon-staging-") ||
      n.startsWith("graft_replay_cache")
    val left = SurfacePass.gates.toSeq.sortBy(_._1).collect {
      case (name, g) if g.leftDirs.exists(!exempt(_)) =>
        s"$name (${g.leftDirs.filterNot(exempt).mkString(" ")})"
    }
    assert(left.isEmpty,
      s"${left.size} gates leave scratch dirs behind: " + left.mkString(", "))
  }

  test("no gate leaves a streaming query running") {
    val left = SurfacePass.gates.toSeq.sortBy(_._1).collect {
      case (name, g) if g.streamsLeft.nonEmpty =>
        s"$name (${g.streamsLeft.mkString(" ")})"
    }
    assert(left.isEmpty,
      s"${left.size} gates leave streaming queries running: " + left.mkString(", "))
  }

  test("no gate starts a Hadoop Shell process") {
    val forking = SurfacePass.gates.toSeq.sortBy(_._1).collect {
      case (name, g) if g.shellStarts.nonEmpty =>
        val cmds = g.shellStarts.map(_.split(' ').head).groupBy(identity)
          .map { case (c, n) => s"${n.size} $c" }.toSeq.sorted
        s"$name ${g.shellStarts.size} (${cmds.mkString(", ")})"
    }
    assert(forking.isEmpty,
      s"${forking.size} gates start Hadoop Shell processes: " + forking.mkString("; "))
  }
}
