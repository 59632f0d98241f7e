package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver contract of [[Verify.run]] — especially the
  * DEGRADED path, which is what the round-4 postmortem demanded: a
  * broken corpus must surface as explicit per-query error artifacts,
  * never as silently-missing output directories that the downstream
  * compare reads as "nothing to check". */
class VerifyContractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def slurp(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))

  test("healthy run: parquet per query, empty _errors.json, oracle dump") {
    val out = graft.store.Staging.jvmDir("verify_ok").toString
    val errors = Verify.run(spark, SparkTestSession.sf, out,
      only = Some(Set("core_health_probe", "core_summary_stats")))
    assert(errors.isEmpty)
    assert(slurp(s"$out/_errors.json") == "{}")
    for (q <- Seq("core_health_probe", "core_summary_stats"))
      assert(spark.read.parquet(s"$out/$q").count() > 0)
    // the oracle dump is parseable JSON covering EVERY gate (the
    // filter limits execution, not the contract file)
    val oracle = slurp(s"$out/oracle_sql.json")
    assert(oracle.startsWith("{") && oracle.endsWith("}"))
    SparkEntry.queries.keys.foreach(k =>
      assert(oracle.contains("\"" + k + "\""), s"oracle_sql misses $k"))
  }

  test("filter with an unknown gate name: it is an error, real gates still run") {
    val out = graft.store.Staging.jvmDir("verify_typo").toString
    val errors = Verify.run(spark, SparkTestSession.sf, out,
      only = Some(Set("core_health_probe", "no_such_gate")))
    assert(errors.keySet == Set("no_such_gate"))
    assert(slurp(s"$out/_errors.json").contains("\"no_such_gate\""))
    assert(spark.read.parquet(s"$out/core_health_probe").count() > 0)
  }

  test("degraded run: a missing corpus yields per-query errors, not silence") {
    val out = graft.store.Staging.jvmDir("verify_bad").toString
    val names = Set("core_summary_stats", "text_stats")
    val errors = Verify.run(spark, "/nonexistent_corpus_dir", out,
      only = Some(names))
    // every attempted query is individually recorded as failed
    assert(errors.keySet == names)
    val errJson = slurp(s"$out/_errors.json")
    names.foreach(n => assert(errJson.contains("\"" + n + "\"")))
    // no half-written result dirs that a compare could mistake for data
    names.foreach(n =>
      assert(!new java.io.File(s"$out/$n").exists()
        || spark.read.parquet(s"$out/$n").columns.isEmpty))
    // the contract files still exist so the driver sees a REPORT, and
    // the error payload stays JSON-parseable (control chars escaped)
    assert(slurp(s"$out/oracle_sql.json").nonEmpty)
    assert(!errJson.exists(c => c < ' '))
  }
}
