package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** Automated cluster-mode smoke (r8 verdict #2): the r7 `Conf.master`
  * fix — spark-submit's master arrives as the `spark.master` SYSTEM
  * PROPERTY, and a hardcoded `.master(...)` in a builder silently
  * overrides it — was guarded only by a hand-run log in
  * `docker/SMOKE.md`. This spec reruns that proof on every `sbt test`:
  * it forks `graft.Verify` (the real driver entry point, building its
  * session through `Conf.master`) with
  * `-Dspark.master=local-cluster[2,1,1024]` — Spark's standalone
  * master/worker/executor registration code path in-process, separate
  * executor JVMs included — and asserts from the driver log that the
  * submitted master WON (standalone workers registered; a regression
  * to hardcoded local mode launches no workers) and that BOTH
  * executors were granted. Correctness of the dumped gate is asserted
  * from `_errors.json`.
  */
class ClusterSmokeSpec extends AnyFunSuite {

  test("Verify under -Dspark.master=local-cluster[2,1,1024] runs on 2 executors") {
    val sparkHome = sys.env.getOrElse("SPARK_HOME", "/opt/spark")
    assume(new java.io.File(s"$sparkHome/bin/spark-class").exists,
      "needs a Spark dist for standalone worker launch")
    val cp = System.getProperty("java.class.path")
    val classesDirs = cp.split(java.io.File.pathSeparator)
      .filter(p => p.endsWith("classes") || p.endsWith("test-classes"))
      .mkString(java.io.File.pathSeparator)
    val out = graft.store.Staging.jvmDir("cluster_smoke").toString
    val log = new StringBuilder
    val cmd = Seq(
      s"${sys.props("java.home")}/bin/java",
      "-Xmx1g",
      "-Dspark.master=local-cluster[2,1,1024]",
      // executors are forked from the Spark dist's jars; point them at
      // the compiled graft classes (same machine, directory classpath)
      s"-Dspark.executor.extraClassPath=$classesDirs",
      "-cp", cp,
      "graft.Verify", "/root/testdata/sf0.001", out,
      "core_records_per_group")
    // the in-process standalone worker builds the executor command with
    // the launcher library, whose scala-version probe needs
    // SPARK_SCALA_VERSION when not launched through bin/spark-class
    // (which sources load-spark-env.sh) — without it, executor launch
    // dies with "Cannot find any build directories."
    val env = Seq("SPARK_HOME" -> sparkHome, "SPARK_GRAFT_CPUS" -> "2",
      "SPARK_SCALA_VERSION" ->
        scala.util.Properties.versionNumberString.split('.').take(2).mkString("."))
    val rc = Process(cmd, None, env: _*)
      .!(ProcessLogger(l => log.append(l).append('\n'),
        l => log.append(l).append('\n')))
    val logStr = log.toString
    assert(rc == 0, s"forked Verify exited $rc\n${logStr.takeRight(4000)}")
    // the standalone path won: two workers registered with the
    // in-process master (a hardcoded-local regression logs neither)
    val registered = "Successfully registered with master spark://".r
      .findAllIn(logStr).size
    assert(registered >= 2,
      s"expected 2 standalone worker registrations, saw $registered")
    // both executors were granted by the standalone scheduler
    val granted = "Granted executor ID".r.findAllIn(logStr).size
    assert(granted >= 2, s"expected 2 executor grants, saw $granted")
    // and the gate itself dumped cleanly
    val errs = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/_errors.json"))).trim
    assert(errs == "{}", s"_errors.json = $errs")
  }
}
