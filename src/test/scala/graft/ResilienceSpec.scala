package graft

import org.scalatest.funsuite.AnyFunSuite

/** Read-side resilience knobs that matter at 100 TB: with millions of
  * files per table, the occasional truncated/corrupt part file is an
  * operational certainty (failed writer, partial upload), and the
  * difference between "the nightly job dies at 99%" and "the job
  * completes and reports the skip" is one conf. This spec pins BOTH
  * sides of the contract so the engine's default stays strict
  * (silently dropping data is worse than failing) while the documented
  * recovery path actually works. */
class ResilienceSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def freshDir(): java.nio.file.Path = graft.store.Staging.jvmDir("resilience")

  private def writeGoodAndCorrupt(): String = {
    val dir = freshDir().toString
    import spark.implicits._
    (1L to 100L).toDF("id").repartition(2)
      .write.mode("overwrite").parquet(dir)
    // a plausible-looking part file with garbage bytes: wrong magic,
    // no footer — unreadable as parquet
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-99999-corrupt.snappy.parquet"),
      Array.fill[Byte](256)(0x5A))
    dir
  }

  test("default is strict: a corrupt part file fails the read loudly") {
    val dir = writeGoodAndCorrupt()
    val e = intercept[Exception] {
      spark.read.parquet(dir).count()
    }
    val msgs = Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString("\n")
    assert(msgs.toLowerCase.contains("parquet")
      || msgs.toLowerCase.contains("corrupt")
      || msgs.toLowerCase.contains("footer"), s"unexpected error:\n$msgs")
  }

  test("ignoreCorruptFiles completes the scan and keeps every good row") {
    val dir = writeGoodAndCorrupt()
    Conf.withConf(spark, "spark.sql.files.ignoreCorruptFiles", "true") {
      val got = spark.read.parquet(dir)
      assert(got.count() == 100)
      assert(got.agg(org.apache.spark.sql.functions.sum("id"))
        .collect()(0).getLong(0) == 5050L)
    }
  }

  test("missing files during a scan are skippable the same way") {
    val dir = freshDir().toString
    import spark.implicits._
    (1L to 50L).toDF("id").repartition(5)
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir) // plans against the current listing
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head
    Conf.withConf(spark, "spark.sql.files.ignoreMissingFiles", "true") {
      assert(part.delete(), "test setup: could not delete a part file")
      val n = df.count() // one file's rows are gone, the scan survives
      assert(n < 50 && n >= 0)
    }
  }
}
