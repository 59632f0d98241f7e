package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the replay-staging harness itself — the machinery
  * every streaming gate's determinism rides on:
  *
  *  - the one-job multi-frame path of [[EventStream.stageReplay]]
  *    must land exactly one file per slot, in strictly ascending mtime
  *    order, with each slot holding exactly its frame's rows — a slot
  *    split across two files would silently split a micro-batch;
  *  - an EMPTY slot must still produce a (0-row) file, because the
  *    file count IS the trigger count the gates' watermark proofs are
  *    written against;
  *  - the replay dir cache ([[EventStream.stageReplayCached]]) must
  *    build once and re-materialize with fresh ordered mtimes. */
class ReplayStagingSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def files(staging: String): Seq[java.io.File] =
    new java.io.File(staging).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  test("union staging: one file per slot, ordered mtimes, exact slot contents") {
    import spark.implicits._
    val base = spark.range(0, 300).select(col("id"), (col("id") % 7).as("v"))
      // spread the input over several partitions so the slot
      // repartition actually has something to merge
      .repartition(8)
    val frames = Seq(
      base.filter(col("id") < 100),
      base.filter(col("id") >= 100 && col("id") < 200),
      base.filter(col("id") >= 200))
    val staging = EventStream.stageReplay(frames) // size>1 -> union path
    try {
      val fs = files(staging)
      assert(fs.size == 3, s"expected 3 staged files, got ${fs.map(_.getName)}")
      // strictly ascending mtimes = replay order is well-defined
      assert(fs.map(_.lastModified).sliding(2).forall(w => w(0) < w(1)))
      // each slot holds exactly its frame's rows
      for ((f, i) <- fs.zipWithIndex) {
        val got = spark.read.parquet(f.getAbsolutePath)
          .select("id").as[Long].collect().sorted
        val want = (i * 100L until (i + 1) * 100L).toArray
        assert(got.sameElements(want), s"slot $i content mismatch")
      }
    } finally EventStream.purgeStaging()
  }

  test("union staging: an empty slot still lands a 0-row file in order") {
    import spark.implicits._
    val base = spark.range(0, 50).toDF("id")
    val frames = Seq(
      base.filter(col("id") < 25),
      base.filter(col("id") < 0), // provably empty slot
      base.filter(col("id") >= 25))
    val staging = EventStream.stageReplay(frames)
    try {
      val fs = files(staging)
      assert(fs.size == 3, "empty slot dropped — trigger count broken")
      assert(fs.map(_.lastModified).sliding(2).forall(w => w(0) < w(1)))
      assert(spark.read.parquet(fs(1).getAbsolutePath).count() == 0)
      assert(spark.read.parquet(fs(0).getAbsolutePath).count() == 25)
      assert(spark.read.parquet(fs(2).getAbsolutePath).count() == 25)
    } finally EventStream.purgeStaging()
  }

  test("replay dir cache: build once, byte-identical re-materialization " +
      "with fresh ordered mtimes, surviving purgeStaging") {
    import spark.implicits._
    val key = s"replay_spec_dir_${System.nanoTime()}" // JVM-unique key
    val base = spark.range(0, 120).select(col("id"), (col("id") % 5).as("v"))
    var builds = 0
    def build(): String = {
      builds += 1
      EventStream.stageReplay(Seq(
        base.filter(col("id") < 60), base.filter(col("id") >= 60)))
    }
    val s1 = EventStream.stageReplayCached(key)(build())
    // the per-gate staging dirs are purged between gates; the cache
    // must survive that and re-materialize without rebuilding
    EventStream.purgeStaging()
    val s2 = EventStream.stageReplayCached(key)(build())
    val s3 = EventStream.stageReplayCached(key)(build())
    try {
      assert(builds == 1, s"expected exactly one build, got $builds")
      assert(s2 != s1 && s3 != s2, "cache hits must land fresh staging dirs")
      for (s <- Seq(s2, s3)) {
        val fs = files(s)
        assert(fs.size == 2, s"expected 2 staged files, got ${fs.map(_.getName)}")
        // replay order is re-applied on every materialization
        assert(fs.map(_.lastModified).sliding(2).forall(w => w(0) < w(1)))
        // slot contents are byte-identical to the cached build
        val got = spark.read.parquet(s).select("id").as[Long].collect().sorted
        assert(got.sameElements(Array.range(0, 120).map(_.toLong)))
        assert(spark.read.parquet(fs.head.getAbsolutePath).count() == 60)
      }
    } finally EventStream.purgeStaging()
  }
}
