package graft

import graft.store.Staging
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** Pins [[Tables.parquet]]'s schema cache: a repeat read of unchanged
  * files starts no Spark job, and every schema it returns is the one
  * `spark.read.parquet` infers for the same files and settings. */
class ParquetSchemaCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = SparkTestSession.sf
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Spark jobs `body` starts on this thread (tagged by a job group,
    * so other suites' background work stays out of the count). */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"schema-cache-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "schema cache")
      try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    n.get
  }

  private def fresh(prefix: String): String = Staging.jvmDir(prefix).toString

  /** Both reads' schemas, the cached read twice (miss, then hit). */
  private def assertSparkSchema(paths: String*): Unit = {
    val expected = spark.read.parquet(paths: _*).schema
    for (_ <- 1 to 2) assert(Tables.parquet(spark, paths: _*).schema == expected, paths)
  }

  test("a repeat read of unchanged files starts no Spark job") {
    val p = s"${fresh("graft_schema_jobs")}/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(p)
    assert(jobsDuring(Tables.parquet(spark, p)) <= 1)
    assert(jobsDuring(Tables.parquet(spark, p)) == 0)
    for (name <- Seq("orders", "events")) {
      Tables.load(spark, sf, name)
      assert(jobsDuring(Tables.load(spark, sf, name)) == 0, name)
    }
  }

  test("the schema is Spark's own: corpus tables, both ts encodings, partitioned and multi-path reads") {
    spark.conf.set(nanosAsLong, "true")
    Tables.names.foreach(n => assertSparkSchema(s"$sf/$n.parquet"))
    val micros = 1704067200123456L
    val longTs = fresh("graft_schema_long")
    Seq((1L, micros * 1000L, 7L)).toDF("event_id", "ts", "user_id")
      .coalesce(1).write.parquet(s"$longTs/events.parquet")
    val ntzTs = fresh("graft_schema_ntz")
    Seq((1L, micros, 7L)).toDF("event_id", "us", "user_id")
      .select(col("event_id"), timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"),
        col("user_id"))
      .coalesce(1).write.parquet(s"$ntzTs/events.parquet")
    assertSparkSchema(s"$longTs/events.parquet")
    assertSparkSchema(s"$ntzTs/events.parquet")
    assert(Tables.parquet(spark, s"$ntzTs/events.parquet").schema("ts").dataType == TimestampNTZType)
    val parted = s"${fresh("graft_schema_part")}/orders"
    Tables.load(spark, sf, "orders").write.partitionBy("o_orderpriority").parquet(parted)
    assertSparkSchema(parted)
    assert(Tables.parquet(spark, parted).schema.last.name == "o_orderpriority")
    val multi = fresh("graft_schema_multi")
    val region = Tables.load(spark, sf, "region")
    region.filter(col("r_regionkey") < 2).write.parquet(s"$multi/a")
    region.filter(col("r_regionkey") >= 2).write.parquet(s"$multi/b")
    assertSparkSchema(s"$multi/a", s"$multi/b")
    assert(Tables.parquet(spark, s"$multi/a", s"$multi/b").count() == region.count())
  }

  test("overwriting a path with a different schema returns the new schema") {
    val p = s"${fresh("graft_schema_rewrite")}/t.parquet"
    Seq((1L, "a")).toDF("k", "v").write.parquet(p)
    assert(Tables.parquet(spark, p).schema.fieldNames.toSeq == Seq("k", "v"))
    Seq((1.5, true, 3)).toDF("x", "y", "z").write.mode("overwrite").parquet(p)
    assertSparkSchema(p)
    assert(Tables.parquet(spark, p).schema.fieldNames.toSeq == Seq("x", "y", "z"))
    assert(Tables.parquet(spark, p).collect().toSeq == spark.read.parquet(p).collect().toSeq)
  }

  test("flipping nanosAsLong flips the ts type as Spark does") {
    // a nanosecond TIMESTAMP column, which Spark reads only as a long
    // under nanosAsLong; written with parquet's own example writer
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val file = s"${fresh("graft_schema_nanos")}/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1704067200123456789L))
    finally w.close()
    def tsType(read: => org.apache.spark.sql.DataFrame): Either[String, DataType] =
      Try(read.schema("ts").dataType).toEither.left.map(_.getMessage)
    val before = spark.conf.getOption(nanosAsLong)
    try {
      val seen = for (flag <- Seq("true", "false", "true", "false")) yield {
        spark.conf.set(nanosAsLong, flag)
        val ours = tsType(Tables.parquet(spark, file))
        assert(ours == tsType(spark.read.parquet(file)), flag)
        ours
      }
      assert(seen.head == Right(LongType))
      assert(seen.distinct.size == 2, seen)
    } finally before.fold(spark.conf.unset(nanosAsLong))(spark.conf.set(nanosAsLong, _))
  }

  test("a missing path fails with Spark's own error") {
    val missing = s"${fresh("graft_schema_missing")}/absent.parquet"
    val theirs = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(missing))
    val ours = intercept[org.apache.spark.sql.AnalysisException](Tables.parquet(spark, missing))
    assert(ours.getMessage == theirs.getMessage)
    assert(ours.getCondition == "PATH_NOT_FOUND", ours.getMessage)
  }
}
