package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Pins all three physical-`ts` branches of [[Tables.tsNormalizer]]
  * against synthetic fixtures, independently of what the driver's
  * corpus happens to ship this round. The corpus has already drifted
  * once (ns-int64 → timestamp[us]); [[SchemaCanarySpec]] catches the
  * NEXT drift, and this spec proves the adaptive loader handles every
  * shape it claims to — including the legacy one the corpus no longer
  * exercises — with value-identical results.
  */
class TsNormalizerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // one whole-microsecond instant, expressed three ways
  private val micros = 1704067200123456L // 2024-01-01 00:00:00.123456 UTC

  private def writeFixture(dfWriter: String => Unit): String = {
    val dir = graft.store.Staging.jvmDir("graft_ts_fixture").toFile
    dfWriter(dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  test("LongType branch treats the stored long as nanoseconds") {
    // the legacy corpus stored ns-int64; emulate with a plain long col
    val dir = writeFixture { d =>
      Seq((1L, micros * 1000L, 7L)).toDF("event_id", "ts", "user_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    val got = Tables.load(spark, dir, "events")
    assert(got.schema("ts").dataType == TimestampType)
    val v = got.select(unix_micros(col("ts"))).head().getLong(0)
    assert(v == micros, s"expected $micros got $v")
  }

  test("TimestampNTZ branch casts to session-TZ timestamp unchanged (UTC)") {
    val dir = writeFixture { d =>
      Seq((1L, micros, 7L)).toDF("event_id", "us", "user_id")
        .select(col("event_id"),
          expr("convert_timezone('UTC', timestamp_micros(us))")
            .cast(TimestampNTZType).as("ts"),
          col("user_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    // the fixture really is NTZ on disk
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType)
    val got = Tables.load(spark, dir, "events")
    assert(got.schema("ts").dataType == TimestampType)
    val v = got.select(unix_micros(col("ts"))).head().getLong(0)
    assert(v == micros, s"expected $micros got $v")
  }

  test("TimestampType branch passes through") {
    val dir = writeFixture { d =>
      Seq((1L, micros, 7L)).toDF("event_id", "us", "user_id")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    val got = Tables.load(spark, dir, "events")
    assert(got.schema("ts").dataType == TimestampType)
    val v = got.select(unix_micros(col("ts"))).head().getLong(0)
    assert(v == micros, s"expected $micros got $v")
  }

  test("eventsFrom filters equivalently on long-ns and timestamp fixtures") {
    // two rows straddling the cutoff, written in both physical shapes;
    // the pushed-down predicate must keep exactly the later row in both
    val early = micros - 1000000L
    val cutoff = "2024-01-01 00:00:00"
    val longDir = writeFixture { d =>
      Seq((1L, early * 1000L), (2L, micros * 1000L)).toDF("event_id", "ts")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    val tsDir = writeFixture { d =>
      Seq((1L, early), (2L, micros)).toDF("event_id", "us")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    for (dir <- Seq(longDir, tsDir)) {
      val ids = Tables.eventsFrom(spark, dir, cutoff)
        .select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(2L), s"dir=$dir got $ids")
    }
  }
}
