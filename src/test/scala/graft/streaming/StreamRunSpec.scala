package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** [[StreamRun]]'s teardown contract: a failure while a query drains,
  * snapshots or records its state metrics surfaces as itself, and the
  * query is stopped anyway. The failure here is the metrics truncation
  * guard: with a 2-entry progress setting, the watermarked dedup's
  * 7-trigger replay keeps only its last progress entry. */
class StreamRunSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  test("a state-metrics failure surfaces and still stops the query") {
    StreamMetrics.clear()
    StreamMetrics.enabled = true
    try {
      val e = intercept[IllegalArgumentException] {
        graft.Conf.withConf(spark,
            "spark.sql.streaming.numRecentProgressUpdates", "2") {
          EventStream.streamDedupWatermarked(spark, graft.SparkTestSession.sf)
        }
      }
      assert(e.getMessage.contains("retention cap"), e.getMessage)
      assert(spark.streams.active.isEmpty,
        s"left running: ${spark.streams.active.map(_.name).mkString(", ")}")
    } finally {
      StreamMetrics.enabled = false
      StreamMetrics.clear()
      spark.streams.active.foreach(_.stop())
      EventStream.purgeStaging()
    }
  }
}
