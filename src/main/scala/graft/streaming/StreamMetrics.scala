package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.concurrent.TrieMap

/** Opt-in capture of Structured Streaming state-operator metrics.
  *
  * Every streaming query runs through [[StreamRun]], which, once the
  * query has drained, records (when [[enabled]]) the query's progress
  * history: total input rows, batch count, and the LAST batch's
  * state-store totals (`numRowsTotal`, `memoryUsedBytes` summed over
  * state operators).
  *
  * This exists to answer the 100 TB question the wall-clock bench
  * can't: is streaming STATE bounded by keys/windows inside the
  * watermark horizon (scales with key cardinality), or does it grow
  * with the events replayed (unbounded — a leak at scale)? The
  * [[graft.StreamScale]] main replays the stateful gates at two SFs
  * and publishes the measured input-vs-state growth in
  * STREAMSCALE.json. Default-off so gate timings never pay for it.
  */
object StreamMetrics {
  final case class StateStats(
      query: String,
      batches: Long,
      rowsIn: Long,
      stateRows: Long,
      stateBytes: Long,
      stateRowsPeak: Long,
      stateBytesPeak: Long)

  @volatile var enabled = false
  private val stats = TrieMap.empty[String, StateStats]

  private[streaming] def put(st: StateStats): Unit = stats.put(st.query, st)

  def snapshot: Map[String, StateStats] = stats.toMap
  def clear(): Unit = stats.clear()
}

/** The one place a streaming query drains and stops. Every streaming
  * gate starts its query through here, so a run-wide deadline, a stop of
  * every active query or a per-micro-batch lever has one home.
  *
  * Order: drain with `processAllAvailable()`, snapshot, record the
  * state metrics, stop. Only the stop sits in the `finally`, so a
  * failing drain, snapshot or [[record]] still stops the query and
  * surfaces as itself. */
object StreamRun {

  /** Run `stream` into the memory sink `name` in `outputMode`, drain
    * it, and return `finish` of the sink table as an eager
    * `localCheckpoint`: the snapshot materializes before the query
    * stops, without a cacheManager entry, so callers inherit no cached
    * frames (its blocks are ContextCleaner-scoped). */
  def toSnapshot(spark: SparkSession, stream: DataFrame, name: String,
      outputMode: String, finish: DataFrame => DataFrame): DataFrame = {
    val q = stream.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .start()
    try {
      q.processAllAvailable()
      val out = finish(spark.table(name)).localCheckpoint(true)
      record(q)
      out
    } finally q.stop()
  }

  /** Drain an already started query (a `foreachBatch` sink, whose
    * output is the table its batches wrote), record it and stop it. */
  def drain(q: StreamingQuery): Unit =
    try {
      q.processAllAvailable()
      record(q)
    } finally q.stop()

  private def record(q: StreamingQuery): Unit = if (StreamMetrics.enabled) {
    val ps = q.recentProgress
    if (ps != null && ps.nonEmpty) {
      // recentProgress is a RING of the last numRecentProgressUpdates
      // - 1 entries (Spark dequeues while length >= the setting, default
      // 100): a run with more triggers would silently drop its earliest
      // batches from rowsIn/batches/peaks — the exact numbers
      // STREAMSCALE.json exists to get right. Truncation must be LOUD,
      // not a quietly understated in_growth. The measuring harness
      // (graft.StreamScale) raises the conf far above any
      // staged-replay trigger count, and Bench/Verify/test sessions do
      // too (defense in depth should metrics ever be enabled there). A
      // full ring alone is NOT proof of truncation — a replay can
      // legitimately run exactly that many triggers — so only fail on
      // the certain signal: a full ring whose earliest retained entry
      // is not the query's first batch. (A checkpoint-resumed query
      // starts at batchId > 0, but its replays are far shorter than
      // any configured cap.)
      val cap = q.sparkSession.conf
        .get("spark.sql.streaming.numRecentProgressUpdates", "100").toInt
      require(ps.length < cap - 1 || ps.head.batchId == 0L,
        s"progress history hit the $cap-entry retention cap with earliest " +
          s"retained batchId ${ps.head.batchId} — metrics are truncated; " +
          "raise spark.sql.streaming.numRecentProgressUpdates")
      val name = Option(q.name).getOrElse(q.id.toString)
      def rowsOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        Option(p.stateOperators).fold(0L)(_.map(_.numRowsTotal).sum)
      def bytesOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        Option(p.stateOperators).fold(0L)(_.map(_.memoryUsedBytes).sum)
      // END state (post-drain, after watermark purges) vs PEAK state
      // (the watermark-horizon bound a production deployment sizes for)
      StreamMetrics.put(StreamMetrics.StateStats(
        name,
        ps.length.toLong,
        ps.map(_.numInputRows).sum,
        rowsOf(ps.last),
        bytesOf(ps.last),
        ps.map(rowsOf).max,
        ps.map(bytesOf).max))
    }
  }
}
