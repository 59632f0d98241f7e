package graft

import org.apache.spark.sql.SparkSession

/** Session-level tuning knobs (SCALE.md "Tuning knobs"):
  * read from `spark.conf` with engine defaults, so a deployment tunes
  * task sizing without code changes — e.g.
  * `--conf spark.graft.neardup.groups=64` on a large cluster.
  *
  * Every knob here is OUTPUT-INVARIANT: it moves work between tasks
  * (task memory, replication factor, bucket layout) but never changes
  * query results — which is why gate queries can read them freely.
  * Quality-affecting parameters (LSH bits/bands, IVF k, minhash perms)
  * are deliberately NOT conf-driven: the DuckDB oracles are generated
  * from their compile-time values, and changing them is a semantic
  * choice, not a tuning one.
  */
object Conf {

  /** Materialize `out` (eager localCheckpoint) and then release the
    * gate-local cached inputs — the library-hygiene contract
    * (CacheHygieneSpec): every public query must leave the session's
    * cache registry empty once its result is materialized, so repeated
    * library calls never accumulate cached corpus copies in executor
    * storage. The checkpointed result is self-contained (lineage cut),
    * so the inputs can drop before the caller ever evaluates it, and
    * its blocks are ContextCleaner-scoped — freed when the frame is
    * garbage collected — rather than registry entries that outlive the
    * call. */
  def checkpointThenRelease(out: org.apache.spark.sql.DataFrame,
      cached: org.apache.spark.sql.Dataset[_]*): org.apache.spark.sql.DataFrame = {
    val ck = out.localCheckpoint()
    cached.foreach(_.unpersist())
    ck
  }

  /** Triangle block-join group count G: G*(G+1)/2 tasks, each holding
    * 2n/G vectors. Raise on a cluster so blocks fit executor memory. */
  val NeardupGroups = "spark.graft.neardup.groups"

  /** LSH bucket size above which pair emission falls back to O(n) star
    * pairing (duplicate-flood guard). */
  val DedupBucketCap = "spark.graft.dedup.bucketCap"

  /** 1 (default) broadcasts the decontamination benchmark summary; 0
    * flips to a shuffled join for eval suites too large to fit an
    * executor. Join semantics are identical either way. */
  val DecontaminateBroadcast = "spark.graft.decontaminate.broadcast"

  /** Bucket count for the CLUSTERED BY join tables; at 100 TB size so
    * each bucket file lands at ~128-512 MB. Changing it creates a new
    * table generation (the count is part of the table name) because
    * bucket metadata is baked into the persisted layout. */
  val BucketCount = "spark.graft.bucketing.buckets"

  /** Silence WindowExec's "No Partition Defined" warning for the
    * engine's runtime surfaces. Every global window on the surface is
    * provably bounded (band offsets, calendar carries, sketch members
    * — ≤ a few thousand rows) and documented at its call site via
    * [[graft.Tables.boundedGlobalWindow]]; Spark 4's optimizer folds
    * the constant partition key back out, so the executor still logs
    * the warning per task and floods the 2 KB driver tail the bench
    * artifact depends on. The DISCIPLINE is enforced statically
    * instead: PlanAuditSpec fails any gate that executes an analyzed
    * plan with an empty-partition window outside the audited
    * whitelist, which is strictly stronger than a log line nobody
    * greps. */
  def silenceBoundedWindowLogs(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)

  /** Master URL for the entry-point mains. spark-submit communicates the
    * cluster master by setting the `spark.master` system property on the
    * driver JVM; a hardcoded `.master("local[N]")` in the builder would
    * OVERRIDE it, silently turning a `--master spark://...` submission into
    * a local-mode run inside the client container (the r6 compose bug).
    * Resolution order: spark.master sys-prop (spark-submit / --conf), then
    * SPARK_MASTER_URL env (the compose file's contract), then local[cpus]
    * for the bare `sbt runMain` dev loop. */
  def master(cpus: String): String =
    sys.props.get("spark.master")
      .orElse(sys.env.get("SPARK_MASTER_URL"))
      .getOrElse(s"local[$cpus]")

  /** The session the entry-point mains (Verify, Bench, PlanDump, Ops,
    * StreamScale) run in: `cpus` local cores (see [[master]]) and
    * shuffle partitions, UTC and non-ANSI semantics as the oracles
    * assume, the graft extensions, and a progress ring deep enough that
    * StreamMetrics never sees a truncated stream history. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master(cpus))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    silenceBoundedWindowLogs()
    spark
  }

  def int(spark: SparkSession, key: String, default: Int): Int =
    spark.conf.getOption(key).map(_.trim.toInt).getOrElse(default)

  /** Run `body` with a session conf temporarily overridden (gate
    * queries run sequentially, so a scoped override is race-free).
    * Used to right-size shuffle partitions for work whose volume is
    * decoupled from the corpus — tiny iterative edge frames, streaming
    * state stores — where the batch default pays fixed per-partition
    * overhead (task launch, state-store open/commit) for no
    * parallelism gain. Only effective for work EXECUTED inside `body`
    * (iterative loops, streaming queries); a lazily-returned frame
    * plans under the restored conf. */
  def withConf[T](spark: SparkSession, key: String, value: String)
      (body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
