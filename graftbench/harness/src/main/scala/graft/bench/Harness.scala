package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, xxhash64}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Benchmark harness: one engine JVM, an op list run once for the output
  * check and then timed over several closed-loop passes.
  *
  * {{{
  * Harness oracles <jsonFile>
  * Harness run <specFile> <dataDir> <outDir> <passes> <trace 0|1> <resultFile>
  * }}}
  *
  * `oracles` writes SparkEntry.oracleSql, the DuckDB SQL each gate's
  * result must match. `run` builds and warms a session and records the
  * time since the process started (set-up). It then runs every op of the
  * spec file (`stage canonical`, `stage embed` or `op <module> <gate>`,
  * one a line) once, untimed, writing each result to `<outDir>/<gate>`
  * for the oracle check; this also takes each op's first-call compile
  * cost out of the timings. Then it makes `passes` timed passes over the
  * list, timing each call up to its fully computed result. With tracing
  * on, every odd-numbered pass is traced and the even ones are not, so
  * one run gives both the per-layer counters and the tracing overhead.
  * The result file holds per-pass, per-op timings, process totals and,
  * when tracing, the per-layer counters (median over the traced passes);
  * the span list goes to `<resultFile>.trace.json`.
  */
object Harness {
  type Gate = (SparkSession, String) => DataFrame

  final case class Op(kind: String, module: String, name: String) {
    def layer: String = if (kind == "stage") "operators" else module.split('.')(1)
    def label: String = if (kind == "stage") s"staging_$name" else name
  }

  final case class OpResult(op: Op, startMs: Long, endMs: Long, secs: Double,
      cpuSecs: Double, rows: Long, error: Option[String], storedDelta: Long)

  /** One timed pass; `liveHeap` is what the GC after its last op left. */
  final case class Pass(index: Int, traced: Boolean, startMs: Long, endMs: Long,
      shuffleBytes: Long, liveHeap: Long, results: Seq[OpResult])

  def main(args: Array[String]): Unit = args.toList match {
    case "oracles" :: jsonFile :: Nil =>
      write(jsonFile, Json.obj(graft.SparkEntry.oracleSql.toSeq.sorted
        .map { case (k, v) => k -> Json.str(v) }: _*))
    case "run" :: specFile :: dataDir :: outDir :: passes :: trace :: resultFile :: Nil =>
      run(readSpec(specFile), dataDir, outDir, passes.toInt, trace == "1", resultFile)
    case _ =>
      System.err.println("usage: Harness oracles <jsonFile> | " +
        "Harness run <specFile> <dataDir> <outDir> <passes> <trace 0|1> <resultFile>")
      sys.exit(2)
  }

  def readSpec(path: String): Seq[Op] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).filter(_.nonEmpty).map { l =>
      l.split("\\s+").toList match {
        case "stage" :: name :: Nil => Op("stage", "graft.operators", name)
        case "op" :: module :: gate :: Nil => Op("op", module, gate)
        case _ => throw new IllegalArgumentException(s"bad spec line: $l")
      }
    }.toSeq

  def secsSinceProcessStart(): Double = {
    val started = ProcessHandle.current().info().startInstant().orElseThrow()
    (System.currentTimeMillis() - started.toEpochMilli) / 1e3
  }

  /** The session graft.Bench builds, warmed by one tiny job and one
    * parquet read of the inputs. */
  def session(dataDir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(graft.Conf.master(cores))
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Conf.silenceBoundedWindowLogs()
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.Tables.load(spark, dataDir, "region").collect()
    spark
  }

  /** Resolves a gate from its module's own gate map, e.g.
    * `graft.analytics.CoreQueries`'s `queries`. */
  def gate(op: Op): Gate = {
    val cls = Class.forName(op.module + "$")
    val module = cls.getField("MODULE$").get(null)
    val gates = cls.getMethod("queries").invoke(module).asInstanceOf[Map[String, Gate]]
    gates.getOrElse(op.name, throw new NoSuchElementException(s"${op.module} has no gate ${op.name}"))
  }

  def stage(spark: SparkSession, name: String, dataDir: String): Unit = name match {
    case "canonical" => graft.operators.Dedup.ensureCanonicalStaging(spark, dataDir); ()
    case "embed" => graft.operators.Similarity.ensureEmbedPairStaging(spark, dataDir); ()
    case _ => throw new IllegalArgumentException(s"unknown staging step $name")
  }

  /** Drops a staging step's artifacts so its next call builds them again. */
  def unstage(name: String, dataDir: String): Unit = name match {
    case "canonical" => graft.operators.Dedup.evictCanonicalStaging(dataDir, keepCurrent = false)
    case "embed" => graft.operators.Similarity.evictEmbedPairStaging(dataDir, keepCurrent = false)
    case _ => throw new IllegalArgumentException(s"unknown staging step $name")
  }

  /** Computes every row and column of a gate's result, as
    * graft.Bench.materialize does (one hash aggregate over all columns,
    * one row collected), and returns the row count. */
  def materialize(df: DataFrame): Long =
    df.agg(count(lit(1)), sum(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))))
      .head().getLong(0)

  def errorText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .take(2).mkString(" | ").take(400)

  def duBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.iterator.map(duBytes).sum).getOrElse(0L)

  def storageDirs(spark: SparkSession): Seq[File] = Seq(
    new File(System.getProperty("java.io.tmpdir")),
    new File(graft.store.Catalog.warehouse),
    new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")))

  def run(ops: Seq[Op], dataDir: String, outDir: String, passes: Int, trace: Boolean,
      resultFile: String): Unit = {
    require(!trace || passes >= 2, "a traced run needs an untraced and a traced pass")
    val spark = session(dataDir)
    val setupS = secsSinceProcessStart()
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    val streams = new StreamRecorder
    if (trace) spark.streams.addListener(streams)
    // engine CPU: the calling (driver) thread's plus the tasks' executor
    // CPU, leaving out the JIT compiler and GC threads, whose share falls
    // pass by pass as the JVM warms up
    val driverThread = ManagementFactory.getThreadMXBean
    def engineCpuNs(): Long = {
      BenchBus.drain(sc)
      driverThread.getCurrentThreadCpuTime + rec.taskCpuNs
    }
    // live heap = what the last (explicit, full) GC left in every heap pool
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
    def liveHeap(): Long = heapPools.map(_.getCollectionUsage.getUsed).sum
    def stored(): Long = storageDirs(spark).map(duBytes).sum
    // untimed between-op work: drop caches and replay staging
    def dropCaches(): Unit = {
      spark.catalog.clearCache()
      graft.streaming.EventStream.purgeStaging()
    }

    // the check execution: each result written once for the oracle check
    val checkStart = System.nanoTime()
    val checked = ops.map { op =>
      val t0 = System.nanoTime()
      val error =
        try {
          if (op.kind == "stage") { unstage(op.name, dataDir); stage(spark, op.name, dataDir) }
          else gate(op)(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/${op.name}")
          None
        } catch { case e: Throwable => Some(errorText(e)) }
      val secs = (System.nanoTime() - t0) / 1e9
      error.foreach(e => System.err.println(s"[graftbench] ${op.label} FAILED: $e"))
      dropCaches()
      (error, secs)
    }
    System.gc()
    val checkS = (System.nanoTime() - checkStart) / 1e9

    def timed(op: Op, pass: Int, i: Int, traced: Boolean): OpResult = {
      if (op.kind == "stage") unstage(op.name, dataDir)
      val measureStored = traced && (op.layer == "store" || op.kind == "stage")
      val before = if (measureStored) stored() else 0L
      sc.setJobGroup(s"op:$pass:$i", op.label)
      val c0 = engineCpuNs()
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val outcome: Either[String, Long] =
        try {
          if (op.kind == "stage") { stage(spark, op.name, dataDir); Right(0L) }
          else Right(materialize(gate(op)(spark, dataDir)))
        } catch { case e: Throwable => Left(errorText(e)) }
      val secs = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val cpuSecs = (engineCpuNs() - c0) / 1e9
      sc.clearJobGroup()
      dropCaches()
      outcome.left.foreach(e => System.err.println(s"[graftbench] ${op.label} pass $pass FAILED: $e"))
      val after = if (measureStored) stored() else 0L
      OpResult(op, startMs, endMs, secs, cpuSecs, outcome.getOrElse(0L), outcome.left.toOption,
        after - before)
    }

    val runStart = System.currentTimeMillis()
    val passResults = (0 until passes).map { p =>
      val traced = trace && p % 2 == 1
      BenchBus.drain(sc)
      rec.trace = traced
      val shuffle0 = rec.shuffleBytes
      val startMs = System.currentTimeMillis()
      val results = ops.zipWithIndex.map { case (op, i) => timed(op, p, i, traced) }
      BenchBus.drain(sc)
      val endMs = System.currentTimeMillis()
      // collected outside the op windows, so each pass starts on a clean heap
      System.gc()
      // the between-op work runs no Spark jobs, so this is op work only
      Pass(p, traced, startMs, endMs, rec.shuffleBytes - shuffle0, liveHeap(), results)
    }
    val runEnd = System.currentTimeMillis()
    rec.trace = false
    val storedBytes = stored()
    val canary = Canary.run(spark)

    def opJson(r: OpResult): String =
      Json.obj("name" -> Json.str(r.op.label), "layer" -> Json.str(r.op.layer),
        "kind" -> Json.str(r.op.kind), "secs" -> Json.num(r.secs),
        "cpu_s" -> Json.num(r.cpuSecs), "rows" -> Json.num(r.rows.toDouble),
        "error" -> r.error.map(Json.str).getOrElse("null"))
    val host = Json.obj(
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors().toDouble),
      "mem_total_kb" -> Json.num(memTotalKb().toDouble),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "scala" -> Json.str(scala.util.Properties.versionNumberString))
    val fields = mutable.LinkedHashMap(
      "setup_s" -> Json.num(setupS),
      "check_s" -> Json.num(checkS),
      "check" -> Json.arr(ops.zip(checked).map { case (op, (e, secs)) =>
        Json.obj("name" -> Json.str(op.label), "kind" -> Json.str(op.kind), "secs" -> Json.num(secs),
          "error" -> e.map(Json.str).getOrElse("null"))
      }),
      "passes" -> Json.arr(passResults.map { p =>
        Json.obj("traced" -> p.traced.toString, "elapsed_s" -> Json.num((p.endMs - p.startMs) / 1e3),
          "shuffle_bytes" -> Json.num(p.shuffleBytes.toDouble),
          "heap_live_bytes" -> Json.num(p.liveHeap.toDouble),
          "ops" -> Json.arr(p.results.map(opJson)))
      }),
      "stored_bytes" -> Json.num(storedBytes.toDouble),
      "canary" -> canary,
      "host" -> host)
    if (trace) {
      val cores = Runtime.getRuntime.availableProcessors()
      val layers = passResults.filter(_.traced).map(p => new Layers(p, rec, streams, cores))
      fields("per_layer") = Layers.medianJson(layers)
      write(resultFile + ".trace.json", Json.obj("name" -> Json.str("run"),
        "started_at" -> Json.str(Instant.ofEpochMilli(runStart).toString),
        "start_ms" -> Json.num(runStart.toDouble), "end_ms" -> Json.num(runEnd.toDouble),
        "ops" -> Json.arr(layers.flatMap(_.opSpans)),
        "stream_batches" -> Json.arr(layers.flatMap(_.batchSpans))))
    }
    write(resultFile, Json.obj(fields.toSeq: _*))
    spark.stop()
  }

  def memTotalKb(): Long =
    try scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Throwable => 0L }

  def write(path: String, text: String): Unit = {
    Files.writeString(Paths.get(path), text); ()
  }
}

/** A fixed, versioned host-speed probe run after the pass, outside every
  * timed window: a codegen'd CPU loop and a full-row shuffle, one run
  * each. Bump `version` on any change to either workload. */
object Canary {
  val version = 2
  val cpuRows = 20000000L
  val shuffleRows = 200000L

  def run(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    def timed(work: => Unit): Double = {
      val t0 = System.nanoTime(); work; (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setJobDescription("canary")
    val cpuS = timed { spark.range(cpuRows).selectExpr("sum(id % 1000)").collect(); () }
    val shuffleS = timed {
      spark.range(shuffleRows)
        .select(col("id"), pmod(xxhash64(col("id")), lit(100000L)).as("k"))
        .repartition(4, col("k")).groupBy("k").agg(sum("id").as("s"))
        .agg(sum("s")).collect(); ()
    }
    spark.sparkContext.setJobDescription(null)
    Json.obj("version" -> Json.num(Canary.version.toDouble), "cpu_rows" -> Json.num(cpuRows.toDouble),
      "cpu_s" -> Json.num(cpuS), "shuffle_rows" -> Json.num(shuffleRows.toDouble),
      "shuffle_s" -> Json.num(shuffleS))
  }
}

/** Per-stage task totals, filled from task-end events. */
final class StageAcc {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWrite = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final case class JobSpan(id: Int, group: Option[String], startMs: Long,
    stageIds: Seq[Int], var endMs: Long = -1L)

/** Sums shuffle bytes and task CPU always; while `trace` is on, also keeps
  * every job and per-stage task totals in memory. Listener callbacks
  * arrive on one bus thread; readers and whoever flips `trace` call
  * BenchBus.drain first. */
final class Recorder extends SparkListener {
  @volatile var trace = false
  @volatile var shuffleBytes = 0L
  @volatile var taskCpuNs = 0L
  val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  val stages = mutable.HashMap.empty[Int, StageAcc]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      taskCpuNs += m.executorCpuTime
      if (trace) {
        val s = stages.getOrElseUpdate(e.stageId, new StageAcc)
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.outputBytes += m.outputMetrics.bytesWritten
        s.durations += e.taskInfo.duration
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (trace) synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobSpan(e.jobId, group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
}

final case class Batch(timeMs: Long, durationMs: Long, stateRows: Long, stateBytes: Long)

/** Keeps one record per streaming micro-batch progress event. */
final class StreamRecorder extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[Batch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    batches += Batch(Instant.parse(p.timestamp).toEpochMilli, dur,
      p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
  }
}

/** Attributes the jobs, stages and tasks of one traced pass to its ops
  * (by the job group set per op, else by the op window the job started
  * in) and ops to layers, and derives the per-layer counters. */
final class Layers(pass: Harness.Pass, rec: Recorder, streams: StreamRecorder, cores: Int) {
  import Layers._
  private val results = pass.results
  private val groupPrefix = s"op:${pass.index}:"

  private val opOfJob: Map[Int, Int] = rec.jobs.values.flatMap { j =>
    val byGroup = j.group.filter(_.startsWith(groupPrefix)).map(_.stripPrefix(groupPrefix).toInt)
    byGroup.orElse {
      val i = results.indexWhere(r => j.startMs >= r.startMs && j.startMs <= r.endMs)
      if (i >= 0) Some(i) else None
    }.map(j.id -> _)
  }.toMap

  private def jobsOf(i: Int): Seq[JobSpan] =
    rec.jobs.values.filter(j => opOfJob.get(j.id).contains(i)).toSeq

  private def stagesOf(i: Int): Seq[StageAcc] =
    jobsOf(i).flatMap(_.stageIds).distinct.flatMap(rec.stages.get)

  /** Op time not covered by any of its Spark jobs. */
  def driverSecs(i: Int): Double = {
    val r = results(i)
    val spans = jobsOf(i).map(j => (math.max(j.startMs, r.startMs),
      math.min(if (j.endMs < 0) r.endMs else j.endMs, r.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (-1L, -1L)
    spans.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    math.max(0.0, r.secs - covered / 1e3)
  }

  private val batches: Seq[Batch] = streams.synchronized(streams.batches.toSeq)
    .filter(b => b.timeMs >= pass.startMs && b.timeMs <= pass.endMs)

  /** Nearest-rank 90th percentile of the micro-batch durations. */
  private def tail(xs: Seq[Long]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.ceil(0.9 * s.size).toInt - 1).toDouble
  }

  private def mb(bytes: Double): Double = bytes / 1e6

  def metrics: Seq[(String, Double)] = {
    val byLayer = results.indices.groupBy(i => results(i).op.layer)
    val perLayer = layerNames.flatMap { layer =>
      val idx = byLayer.getOrElse(layer, Seq.empty)
      val st = idx.flatMap(stagesOf)
      val busy = idx.map(results(_).secs).sum
      val runMs = st.map(_.runMs).sum
      val largest = st.filter(_.durations.nonEmpty).sortBy(-_.runMs).headOption
      val skew = largest.map { s =>
        val med = median(s.durations.toSeq.map(_.toDouble))
        if (med > 0) s.durations.max / med else 0.0
      }.getOrElse(0.0)
      val rowsOut = idx.map(results(_).rows).sum
      Seq(
        "busy_s" -> busy,
        "driver_s" -> idx.map(driverSecs).sum,
        "ops" -> idx.size.toDouble,
        "ops_failed" -> idx.count(results(_).error.isDefined).toDouble,
        "tasks" -> st.map(_.tasks).sum.toDouble,
        "task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "gc_s" -> st.map(_.gcMs).sum / 1e3,
        "core_util" -> (if (busy > 0) runMs / 1e3 / (busy * cores) else 0.0),
        "task_skew" -> skew,
        "input_mb" -> mb(st.map(_.inputBytes).sum.toDouble),
        "shuffle_mb" -> mb(st.map(_.shuffleWrite).sum.toDouble),
        "spill_mb" -> mb(st.map(_.spillBytes).sum.toDouble),
        "rows_in_per_out" ->
          (if (rowsOut > 0) st.map(_.inputRecords).sum.toDouble / rowsOut else 0.0)
      ).map { case (k, v) => s"$layer.$k" -> v }
    }
    val b = batches
    val staged = results.filter(_.op.kind == "stage")
    val storeIdx = results.indices.filter(results(_).op.layer == "store")
    val storeWritten = storeIdx.flatMap(stagesOf).map(_.outputBytes).sum.toDouble
    val storeLeft = storeIdx.map(results(_).storedDelta).sum.toDouble
    perLayer ++ Seq(
      "streaming.batches" -> b.size.toDouble,
      "streaming.batch_p50_ms" -> median(b.map(_.durationMs.toDouble)),
      "streaming.batch_tail_ms" -> tail(b.map(_.durationMs)),
      "streaming.state_rows_peak" -> (if (b.isEmpty) 0.0 else b.map(_.stateRows).max.toDouble),
      "streaming.state_mb_peak" -> mb(if (b.isEmpty) 0.0 else b.map(_.stateBytes).max.toDouble),
      "operators.staging_s" -> staged.map(_.secs).sum,
      "operators.staged_mb" -> mb(staged.map(_.storedDelta).sum.toDouble),
      "store.written_mb" -> mb(storeWritten),
      "store.write_amp" -> (if (storeLeft > 0) storeWritten / storeLeft else 0.0))
  }

  /** The span tree under `run`: op:<gate> (with pass, layer and self
    * time), then job:<id> with its stage ids and task totals. */
  def opSpans: Seq[String] = results.indices.map { i =>
    val r = results(i)
    val jobs = jobsOf(i).map { j =>
      val st = j.stageIds.flatMap(s => rec.stages.get(s).map(s -> _))
      Json.obj("name" -> Json.str(s"job:${j.id}"), "start_ms" -> Json.num(j.startMs.toDouble),
        "end_ms" -> Json.num(j.endMs.toDouble),
        "stages" -> Json.arr(st.map { case (id, s) =>
          Json.obj("name" -> Json.str(s"stage:$id"), "tasks" -> Json.num(s.tasks.toDouble),
            "run_ms" -> Json.num(s.runMs.toDouble), "cpu_ns" -> Json.num(s.cpuNs.toDouble),
            "gc_ms" -> Json.num(s.gcMs.toDouble), "input_bytes" -> Json.num(s.inputBytes.toDouble),
            "shuffle_write_bytes" -> Json.num(s.shuffleWrite.toDouble),
            "spill_bytes" -> Json.num(s.spillBytes.toDouble),
            "max_task_ms" -> Json.num(if (s.durations.isEmpty) 0.0 else s.durations.max.toDouble))
        }))
    }
    Json.obj("name" -> Json.str(s"op:${r.op.label}"), "pass" -> Json.num(pass.index.toDouble),
      "layer" -> Json.str(r.op.layer),
      "start_ms" -> Json.num(r.startMs.toDouble), "end_ms" -> Json.num(r.endMs.toDouble),
      "self_s" -> Json.num(driverSecs(i)), "error" -> r.error.map(Json.str).getOrElse("null"),
      "jobs" -> Json.arr(jobs))
  }

  def batchSpans: Seq[String] = batches.map { b =>
    Json.obj("time_ms" -> Json.num(b.timeMs.toDouble), "duration_ms" -> Json.num(b.durationMs.toDouble),
      "state_rows" -> Json.num(b.stateRows.toDouble), "state_bytes" -> Json.num(b.stateBytes.toDouble))
  }
}

object Layers {
  val layerNames = Seq("analytics", "plans", "functions", "operators",
    "streaming", "store", "sources", "pipeline")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Each per-layer counter as its median over the traced passes. */
  def medianJson(passes: Seq[Layers]): String = {
    val all = passes.map(_.metrics)
    Json.obj(all.head.map(_._1).zipWithIndex.map { case (k, i) =>
      k -> Json.num(median(all.map(_(i)._2)))
    }: _*)
  }
}

/** Just enough JSON writing for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
