package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, sum, xxhash64}
object Bench {

  /** Materialize every output column: hash all columns per row and sum.
    * `.count()` lets Catalyst prune unreferenced projections, so
    * projection-only queries would time the scan instead of the
    * expressions; a full-column hash agg forces every expression to
    * actually run while still collecting O(1) to the driver. */
  def materialize(df: DataFrame): Unit = {
    df.agg(sum(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)))).collect()
    ()
  }

  // Host-speed canary workloads. The version is bumped on ANY change
  // to either workload (expression or row count): a reader must refuse
  // to compare canaries across versions.
  // v2 = {cpu: sum(id%1000) @ 8e9, shuffle: repartition(64)+agg @ 1e8}.
  val canaryVersion = 2
  val canaryRows = 8000000000L
  val canaryShuffleRows = 100000000L

  /** The stdout line's curated subset of gates, one-plus per operator
    * family, heavies included. BYTE BUDGET: the line is read off the
    * last ~2 KB of the build log (the full map lives in
    * BENCH_FULL.json); it measured 2,140 bytes with this set. Additions
    * must be paid for by removing equally many stable sub-second gates,
    * or the reader records parsed:null. Membership is frozen so that
    * headline totals of different runs measure the same set; new
    * flagship gates are read from BENCH_FULL.json. */
  val headline: Set[String] = Set(
    "join_agg", "join_bucketed", "join_bloom", "join_range", "asof_join",
    "skew_salted_join", "agg_percentiles", "agg_topk", "agg_cube",
    "agg_heavy_hitters", "window_running_sum", "sessionize",
    "dedup_exact", "dedup_minhash_bands", "dedup_clusters", "dedup_setsim",
    "dedup_simhash_pairs", "dedup_semantic", "embed_neardup_lsh",
    "knn_brute", "knn_ivf", "embed_clusters", "text_tfidf", "text_langid",
    "text_tokens_bpe", "multimodal_frames",
    "train_pipeline", "decontaminate", "stream_tumbling_append",
    "stream_dedup", "stream_upsert_deltas_tws", "pipeline_run",
    "ingest_parse", "yearly_revenue", "asof_join_native",
    "text_lm_score", "curate_source_cap", "knn_filtered",
    "knn_ivf_sampled", "stats_cuped", "text_bpe_train",
    "train_token_budget", "behavior_attribution_linear",
    "dedup_winnowing_pairs", "embed_lsh_recall",
    "dedup_rewrite", "graph_bfs_hops", "behavior_pattern_match",
    "stream_pattern_match", "ts_concurrency", "meta_lineage",
    "stream_checkpoint_resume", "join_point_in_time",
    "store_backfill", "dedup_cross_source", "behavior_time_to_convert",
    "stats_analyze",
    "graph_link_predict", "graph_kcore", "asof_join_nearest",
    "stats_welch", "behavior_seq_support", "ts_rolling_slope",
    "store_time_travel", "stream_asof", "behavior_markov_stationary",
    "ts_bollinger",
    "dedup_setsim_canonical", "dedup_canonical_incremental",
    "stream_dedup_watermarked", "stream_neardup_ttl",
    "approx_error_budget",
    "sketch_hll_distinct",
    "agg_q1_pricing", "join_q5_volume", "join_q19_disjunctive",
    "agg_q6_forecast",
    "dedup_method_agreement", "stream_stream_left", "stream_stream_full",
    "dedup_containment", "dedup_cosine", "stream_sessionize")

  /** Per-family bound tags: which canary a family's drift between two
    * runs should be read against — "cpu" tracks canary_sec (cores ×
    * clock), "shuffle" tracks canary_shuffle_sec (exchange/disk),
    * "harness+state" is micro-batch trigger cycles + state-store
    * commits (neither canary; replay machinery dominates). Hand-tagged
    * from one host pair where the shuffle-tagged families were exactly
    * the gates that moved while the CPU canary said the slower host was
    * faster per row. */
  val familyBound: String =
    """{"dedup":"shuffle","embed":"shuffle","knn":"cpu","text":"cpu",""" +
    """"train":"shuffle","curate":"shuffle","graph":"shuffle",""" +
    """"behavior":"shuffle","stream":"harness+state","sessionize":"harness+state",""" +
    """"agg":"cpu","join":"cpu","window":"cpu","sql":"cpu","setops":"cpu",""" +
    """"asof":"cpu","skew":"shuffle","sketch":"cpu","aqp":"cpu","dp":"cpu",""" +
    """"stats":"cpu","ts":"cpu","func":"cpu","core":"cpu","multimodal":"cpu",""" +
    """"search":"cpu","decontaminate":"cpu","pii":"cpu","dq":"cpu",""" +
    """"ingest":"cpu","pipeline":"harness+state","catalog":"cpu",""" +
    """"upsert":"cpu","export":"cpu","schema":"cpu","store":"cpu",""" +
    """"scd2":"cpu","meta":"cpu","approx":"cpu","yearly":"cpu"}"""

  /** A JSON object of already-serialized values, keys in given order. */
  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => Verify.jsonString(k) + ":" + v }
      .mkString("{", ",", "}")
  private def num(v: Double): String = f"$v%.2f"
  private def secs(m: collection.Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })

  /** One Bench run's measurements and the JSON it publishes, a pure
    * function of them.
    *
    * @param runs per gate, the seconds of each pass that succeeded;
    *   empty when every pass failed or no gate has the name. A failed
    *   gate is listed in `errors`, never timed: a timed failure once
    *   read as a fake speedup.
    * @param canarySec `canary_sec`, -1 when skipped
    * @param canaryShuffleSec `canary_shuffle_sec`, -1 when skipped
    * @param stagingSec build seconds of each staged corpus artifact
    *   ("canon", "embpairs"), -1 when its build failed
    * @param sf the scale-factor dir's name */
  final case class Record(runs: Map[String, Seq[Double]], canarySec: Double,
      canaryShuffleSec: Double, stagingSec: Seq[(String, Double)],
      sf: String) {
    /** Per gate, the min over the passes that succeeded. */
    val results: Map[String, Double] =
      runs.collect { case (k, vs) if vs.nonEmpty => k -> vs.min }
    val errors: Seq[String] =
      runs.collect { case (k, vs) if vs.isEmpty => k }.toSeq.sorted
    /** Cross-pass spread of every gate with two or more good passes. */
    val spreads: Map[String, Double] =
      runs.collect { case (k, vs) if vs.size >= 2 => k -> (vs.max - vs.min) }

    private val value = "value" -> num(results.values.sum)
    private val n = "n" -> results.size.toString
    private val version = "canary_version" -> canaryVersion.toString
    private val cpu = "canary_sec" -> num(canarySec)
    private val shuffle = "canary_shuffle_sec" -> num(canaryShuffleSec)
    private val staging = obj(stagingSec.map { case (k, v) => k -> num(v) })
    private val sfTag = "sf" -> Verify.jsonString(sf)
    private val head = Seq("metric" -> "\"total\"", value, "unit" -> "\"sec\"",
      n, version, cpu, "canary_rows" -> canaryRows.toString, shuffle,
      "canary_shuffle_rows" -> canaryShuffleRows.toString)
    private val errorsJson = errors.map(Verify.jsonString).mkString("[", ",", "]")

    /** The complete record: BENCH_FULL.json and the SPARK_GRAFT_OUT
      * file; the latter adds the containment candidate funnel. */
    def full(funnel: Option[(Long, Long, Long)] = None): String = obj(
      head ++ Seq("staging_build_sec" -> staging) ++
        funnel.map { case (cands, surv, ver) => "containment_funnel" ->
          obj(Seq("cand_pairs" -> cands.toString,
            "ub_survivors" -> surv.toString, "verified" -> ver.toString))
        } ++
        Seq("headline_subtotal" ->
            num(results.view.filterKeys(headline).values.sum),
          "family_bound" -> familyBound, "errors" -> errorsJson,
          "queries" -> secs(results), "spread" -> secs(spreads), sfTag))

    /** The stdout line: the headline subset of `full`, one line. Its
      * spreads cover the 16 slowest headline gates, where every
      * spread criterion has lived, and come BEFORE the queries map so
      * a head-bounded capture cannot cut them. `tail` repeats the
      * head-of-line scalars after the queries map, so a tail-bounded
      * capture that cut the head can still rebuild total, canaries and
      * staging. Key names and order are a parsed contract. */
    def line: String = {
      val shown = results.view.filterKeys(headline).toMap
      val watched = shown.toSeq.sortBy(-_._2).take(16)
        .flatMap { case (k, _) => spreads.get(k).map(k -> _) }.toMap
      obj(head ++ Seq("staging_sec" -> staging, "errors" -> errorsJson,
        "spread" -> secs(watched), "queries" -> secs(shown),
        "tail" -> obj(Seq(value, n, version, cpu, shuffle,
          "staging_sec" -> staging, sfTag)),
        sfTag))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts the run; a name no
    // gate has is reported in `errors`
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_OUT=<path> writes the complete record of THIS run
    // (any SF, any SPARK_GRAFT_ONLY subset) to an explicit path, with
    // the containment funnel; tools/scaling.py runs Bench once per SF
    // and fits per-query scaling exponents from these files
    val outPath = sys.env.get("SPARK_GRAFT_OUT")
    val spark = Conf.session(cpus)
    // absorb one-time session cost (codegen compiler, parquet footer
    // reads, broadcast machinery) so per-query numbers measure the
    // queries, not JVM warmup
    try {
      spark.sparkContext.setJobDescription("warmup")
      spark.range(1000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("core_records_per_group")
        .foreach(q => materialize(q(spark, sfDir)))
      // from_json/to_timestamp machinery has its own first-touch cost
      SparkEntry.queries.get("ingest_parse").foreach(q => materialize(q(spark, sfDir)))
    } catch { case _: Throwable => () }
    // Pre-stage the stored corpus artifacts the staged-consumer gates
    // read (base canonical table + token index + both sketch pair
    // tables; embedding LSH pair table): production folds/monitors run
    // against YESTERDAY'S stored artifacts, so the input build is a
    // once-per-corpus cost that must not sit inside any timed pass.
    // The build is NOT free at 100 TB, so it is TIMED here and
    // published as its own metric (staging_build_sec) — the recurring
    // per-corpus-generation cost, reported next to (not inside) the
    // per-query consumer times. A failure is LOUD: the first timed
    // consumer gate would otherwise silently absorb a full rebuild and
    // the record would misattribute it.
    def timedSec(work: => Unit): Double = {
      val t0 = System.nanoTime(); work; (System.nanoTime() - t0) / 1e9
    }
    // Full runs and SPARK_GRAFT_OUT runs evict first: a staged artifact
    // surviving from a PREVIOUS invocation would make this run's
    // consumer gates read intermediates this run never computed, and
    // the staging time would not be a from-scratch build at this SF.
    // SPARK_GRAFT_ONLY dev-loop subsets keep cross-run reuse: their
    // numbers are scratch, and a per-iteration rebuild would bury the
    // gate being iterated on.
    val stageFresh = only.isEmpty || outPath.nonEmpty
    val stagingSec = store.Staging.families.map { f =>
      spark.sparkContext.setJobDescription(s"staging: ${f.name}")
      f.name -> (try {
        if (stageFresh) f.evict(sfDir, keepCurrent = false)
        timedSec(f.ensure(spark, sfDir))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ${f.name.toUpperCase} STAGING BUILD FAILED " +
          s"— first timed consumer gate will absorb a full rebuild: $e")
        -1.0
      })
    }
    spark.sparkContext.setJobDescription(null)
    // Host-speed canaries (fixed microbenchmarks, min of 3 each), so
    // wall-clock deltas between hosts can be NORMALIZED against
    // measured host throughput instead of asserted. Skipped (-1) in
    // SPARK_GRAFT_ONLY dev-loop runs, where nothing consumes them.
    def minOf3(work: => Unit): Double =
      if (only.nonEmpty) -1.0
      else (1 to 3).map(_ => timedSec(work)).min
    // canary_sec — whole-stage-codegen'd long arithmetic: no shuffle,
    // no IO, no GC pressure — pure cores × clock. 8e9 rows (~1 s):
    // sub-second canaries measure scheduler jitter, not sustained
    // throughput. `id % 1000` keeps the running sum ~4e12, inside Long
    // under ANSI too.
    spark.sparkContext.setJobDescription("canary:cpu")
    val canary = minOf3 {
      spark.range(canaryRows).selectExpr("sum(id % 1000)").collect(); ()
    }
    // canary_shuffle_sec — the dimension the CPU canary can't see (a
    // host faster per row on the CPU canary once ran the shuffle-bound
    // dedup gates ~3× slower): a fixed full-row exchange of 1e8
    // (id, key) rows through repartition(64) into a hash agg — ~1.6 GB
    // of shuffle write+read hitting the same local dirs and page cache
    // the suite's wide exchanges use. Tracks disk/FS contention.
    spark.sparkContext.setJobDescription("canary:shuffle")
    val canaryShuffle = minOf3 {
      spark.range(canaryShuffleRows)
        .select(col("id"),
          org.apache.spark.sql.functions.pmod(
            xxhash64(col("id")), org.apache.spark.sql.functions.lit(1000000L))
            .as("k"))
        .repartition(64, col("k"))
        .groupBy("k").agg(sum("id").as("s"))
        .agg(sum("s")).collect(); ()
    }
    val (benched, unknown) = SparkEntry.select(only)
    // two passes, min per query: single-pass numbers at local[32] swing
    // 2-4x with JIT/GC timing and which heavy query runs first; the min
    // of two runs is a far more stable estimate of the plan's cost.
    // A query that THROWS records -1, never an elapsed time.
    def pass(names: Seq[String]): Map[String, Double] = names.iterator.map { name =>
      val fn = benched(name)
      // UI/event-log attribution only (guide: label your jobs) — a
      // thread-local string set outside the timed window's hot path
      spark.sparkContext.setJobDescription(s"gate:$name")
      // the gate reset runs after the clock stops: later gates aren't
      // timed under the memory pressure of earlier gates' persists, and
      // a 3-pass sweep doesn't hold one replay corpus copy per stream
      // gate per pass
      val secs =
        try SparkEntry.isolated(spark)(timedSec(materialize(fn(spark, sfDir))))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(2).mkString(" | ")}")
          -1.0
        }
      spark.sparkContext.setJobDescription(null)
      // force a GC so the ContextCleaner reclaims dead broadcasts /
      // shuffle files / RDD blocks NOW, between gates, instead of mid-
      // way through a later gate's timed window: embed_lsh_recall once
      // measured 6.59 s in-suite vs 2.43 s isolated with zero code
      // change — the suite's accumulated heap garbage (thousands of
      // broadcasts over 305 gates on an 8g heap) taxed whichever
      // allocation-heavy gate ran when the heap filled.
      System.gc()
      name -> secs
    }.toMap
    val names = benched.keys.toSeq.sorted
    val (p1, p2) = (pass(names), pass(names))
    // variance discipline: gates over 1 s (min of the two passes) get a
    // THIRD pass, and every gate publishes its cross-pass spread, so a
    // delta between runs can be read against the gate's own noise
    val slow = names.filter { k =>
      Seq(p1(k), p2(k)).filter(_ >= 0).minOption.exists(_ > 1.0)
    }
    val p3 = pass(slow)
    val record = Record(
      runs = names.map { k =>
        k -> (Seq(p1(k), p2(k)) ++ p3.get(k)).filter(_ >= 0)
      }.toMap ++ unknown.map(_ -> Seq.empty[Double]),
      canarySec = canary, canaryShuffleSec = canaryShuffle,
      stagingSec = stagingSec,
      sf = sfDir.split('/').last)
    // BENCH_FULL.json is the committed sf0.1 artifact; a smoke run
    // (other SF, or a SPARK_GRAFT_ONLY subset) must not clobber it.
    // Both writes swallow-and-report: a bad path must not crash Bench
    // AFTER the full run completed and lose the stdout line.
    def write(path: String, body: => String): Unit =
      try {
        val w = new java.io.PrintWriter(path)
        try w.println(body) finally w.close()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] write of $path failed: $e")
      }
    if (record.sf == "sf0.1" && only.isEmpty)
      write("BENCH_FULL.json", record.full())
    outPath.foreach { p =>
      // candidate-funnel census, after every timed pass: extra jobs,
      // never inside a timing window
      val funnel =
        try Some(graft.operators.Dedup.containmentFunnel(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] containment funnel failed: $e"); None
        }
      write(p, record.full(funnel))
    }
    println(record.line)
    spark.stop()
  }
}
