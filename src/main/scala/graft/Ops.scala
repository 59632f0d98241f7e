package graft

import org.apache.spark.sql.SparkSession

/** Operator-facing command-line surface — the reference exposes its
  * day-2 operations as one-command Make targets (reference
  * Makefile:59-72 `health`, :103-116 `backup`/`restore`, :141-151
  * `validate-env`); graft has had the capabilities as Scala APIs
  * (`Catalog.snapshot/restore/applyRetention`,
  * `StockPipeline.preflight`, `AlphaVantageClient.healthCheck`) but no
  * entry points beyond Bench/Verify/PlanDump. This main closes that
  * gap:
  *
  * {{{
  * runMain graft.Ops health            # preflight + catalog + API probe
  * runMain graft.Ops validate-env      # config sanity, fail-fast
  * runMain graft.Ops status            # db-status/monitor readout
  * runMain graft.Ops backup <table> <path>
  * runMain graft.Ops restore <path> <table>
  * runMain graft.Ops retention [dataDays] [logDays]
  * runMain graft.Ops staging-report          # staged-artifact root readout
  * runMain graft.Ops staging-gc [dir] [--all]  # evict staged generations
  * }}}
  *
  * Exit code 0 iff the operation succeeded (health: all checks green;
  * the live API probe is SKIPPED, not failed, when no GRAFT_API_KEY is
  * configured — an offline deployment is healthy without it).
  */
object Ops {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Conf.session(cpus)
    val code = try run(spark, args.toSeq, sys.env.get("GRAFT_API_KEY"))
    finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Testable core: executes one subcommand, prints `[ops]` lines via
    * `out`, returns the process exit code. `transport` overrides the
    * health probe's HTTP layer (specs inject canned payloads; `None`
    * uses the real client). */
  def run(spark: SparkSession, args: Seq[String],
      apiKey: Option[String],
      out: String => Unit = println,
      transport: Option[String => String] = None): Int = args.toList match {

    case "health" :: Nil =>
      val pl = new graft.pipeline.StockPipeline(spark, _ => None)
      val gates = pl.preflight(apiKeyConfigured = apiKey.nonEmpty)
        .filterNot(_._1 == "api_key_configured") // probed for real below
      val catalogOk = store.Catalog.tablesPresent(spark).count() ==
        store.Catalog.tableNames.length
      val probe: (String, Option[Boolean]) = apiKey match {
        case None => "api_probe" -> None // offline deployment: skip
        case Some(k) =>
          val client = transport match {
            case Some(t) => new sources.AlphaVantageClient(k, t)
            case None => new sources.AlphaVantageClient(k)
          }
          "api_probe" -> Some(client.healthCheck())
      }
      val checks = gates.map { case (n, ok) => (n, Some(ok)) } ++
        Seq("catalog_tables" -> Some(catalogOk), probe)
      checks.foreach { case (n, st) =>
        out(s"[ops] health $n: ${st.fold("SKIP")(if (_) "OK" else "FAIL")}")
      }
      if (checks.forall(_._2.getOrElse(true))) 0 else 1

    case "validate-env" :: Nil =>
      // the reference validates its .env before any run; graft's
      // equivalent config surface is the API key + writable warehouse
      val checks = Seq(
        "api_key_configured" -> apiKey.exists(_.trim.nonEmpty),
        "warehouse_writable" -> scala.util.Try {
          val p = new org.apache.hadoop.fs.Path(store.Catalog.warehouse)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.mkdirs(p)
        }.getOrElse(false),
        "session_timezone_utc" ->
          (spark.conf.get("spark.sql.session.timeZone") == "UTC"))
      checks.foreach { case (n, ok) =>
        out(s"[ops] validate-env $n: ${if (ok) "OK" else "FAIL"}")
      }
      if (checks.forall(_._2)) 0 else 1

    case "backup" :: table :: path :: Nil =>
      store.Catalog.bootstrap(spark)
      store.Catalog.snapshot(spark, table, path)
      out(s"[ops] backup $table -> $path: ${Tables.parquet(spark, path).count()} rows")
      0

    case "restore" :: path :: table :: Nil =>
      store.Catalog.bootstrap(spark)
      store.Catalog.restore(spark, path, table)
      out(s"[ops] restore $path -> $table: ${spark.table(table).count()} rows")
      0

    case "pipeline" :: syms =>
      // the container/cron entry: one full DAG run. With an API key the
      // fetch is live (rate-limited client); without one it runs the
      // offline fixture set — the same demo the correctness gate pins.
      val fetch: String => Option[String] = apiKey match {
        case Some(k) =>
          val client = transport match {
            case Some(t) => new sources.AlphaVantageClient(k, t)
            case None => new sources.AlphaVantageClient(k)
          }
          client.fetchIntraday _
        case None => graft.pipeline.StockPipeline.fixtureFetch
      }
      val symbols =
        if (syms.nonEmpty) syms
        else Seq("aapl ", "MSFT", "ERR", "RL", "  ")
      val summary = new graft.pipeline.StockPipeline(spark, fetch)
        .runOnce(symbols).collect()
      summary.foreach(r => out(s"[ops] pipeline ${r.getString(0)}: " +
        s"${if (r.getBoolean(1)) "OK" else "FAIL"} (${r.getLong(2)} bars)"))
      // partial success IS success (reference's skip-and-continue)
      if (summary.exists(_.getBoolean(1))) 0 else 1

    case "status" :: Nil =>
      // db-status/monitor parity (reference Makefile:96-101, :208-224):
      // tables present, per-symbol record count + latest timestamp, and
      // the last five pipeline executions. Each readout is a bounded
      // aggregate or top-k over the warehouse — monitor-loop cheap.
      store.Catalog.bootstrap(spark)
      val present = store.Catalog.tablesPresent(spark).collect() // ≤3 rows
      present.foreach(r => out(s"[ops] status table ${r.getString(0)}"))
      import org.apache.spark.sql.functions._
      spark.table("stock_data")
        .groupBy("symbol")
        .agg(count(lit(1)).as("records"), max("timestamp").as("latest"))
        .orderBy("symbol")
        .collect() // one row per symbol — bounded
        .foreach(r => out(s"[ops] status ${r.getString(0)}: " +
          s"${r.getLong(1)} records, latest ${r.get(2)}"))
      val logs = spark.table("pipeline_logs")
        .orderBy(desc("created_at")) // TakeOrderedAndProject via limit
        .limit(5)
        .select("dag_id", "status", "records_processed", "created_at")
        .collect()
      logs.foreach(r => out(s"[ops] status run ${r.getString(0)} " +
        s"${r.getString(1)} (${r.get(2)} rows) at ${r.get(3)}"))
      if (logs.isEmpty) out("[ops] status run: none recorded")
      0

    case "staging-report" :: Nil =>
      // day-2 visibility for the stored-artifact root (canon token/pair
      // tables, embpairs LSH pairs): generations, completeness, age,
      // size — the readout that bounds "is lazy GC keeping up with
      // corpus churn". Listing a local temp root: bounded, no Spark.
      val gens = store.Staging.report()
      gens.foreach { g =>
        out(f"[ops] staging ${g.family}%s ${g.name}%s " +
          f"${if (g.done) "DONE" else "BUILDING"}%s " +
          f"age=${g.ageMs / 1000}%ds size=${g.bytes / 1024}%dKB")
      }
      val total = gens.map(_.bytes).sum
      out(s"[ops] staging total: ${gens.size} generations, " +
        s"${total / 1024} KB" +
        (if (gens.exists(!_.done)) s", ${gens.count(!_.done)} in-flight"
         else ""))
      0

    case "staging-gc" :: rest if rest.isEmpty || rest.length <= 2 &&
        rest.takeWhile(_ != "--all").forall(!_.startsWith("--")) =>
      // explicit GC across BOTH staged families for a corpus dir
      // (default: current generations kept; --all decommissions). With
      // no dir, GC every corpus the standard testdata layout knows —
      // callers with custom corpora pass the dir explicitly.
      val all = rest.contains("--all")
      val dirs = rest.filterNot(_ == "--all") match {
        case d :: Nil => Seq(d)
        case _ => Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
          "/root/testdata/sf0.1").filter(new java.io.File(_).isDirectory)
      }
      val before = store.Staging.report().map(_.bytes).sum
      dirs.foreach { d =>
        store.Staging.families.foreach(_.evict(d, keepCurrent = !all))
        out(s"[ops] staging-gc $d${if (all) " (--all)" else ""}")
      }
      val after = store.Staging.report().map(_.bytes).sum
      out(s"[ops] staging-gc reclaimed ${(before - after) / 1024} KB, " +
        s"${after / 1024} KB remain")
      0

    case "retention" :: rest
        if rest.length <= 2 &&
          rest.forall(a => scala.util.Try(a.toInt).isSuccess) =>
      val dataDays = rest.headOption.map(_.toInt).getOrElse(365)
      val logDays = rest.lift(1).map(_.toInt).getOrElse(30)
      store.Catalog.bootstrap(spark)
      val deleted = store.Catalog.applyRetention(spark,
        new java.sql.Timestamp(System.currentTimeMillis()),
        dataDays, logDays)
      deleted.toSeq.sortBy(_._1).foreach { case (t, n) =>
        out(s"[ops] retention $t: $n rows deleted")
      }
      0

    case other =>
      out(s"[ops] unknown command: ${other.mkString(" ")}")
      out("[ops] usage: health | validate-env | status | " +
        "pipeline [symbols...] | " +
        "backup <table> <path> | restore <path> <table> | " +
        "retention [dataDays] [logDays] | " +
        "staging-report | staging-gc [dir] [--all]")
      2
  }
}
