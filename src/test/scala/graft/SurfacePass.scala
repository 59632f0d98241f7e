package graft

import org.apache.spark.sql.functions.{col, count, lit, struct, sum, xxhash64}

/** One shared walk of the whole gate surface at sf0.001, computed on
  * first use. EntrySpec (rows), CacheHygieneSpec (cache registry) and
  * PlanAuditSpec (executed plans) all assert on its records, so the
  * test JVM runs each gate once instead of once per spec.
  *
  * Per gate: run the gate and one count-plus-hash aggregate over its
  * result (the Bench materialization shape, plus the row count) under
  * [[PlanDump.executed]], note whether the session cache registry is
  * empty, then reset through [[SparkEntry.isolated]] so the next
  * gate's record is not polluted by this one. After the reset, note
  * the `graft_*`/`graft-*` entries of `java.io.tmpdir` the gate left
  * behind and whether any streaming query is still active. The gate,
  * its materialization and its reset run under a [[ProcessStarts]]
  * recording, which notes every process started through Hadoop's
  * `Shell`. */
object SurfacePass {

  /** @param rows the result's row count
    * @param cacheEmpty the cache registry was empty once the result
    *   was materialized
    * @param error the gate's failure, if it threw
    * @param executed every query the gate and its materialization ran
    * @param leftDirs `graft_*`/`graft-*` entries of `java.io.tmpdir`
    *   that exist after the reset but did not before the gate ran
    * @param streamsLeft names of the streaming queries still active
    *   after the gate, whether it returned or threw
    * @param shellStarts the command of each process started through
    *   Hadoop's `Shell` while the gate ran or was reset */
  final case class Gate(rows: Long, cacheEmpty: Boolean,
      error: Option[String], executed: Seq[PlanDump.Executed],
      leftDirs: Seq[String] = Nil, streamsLeft: Seq[String] = Nil,
      shellStarts: Seq[String] = Nil)

  private def scratchEntries(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .getOrElse(Array.empty[String])
      .filter(n => n.startsWith("graft_") || n.startsWith("graft-")).toSet

  lazy val gates: Map[String, Gate] = {
    val spark = SparkTestSession.spark
    spark.catalog.clearCache()
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val before = scratchEntries()
      val (gate, starts) = ProcessStarts.during {
        try SparkEntry.isolated(spark) {
          val (rows, executed) = PlanDump.executed(spark) {
            val df = fn(spark, SparkTestSession.sf)
            df.agg(count(lit(1)),
                sum(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))))
              .head().getLong(0)
          }
          Gate(rows, spark.sharedState.cacheManager.isEmpty, None, executed)
        } catch { case e: Throwable =>
          Gate(0L, cacheEmpty = true,
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(120)),
            Nil)
        }
      }
      val streamsLeft = spark.streams.active.toSeq.map(q =>
        Option(q.name).getOrElse(q.id.toString))
      // a query left running would feed the next gate's record
      spark.streams.active.foreach(_.stop())
      name -> gate.copy(leftDirs = (scratchEntries() -- before).toSeq.sorted,
        streamsLeft = streamsLeft,
        shellStarts = starts.filter(_.hadoopShell).map(_.command))
    }.toMap
  }
}
