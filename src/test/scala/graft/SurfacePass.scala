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
  * gate's record is not polluted by this one. */
object SurfacePass {

  /** @param rows the result's row count
    * @param cacheEmpty the cache registry was empty once the result
    *   was materialized
    * @param error the gate's failure, if it threw
    * @param executed every query the gate and its materialization ran */
  final case class Gate(rows: Long, cacheEmpty: Boolean,
      error: Option[String], executed: Seq[PlanDump.Executed])

  lazy val gates: Map[String, Gate] = {
    val spark = SparkTestSession.spark
    spark.catalog.clearCache()
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val gate =
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
      name -> gate
    }.toMap
  }
}
