package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** A JSON string literal. Escapes backslash, quote and ALL control
    * chars (< 0x20): a tab or CR in oracle SQL would otherwise make the
    * compare's json.load fail and silently read as zero correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The dump body, factored out of [[main]] so VerifyContractSpec can
    * drive it (including the degraded path) on the shared test session.
    * Returns the per-query error map that [[main]] reports; ALWAYS
    * writes `oracle_sql.json` and `_errors.json`, even when every
    * query fails — the driver's compare must see failures as explicit
    * artifacts, never as silently-missing output dirs (the round-4
    * lesson: a 68%-green round shipped a 100%-green CORRECTNESS file
    * because errored queries simply had no directory). */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]] = None): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val (gates, unknown) = SparkEntry.select(only)
    unknown.foreach { name =>
      System.err.println(s"[verify] $name failed: no such gate")
      errors(name) = "no such gate"
    }
    gates.foreach { case (name, fn) =>
      // the parquet dump materializes the result, so the reset after
      // it drops nothing a later step still reads
      try SparkEntry.isolated(spark) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.linesIterator.take(3).mkString(" | ").take(500)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} quer(ies) FAILED: ${errors.keys.mkString(", ")}")
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev loop)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Conf.session(cpus)
    run(spark, sfDir, outDir, only)
    spark.stop()
  }
}
