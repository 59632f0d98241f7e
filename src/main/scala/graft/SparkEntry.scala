package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A module that contributes gates to the registry: each gate name
  * maps to the query that builds its result (`queries`) and to the
  * DuckDB SQL that computes the same result (`oracles`), over the same
  * key set. */
trait GateModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

/** The gate registry — see SURVEY.md §7.
  *
  * Aggregates the full operator inventory: core declared-SQL surface
  * (analytics.CoreQueries), join/window/set-op surface
  * (analytics.JoinQueries), ingest parse (sources.AlphaVantage), keyed
  * upsert (operators.Upsert), dedup + similarity + multimodal extensions
  * (operators.*), text analysis (functions.TextAnalysis) and streaming
  * (streaming.EventStream). Every SQL-expressible query has a DuckDB
  * oracle with identical column aliases. Each module that defines
  * gates extends [[GateModule]] and is listed once in [[modules]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    analytics.JoinQueries.joinAgg(spark, "/root/testdata/sf0.001")

  /** Every gate module, each listed once: a new module's gates join
    * the registry by being added here. */
  val modules: Seq[GateModule] = Seq(
    analytics.CoreQueries, analytics.JoinQueries, sources.AlphaVantage,
    operators.Upsert, operators.Dedup, operators.Similarity,
    operators.Multimodal, functions.TextAnalysis, streaming.EventStream,
    store.Catalog, pipeline.StockPipeline, streaming.Sessionize,
    operators.SkewJoin, operators.AsofJoin, operators.RangeJoin,
    analytics.OlapQueries, analytics.FunctionQueries, functions.TopK,
    store.Bucketing, operators.TrainPrep, operators.Decontaminate,
    operators.Incremental, streaming.StreamJoin, analytics.TimeSeries,
    operators.BloomJoin, operators.Scd, store.Zorder,
    streaming.ForeachBatchSink, operators.TableDiff,
    analytics.BehaviorQueries, analytics.DataQuality, store.Partitioned,
    store.Compaction, store.ZoneMap, analytics.Retrieval,
    analytics.StatsQueries, analytics.Skyline, operators.GramMatrix,
    store.MaterializedView, analytics.MarketBasket, store.BloomIndex,
    streaming.StreamEwma, streaming.StreamDrift, streaming.StreamPattern,
    streaming.StreamCheckpoint, store.Backfill, store.TimeTravel,
    streaming.StreamAsof, plans.Lineage, analytics.Aqp, analytics.Sketches,
    analytics.Privacy, streaming.StreamSketch, plans.ApproxRewrite)

  /** Every gate: name → the query that builds its result. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.foldLeft(Map.empty[String, (SparkSession, String) => DataFrame])(
      _ ++ _.queries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; EntrySpec checks the two key sets match. */
  def oracleSql: Map[String, String] =
    modules.foldLeft(Map.empty[String, String])(_ ++ _.oracles)

  /** The gates `only` names (every gate when it is None), and the
    * names in `only` that no module defines, sorted. Callers report
    * the unknown names as errors, so a mistyped filter never reads as
    * a clean run. */
  def select(only: Option[Set[String]])
      : (Map[String, (SparkSession, String) => DataFrame], Seq[String]) = {
    val all = queries
    only.fold((all, Seq.empty[String])) { names =>
      (all.filter { case (name, _) => names(name) },
        names.toSeq.filterNot(all.contains).sorted)
    }
  }

  /** Runs one gate's work, then drops what a gate may leave behind:
    * its persisted intermediates (the session cache) and its scratch
    * dirs ([[store.Staging.gateDir]]). Every caller that runs gates one
    * after another goes through here, so no gate runs or is measured
    * under the state of the one before it. */
  def isolated[T](spark: SparkSession)(body: => T): T =
    try body
    finally {
      spark.catalog.clearCache()
      store.Staging.purgeGateDirs()
    }
}
