package graft.store

import graft.Tables
import graft.Tables.dsum
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file Bloom-filter index — point-lookup file skipping, the
  * complement of [[ZoneMap]]: min/max stats prune RANGE predicates on
  * clustered keys, but an equality probe on a hash-distributed key
  * (user id, doc hash) matches every file's min/max span. A small
  * Bloom filter per file answers "might this file contain key k?"
  * with no false negatives, so a point lookup reads only the files
  * whose filter fires — Parquet's own column bloom filters, ORC bloom
  * indexes and Delta's bloom-index feature are exactly this. On a
  * 100 TB table hashed into thousands of files, a point probe drops
  * from a full scan to ~1 file + a false-positive tail (rate set by
  * bits-per-key; 1024 bits / 3 hashes here for the gate's file sizes).
  *
  * Everything is integer-deterministic: bit positions come from the
  * LCG double-hash family pos_i(x) = LCG(x·(i+1) + i) mod m (no
  * floats, reproducible anywhere), and the per-file bitset is built
  * with a plain `bit_or` aggregate over (file, word) — one
  * column-pruned scan, 16 longs per file. Probing never touches data:
  * the candidate list comes from the (file-count-sized) index table,
  * then only surviving files are read, with the equality predicate as
  * residual filter — false positives cost scan bytes, never wrong
  * rows, which is what the plain-filter oracle proves.
  */
object BloomIndex extends graft.GateModule {

  /** Files the hash-clustered copy is written into. */
  val nFiles = 16

  /** Bloom geometry: m bits per file (as m/64 longs), h hash fns. */
  val mBits = 1024L
  val nHashes = 3

  private def sfTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Bit position i for key x — LCG double-hash, pure integer. */
  def bloomPos(x: Long, i: Int): Long =
    Math.floorMod(Math.floorMod(
      x * (i + 1) * 1103515245L + 12345L + i * 40014L,
      2147483648L), mBits)

  private def bloomPosCol(c: Column, i: Int): Column =
    pmod(pmod(c * lit((i + 1) * 1103515245L) + lit(12345L + i * 40014L),
      lit(2147483648L)), lit(mBits))

  /** Write the hash-clustered events copy once per SF dir (each
    * user_id lands in exactly one file — the layout a bucketed/
    * hash-distributed table already has). */
  def bootstrap(spark: SparkSession, dir: String): String = {
    val path = s"${Catalog.warehouse}/bloomidx/${sfTag(dir)}/events_hashed"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$path/_SUCCESS"))) {
      Tables.load(spark, dir, "events")
        .repartition(nFiles, col("user_id"))
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** The index: per (file, 64-bit word) OR of the key's hash masks.
    * One scan of the key column; m/64 rows per file. */
  def index(spark: SparkSession, path: String): DataFrame = {
    val pos = explode(array((0 until nHashes)
      .map(i => bloomPosCol(col("user_id"), i)): _*)).as("pos")
    Tables.parquet(spark, path)
      .select(col("user_id"), col("_metadata.file_path").as("file"))
      .select(col("file"), pos)
      .groupBy(col("file"), (col("pos") / 64).cast("long").as("word"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
        "CAST(pos % 64 AS INT)))").as("bits"))
  }

  /** Files whose filter fires for EVERY hash of key `k` (no false
    * negatives: a file containing k set all its bits). */
  def candidateFiles(idx: Array[(String, Long, Long)], k: Long): Set[String] = {
    val need = (0 until nHashes).map(i => bloomPos(k, i))
      .map(p => (p / 64, 1L << (p % 64).toInt))
    idx.groupBy(_._1).collect { case (file, words) =>
      val w = words.map(r => r._2 -> r._3).toMap
      if (need.forall { case (word, mask) =>
        (w.getOrElse(word, 0L) & mask) != 0L }) Some(file) else None
    }.flatten.toSet
  }

  /** Deterministic probe keys for the gate: 1/3 and 2/3 of the key
    * span (dense ids, so both exist — but correctness never depends
    * on that). */
  private def probeKeys(spark: SparkSession, path: String): Seq[Long] = {
    val Array(lo, hi) = Tables.parquet(spark, path)
      .agg(min(col("user_id")), max(col("user_id")))
      .collect()(0).toSeq.map(_.toString.toLong).toArray
    val span = hi - lo
    Seq(lo + span / 3, lo + span * 2 / 3)
  }

  /** Gate: probe two keys through the per-file index and aggregate
    * ONLY surviving files; the oracle filters the original unclustered
    * table. The index rows reaching the driver are file-count-sized
    * metadata, never row data. */
  def prunedLookup(spark: SparkSession, dir: String): DataFrame = {
    val path = bootstrap(spark, dir)
    val idx = index(spark, path).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val keys = probeKeys(spark, path)
    val keep = keys.flatMap(candidateFiles(idx, _)).distinct
    val src =
      if (keep.isEmpty)
        Tables.parquet(spark, path).filter(lit(false))
      else Tables.parquet(spark, keep: _*)
    src.filter(col("user_id").isin(keys: _*))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("val_sum"))
  }

  /** (files kept, total files) for the gate probes — spec surface. */
  def pruneCounts(spark: SparkSession, dir: String): (Int, Int) = {
    val path = bootstrap(spark, dir)
    val idx = index(spark, path).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val keys = probeKeys(spark, path)
    val total = idx.map(_._1).distinct.length
    (keys.flatMap(candidateFiles(idx, _)).distinct.length, total)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bloom_index_prune" -> prunedLookup _)

  val oracles: Map[String, String] = Map(
    "bloom_index_prune" ->
      """WITH b AS (SELECT min(user_id) AS lo, max(user_id) AS hi
        |  FROM events),
        |k AS (SELECT lo + (hi - lo) // 3 AS k1,
        |    lo + (hi - lo) * 2 // 3 AS k2 FROM b)
        |SELECT event_type, count(*) AS cnt,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
        |FROM events, k
        |WHERE user_id IN (k.k1, k.k2)
        |GROUP BY event_type""".stripMargin)
}
