package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the continuous MinHash-LSH near-dup detector
  * (`stream_neardup_minhash`): flags must equal the batch LSH
  * condition "an earlier (smaller-id) doc shares a band bucket" —
  * including ties arriving in the SAME micro-batch — and per-row
  * streaming signatures must agree with the batch explode+agg kernel
  * bucket-for-bucket. */
class StreamNearDupSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  test("compiled per-row band buckets match the batch signature kernel") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, graft.SparkTestSession.sf, "documents")
      .select(col("doc_id"), col("text")).cache()
    val rowForm = docs.as[DocText]
      .flatMap(d => graft.operators.Dedup.bandHitsLocal(d.text)
        .map { case (b, bk) => (d.doc_id, b, bk) })
      .toDF("doc_id", "band_id", "bucket")
    val batchForm = graft.operators.Dedup
      .minhashBands(graft.operators.Dedup.tokenRows(docs))
      .select(col("doc_id"), col("band_id"), col("bucket"))
    assert(rowForm.exceptAll(batchForm).isEmpty &&
      batchForm.exceptAll(rowForm).isEmpty,
      "compiled per-row and explode+agg signatures disagree")
    docs.unpersist()
  }

  test("per-row band buckets match the Column kernel on non-ASCII text") {
    // Spark's substring/ascii and DuckDB's ascii are CODE-POINT-based;
    // the compiled kernel must walk code points too, or any
    // supplementary character (surrogate pair in UTF-16) inside a
    // shingle's first 24 code points shifts every following position.
    import spark.implicits._
    val smiley = new String(Character.toChars(0x1F600))
    val docs = Seq(
      (1L, s"héllo wörld $smiley café naïve tokens here"),
      (2L, s"$smiley$smiley twice leading pair € euro and münchen"),
      (3L, "plain ascii control row with several tokens"),
      (4L, s"héllo wörld $smiley café naïve tokens here")) // dup of 1
      .toDF("doc_id", "text").cache()
    val rowForm = docs.as[DocText]
      .flatMap(d => graft.operators.Dedup.bandHitsLocal(d.text)
        .map { case (b, bk) => (d.doc_id, b, bk) })
      .toDF("doc_id", "band_id", "bucket")
    val batchForm = graft.operators.Dedup
      .minhashBands(graft.operators.Dedup.tokenRows(docs))
      .select(col("doc_id"), col("band_id"), col("bucket"))
    assert(rowForm.exceptAll(batchForm).isEmpty &&
      batchForm.exceptAll(rowForm).isEmpty,
      "compiled kernel diverges from the Column twin on non-ASCII text")
    docs.unpersist()
  }

  test("streaming flags equal the batch earlier-occupant condition") {
    val sf = graft.SparkTestSession.sf
    val out = EventStream.streamNearDupMinhash(spark, sf).cache()
    val docs = graft.Tables.load(spark, sf, "documents")
    // batch recompute of the same condition
    val bands = graft.operators.Dedup.minhashBands(graft.operators.Dedup.tokenRows(docs))
    val expect = bands.as("y")
      .join(bands.as("x"),
        col("x.band_id") === col("y.band_id") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"), "left_semi")
      .select(col("y.doc_id"), col("y.band_id")).distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_bands"))
    val joined = out.join(expect.withColumnRenamed("n_dup_bands", "n_exp"),
      Seq("doc_id"), "left")
      .withColumn("n_exp", coalesce(col("n_exp"), lit(0L)))
    assert(joined.filter(col("n_dup_bands") =!= col("n_exp")).isEmpty,
      "streaming band-dup counts diverge from the batch condition")
    // sanity: the corpus actually contains near-dups and non-dups
    val n = out.count()
    val nd = out.filter(col("is_dup") === 1).count()
    assert(nd > 0 && nd < n, s"degenerate corpus: $nd of $n flagged")
    out.unpersist()
  }

  test("TTL'd flags equal the lag-within-horizon condition, with bounded state") {
    val sf = graft.SparkTestSession.sf
    StreamMetrics.clear()
    StreamMetrics.enabled = true
    try {
      val out = EventStream.streamNearDupTtl(spark, sf).cache()
      val docs = graft.Tables.load(spark, sf, "documents")
      val mx = docs.agg(max("doc_id")).head().getLong(0)
      val w = EventStream.nearDupHorizon(mx)
      // batch recompute: previous occupant per bucket (lag in id
      // order), flagged iff within the horizon
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band_id"), col("bucket")).orderBy(col("doc_id"))
      val expect = graft.operators.Dedup
        .minhashBands(graft.operators.Dedup.tokenRows(docs))
        .withColumn("p", lag(col("doc_id"), 1).over(wl))
        .filter(col("p").isNotNull && col("doc_id") - col("p") <= w)
        .select(col("doc_id"), col("band_id")).distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_exp"))
      val joined = out.join(expect, Seq("doc_id"), "left")
        .withColumn("n_exp", coalesce(col("n_exp"), lit(0L)))
      assert(joined.filter(col("n_dup_bands_recent") =!= col("n_exp")).isEmpty,
        "TTL'd streaming counts diverge from the lag-horizon condition")
      // the TTL must actually narrow the flags vs dedup-against-all-history
      val full = EventStream.streamNearDupMinhash(spark, sf)
        .filter(col("is_dup") === 1).count()
      val recent = out.filter(col("is_dup_recent") === 1).count()
      assert(recent > 0 && recent < full,
        s"horizon had no effect: $recent recent vs $full all-history")
      // eviction bounds the registry: END state must be well under the
      // ~4-buckets-per-doc all-history registry (which never shrinks)
      val st = StreamMetrics.snapshot.values
        .find(_.query == "graft_stream_neardup_ttl")
      assert(st.nonEmpty, "state metrics not recorded")
      val allHistory = StreamMetrics.snapshot.values
        .find(_.query == "graft_stream_neardup")
      assert(allHistory.nonEmpty)
      assert(st.get.stateRows < allHistory.get.stateRows / 2,
        s"TTL registry ${st.get.stateRows} rows not bounded vs " +
          s"all-history ${allHistory.get.stateRows}")
      out.unpersist()
    } finally {
      StreamMetrics.enabled = false
      StreamMetrics.clear()
      EventStream.purgeStaging()
      spark.catalog.clearCache()
    }
  }
}
