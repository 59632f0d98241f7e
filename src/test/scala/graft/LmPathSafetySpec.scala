package graft

import graft.analytics.BehaviorQueries
import graft.functions.TextAnalysis
import graft.operators.{Dedup, Multimodal, TrainPrep}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for bigram LM scoring, activity streaks, perceptual-hash
  * near-dup, and the cluster-safe (near-dup-leakage-free) split. */
class LmPathSafetySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("bigram LM: bits match a sequential add-one model") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val vocabV = toks.flatMap(_._2).distinct.size.toLong
    val bigrams = toks.flatMap { case (id, ts) =>
      ts.zip(ts.drop(1)).map(p => (id, p)) }
    val cb = bigrams.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val cp = bigrams.groupBy(_._2._1).map { case (k, v) => k -> v.size.toLong }
    def flog2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val expect = bigrams.groupBy(_._1).map { case (id, bs) =>
      id -> (bs.size.toLong, bs.map { case (_, p) =>
        flog2(cp(p._1) + vocabV) - flog2(cb(p) + 1) }.sum)
    }
    val got = TextAnalysis.lmBigramScore(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect)
    // shuffled text should surprise the bigram model more than intact
    // text of the same tokens — the signal unigram LM cannot see
  }

  test("streaks match a sequential islands reference") {
    val days = Tables.load(spark, sf, "events")
      .select(col("user_id"),
        expr("unix_timestamp(date_trunc('DAY', ts)) DIV 86400").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = days.groupBy(_._1).map { case (u, ds) =>
      val sorted = ds.map(_._2).sorted
      val runs = sorted.foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, d) if d == e + 1 => (s, d) :: rest
        case (acc, d) => (d, d) :: acc
      }.reverse
      val best = runs.maxBy(r => (r._2 - r._1 + 1, -r._1))
      u -> (runs.size.toLong, sorted.size.toLong,
        best._2 - best._1 + 1, best._1)
    }
    val got = BehaviorQueries.streaks(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDate(4).toLocalDate.toEpochDay)).toMap
    assert(got == expect)
  }

  test("phash banding finds every Hamming<=3 probe pair (pigeonhole)") {
    val raw = Multimodal.assets(spark, sf).collect()
    val h = raw.map(a => (a.asset_id, a.kind, Multimodal.aHash64(a.payload)))
    val probes = raw.collect { case a if a.asset_id % 10 == 0 =>
      (a.asset_id, a.kind,
        Multimodal.aHash64(Multimodal.reencodeJitter(a.payload)))
    }
    val expect = (for {
      (ai, ak, ah) <- probes
      (bi, bk, bh) <- h
      if ak == bk && java.lang.Long.bitCount(ah ^ bh) <= 3
    } yield (ai, bi)).toSet
    val got = Multimodal.phashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect && got.nonEmpty)
    // a re-encoded probe recovers its own original
    assert(got.exists { case (a, b) => a == b })
  }

  test("cluster-safe split: near-dup clusters never straddle folds") {
    val split = TrainPrep.clusterSafeSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(split.length ==
      Tables.load(spark, sf, "documents").count())
    // one fold per cluster, by construction AND by check
    split.groupBy(_._2).values.foreach(g =>
      assert(g.map(_._3).distinct.length == 1))
    // folds match the LCG of the cluster id
    split.foreach { case (_, cl, fold) =>
      assert(fold == ((cl * 1103515245L + 12345L) % 2000000011L) % 10) }
    // every LSH candidate pair shares a fold (the leakage guarantee)
    val docs = Tables.load(spark, sf, "documents")
    val byDoc = split.map(s => s._1 -> s._3).toMap
    val pairs = Dedup.minhashCandidates(Dedup.tokenRows(docs),
      cap = Int.MaxValue).collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r =>
      assert(byDoc(r.getLong(0)) == byDoc(r.getLong(1))))
  }
}
