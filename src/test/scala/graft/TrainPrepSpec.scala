package graft

import graft.operators.TrainPrep
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TrainPrepSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("upsample balances source token mass and numbers copies densely") {
    val sf = SparkTestSession.sf
    val out = TrainPrep.upsample(spark, sf).cache()
    // copy ids are dense 0..n-1 per doc, and every doc appears
    val perDoc = out.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), min("copy_id").as("lo"),
        max("copy_id").as("hi")).collect()
    assert(perDoc.forall(r => r.getLong(2) == 0L
      && r.getLong(3) == r.getLong(1) - 1))
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(perDoc.length == nDocs, "every document must keep >= 1 copy")
    // upsampled token mass per source lands within one max-doc of the
    // biggest source's mass in EXPECTATION; deterministically it is
    // >= stot (at least one full copy) and the largest source is
    // exactly unchanged
    val mass = out.groupBy("source").agg(sum("n_tokens").as("up"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = Tables.load(spark, sf, "documents")
      .selectExpr("source", "CAST(size(split(text, ' ')) AS LONG) AS n")
      .groupBy("source").agg(sum("n").as("stot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxSrc = base.maxBy(_._2)
    assert(mass(maxSrc._1) == maxSrc._2, "largest source must not inflate")
    base.foreach { case (s, stot) =>
      assert(mass(s) >= stot, s"$s lost mass")
      assert(mass(s) <= 2L * maxSrc._2, s"$s overshot the target")
    }
  }

  test("token budget cut equals the sequential prefix-sum selection") {
    val sf = SparkTestSession.sf
    val out = TrainPrep.tokenBudget(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // sequential reference: global sort by (prio desc, doc_id), running
    // sum, keep while cum * 2 <= total — the single-task plan the
    // banded prefix sum replaces
    val t = graft.functions.TextAnalysis.tokens(col("text"))
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), size(t).cast("long").as("n_tokens"),
        expr("1000000 * CAST(size(filter(split(text, ' '), " +
          "x -> array_contains(array('the','a','of','and','to','in','is')," +
          " x))) AS BIGINT) DIV size(split(text, ' '))").as("prio_q6"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ordered = docs.sortBy { case (id, _, p) => (-p, id) }
    val total = docs.map(_._2).sum
    var cum = 0L
    val want = ordered.flatMap { case (id, n, p) =>
      cum += n
      if (cum * 2 <= total) Some((id, n, p, cum)) else None
    }.toSet
    assert(out.toSet == want)
    assert(want.nonEmpty && want.size < docs.length,
      "budget cut must be a strict, non-empty subset")
  }

  test("content-hash split sends byte-identical duplicates to the same split") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"), // dup of 1
      (3L, "a completely different document body goes here now"),
      (4L, "a completely different document body goes here now")) // dup of 3
      .toDF("doc_id", "text")
    val m = TrainPrep.splitAssign(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m(1L) == m(2L), "split leaked a duplicate")
    assert(m(3L) == m(4L), "split leaked a duplicate")
  }

  test("split fractions on the corpus are near 80/10/10") {
    val counts = TrainPrep.splitQuery(spark, SparkTestSession.sf)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    assert(counts("train") / total > 0.7 && counts("train") / total < 0.9)
    assert(counts.keySet == Set("train", "valid", "test"))
  }

  test("stratified sample keeps exactly ceil(frac * n) rows per stratum") {
    val docs = Tables.load(spark, SparkTestSession.sf, "documents")
    val strata = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = TrainPrep.stratifiedSample(docs, "lang", 0.2)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.keySet == strata.keySet)
    kept.foreach { case (lang, k) =>
      assert(k == math.ceil(0.2 * strata(lang)).toLong,
        s"$lang kept $k of ${strata(lang)}")
    }
  }

  test("mixture sample keeps ceil(weight * n) rows per source") {
    val docs = Tables.load(spark, SparkTestSession.sf, "documents")
    val bySource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = TrainPrep.mixtureSample(docs, TrainPrep.mixWeights, TrainPrep.mixDefault)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.foreach { case (src, n) =>
      val w = TrainPrep.mixWeights.getOrElse(src, TrainPrep.mixDefault)
      assert(kept.getOrElse(src, 0L) == math.ceil(w * n).toLong, src)
    }
  }

  test("packing matches a sequential reference fold and respects the budget") {
    val docs = Tables.load(spark, SparkTestSession.sf, "documents")
    val got = TrainPrep.packSequences(docs).collect()
      .map(p => p.doc_id -> (p.shard, p.bin_id, p.n_tokens)).toMap
    // reference: greedy fill per shard in doc_id order, on the driver
    val ref = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tk")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy { case (id, _) => id % TrainPrep.packShards }
    ref.foreach { case (shard, members) =>
      var bin = 0L; var cum = 0L
      members.sortBy(_._1).foreach { case (id, tk) =>
        if (cum > 0 && cum + tk > TrainPrep.packBudget) { bin += 1; cum = 0L }
        cum += tk
        assert(got(id) == ((shard, bin, tk)), s"doc $id")
      }
    }
    // no bin over budget unless it holds a single oversized doc
    val binSums = got.values.groupBy(v => (v._1, v._2))
      .map { case (k, vs) => k -> (vs.map(_._3).sum, vs.size) }
    binSums.foreach { case (k, (sum, n)) =>
      assert(sum <= TrainPrep.packBudget || n == 1, s"bin $k sum $sum n $n")
    }
  }

  test("oversized documents get a bin of their own") {
    val docs = Seq(
      (0L, Seq.fill(300)("w").mkString(" ")), // 300 tokens > 256 budget
      (8L, Seq.fill(100)("x").mkString(" ")), // same shard 0
      (16L, Seq.fill(100)("y").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TrainPrep.packSequences(docs).collect()
      .map(p => p.doc_id -> p.bin_id).toMap
    assert(got(0L) == 0L)   // oversized alone in bin 0
    assert(got(8L) == 1L)   // next doc opens a new bin
    assert(got(16L) == 1L)  // 100 + 100 <= 256 stays in bin 1
  }

  test("deterministic shuffle: full cover, bounded shards, dense positions") {
    val sf = SparkTestSession.sf
    val out = TrainPrep.shuffleQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = Tables.load(spark, sf, "documents").count()
    assert(out.length == n && out.map(_._1).distinct.length == n)
    assert(out.forall(t => t._3 >= 0 && t._3 < TrainPrep.shuffleShards))
    // positions are 1..|shard| dense, ordered by the permutation key
    out.groupBy(_._3).foreach { case (_, members) =>
      val sorted = members.sortBy(m => (m._2, m._1))
      assert(sorted.map(_._4).toSeq == (1L to members.length).toSeq)
    }
    // the permutation actually shuffles: doc order != key order
    val byKey = out.sortBy(m => (m._2, m._1)).map(_._1).toSeq
    assert(byKey != byKey.sorted)
  }

  test("pipeline composite equals the intersection of its gated stages") {
    val sf = SparkTestSession.sf
    val spark2 = spark
    val pipe = TrainPrep.pipelineQuery(spark2, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val surv = graft.operators.Dedup.exactDedup(spark2, sf)
      .collect().map(_.getLong(1)).toSet
    val clean = graft.operators.Decontaminate.decontaminate(spark2, sf)
      .filter("NOT contaminated").collect().map(_.getLong(0)).toSet
    val kept = graft.functions.TextAnalysis.qualityScore(spark2, sf)
      .filter("keep").collect().map(_.getLong(0)).toSet
    val split = TrainPrep.splitQuery(spark2, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val expected = surv & clean & kept
    assert(pipe.keySet == expected)
    pipe.foreach { case (id, s) => assert(s == split(id)) }
    assert(pipe.nonEmpty && pipe.size < split.size)
  }

  test("curate keeps only dedup survivors passing the quality gate") {
    val out = TrainPrep.curate(spark, SparkTestSession.sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(2) >= 40 && r.getLong(3) > 0))
    // survivors are unique docs
    val ids = out.map(_.getLong(0))
    assert(ids.distinct.length == ids.length)
  }

  test("perplexity buckets: quartile split orders head <= middle <= tail") {
    val rows = TrainPrep.pplBuckets(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(rows.nonEmpty)
    val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    // middle may be empty on a tiny fixture when score ties straddle
    // both quartiles; head/tail cannot (<= P25 / >= P75 each capture
    // at least a quarter of rows, ties included)
    assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
    assert(byBucket.contains("head") && byBucket.contains("tail"))
    assert(byBucket("head").max <= byBucket("tail").min + 1e-12)
    byBucket.get("middle").foreach { mid =>
      assert(byBucket("head").max <= mid.min + 1e-12)
      assert(mid.max <= byBucket("tail").min + 1e-12)
    }
    // no count floors: on this fixture 95% of docs tie on one score
    // and the CASE sends threshold ties to head, so bucket sizes are
    // distribution-dependent; the partition must still be total
    assert(byBucket.values.map(_.length).sum == rows.length)
  }

  test("temperature mixing keeps ceil(sqrt(n_lang * n_min)) per language") {
    val docs = Tables.load(spark, SparkTestSession.sf, "documents")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sizes = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nMin = sizes.values.min
    val got = TrainPrep.mixTemperature(spark, SparkTestSession.sf).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(4)))
    val kept = got.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    sizes.foreach { case (lang, n) =>
      val expected = math.ceil(math.sqrt((n * nMin).toDouble)).toLong
      assert(kept.getOrElse(lang, 0L) == expected, s"lang $lang")
      assert(got.filter(_._1 == lang).forall(_._3 == expected), s"keep_n $lang")
    }
    // the smallest language keeps everything
    val minLang = sizes.minBy(_._2)._1
    assert(kept(minLang) == sizes(minLang))
  }

  test("source cap equals the sequential per-source top-k by LCG priority") {
    val docs = Tables.load(spark, SparkTestSession.sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def pri(id: Long): Long = (id * 1103515245L + 12345L) % 2147483648L
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, xs) =>
      xs.map(_._1).sortBy(id => (-pri(id), id))
        .take(TrainPrep.sourceCapK)
        .zipWithIndex
        .map { case (id, i) => (src, (i + 1).toLong, id, pri(id)) }
    }.toSet
    val got = TrainPrep.sourceCap(spark, SparkTestSession.sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
    // no source exceeds the cap
    got.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.size <= TrainPrep.sourceCapK, s"source $src over cap")
    }
  }

  test("weighted sample equals the sequential weighted-priority top-k") {
    val docs = Tables.load(spark, SparkTestSession.sf, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def pri(id: Long, nc: Long): Long =
      ((id * 1103515245L + 12345L) % 2147483648L) * (1L + nc % 10L)
    val expected = docs
      .map { case (id, nc) => (id, 1L + nc % 10L, pri(id, nc)) }
      .sortBy { case (id, _, p) => (-p, id) }
      .take(TrainPrep.weightedK).toSet
    val got = TrainPrep.weightedQuery(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    // selection skews toward heavy weights: the kept mean weight must
    // exceed the corpus mean (weights 1..10, uniform-ish hash draws)
    val keptMean = got.toSeq.map(_._2).sum.toDouble / got.size
    val corpusMean = docs.map(d => 1L + d._2 % 10L).sum.toDouble / docs.length
    assert(keptMean > corpusMean, s"kept=$keptMean corpus=$corpusMean")
  }

  test("chunking covers every token, aligns to the stride, rebuilds the doc") {
    val docs = Tables.load(spark, SparkTestSession.sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val chunks = TrainPrep.chunkQuery(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc.keySet == docs.keySet)
    for ((id, text) <- docs) {
      val toks = text.split(" ", -1)
      val cs = byDoc(id).sortBy(_._2)
      // starts are 0, stride, ... while < n
      assert(cs.map(_._3).toSeq ==
        (0L until toks.length.toLong by TrainPrep.chunkStride).toSeq)
      for ((_, _, start, nChunk, ctext) <- cs) {
        val exp = toks.slice(start.toInt,
          math.min(start.toInt + TrainPrep.chunkWidth, toks.length))
        assert(nChunk == exp.length)
        assert(ctext == exp.mkString(" "))
      }
      // stride-aligned reconstruction: dropping each chunk's overlap
      // tail re-concatenates to the document
      val rebuilt = cs.map { case (_, _, start, _, ctext) =>
        ctext.split(" ", -1).take(TrainPrep.chunkStride)
      }.flatten
      assert(rebuilt.toSeq == toks.toSeq)
    }
  }

  test("dsir separates a planted distribution shift; uniform corpus scores 0") {
    // planted two-vocabulary corpus: target-language docs draw from a
    // disjoint vocabulary, so the log ratio is large and whole-bit
    // quantization cannot hide it
    val prose = Seq("river", "meadow", "willow", "amber", "lantern")
    val code = Seq("mutex", "opcode", "segfault", "syscall", "endian")
    def doc(id: Long, vocab: Seq[String], lang: String) =
      (id, (0 until 40).map(i => vocab((i + id.toInt) % vocab.size))
        .mkString(" "), lang)
    val docs = ((0L until 30L).map(doc(_, prose, "en"))
      ++ (30L until 60L).map(doc(_, code, "de")))
      .toDF("doc_id", "text", "lang")
    val scored = TrainPrep.dsirScoreDocs(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val proseScores = (0L until 30L).map(scored)
    val codeScores = (30L until 60L).map(scored)
    // every prose doc outranks every code doc — code-vocab buckets
    // never appear in the target model, so code docs carry no target
    // evidence at all, while prose docs score log(N_r/N_t) > 0 bits
    // per token
    assert(proseScores.min > codeScores.max,
      s"prose=${proseScores.min} code=${codeScores.max}")
    assert(proseScores.forall(_ > 0))

    // real corpus: every doc is scored (census form), and the shared
    // 31-token near-uniform vocabulary means NO distribution shift —
    // the correct importance weight is exactly 0 everywhere (sub-bit
    // wobble rounds away under floor-log2)
    val real = TrainPrep.dsirScore(spark, SparkTestSession.sf).collect()
    assert(real.length ==
      Tables.load(spark, SparkTestSession.sf, "documents").count())
    assert(real.forall(_.getLong(2) == 0L))
    assert(real.forall(_.getLong(1) > 0L)) // but every doc has features
  }
}
