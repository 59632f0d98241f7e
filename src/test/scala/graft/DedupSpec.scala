package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {

  test("per-source dup rates reconcile with the corpus and exact dedup") {
    val spark = SparkTestSession.spark
    val sf = SparkTestSession.sf
    val out = graft.operators.Dedup.dupRateBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(out.map(_._2).sum == nDocs, "doc counts must cover the corpus")
    // survivors across sources == global distinct contents
    val nContents = graft.operators.Dedup.exactDedup(spark, sf).count()
    assert(out.map(_._4).sum == nContents)
    out.foreach { case (s, docs, uniq, surv, rate) =>
      assert(surv <= uniq && uniq <= docs, s"$s ordering")
      assert(rate == 1000000L * (docs - uniq) / docs, s"$s rate")
    }
  }

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 64-token doc; near-dup differs in ONE token (trigram jaccard ~0.9,
  // which 4 bands x 4 rows detects with p ~0.99 and these fixed
  // permutations detect deterministically), plus an unrelated doc.
  val base: String = (1 to 64).map(i => s"tok$i").mkString(" ")
  val near: String = (1 to 64).map(i => if (i == 60) "CHANGED" else s"tok$i")
    .mkString(" ")
  val other: String = (1 to 64).map(i => s"other$i").mkString(" ")

  def docs = Seq(
    (0L, base), (1L, base), // exact dups
    (2L, near),
    (3L, other)
  ).toDF("doc_id", "text")

  test("method agreement equals a set recompute of the two pair sets") {
    val spark = SparkTestSession.spark
    val sf = SparkTestSession.sf
    val docs = Tables.load(spark, sf, "documents")
    val tr = graft.operators.Dedup.tokenRows(docs)
    val mh = graft.operators.Dedup
      .minhashCandidates(tr, cap = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = graft.operators.Dedup
      .simhashCandidates(tr, cap = graft.operators.Dedup.simPairsGateCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val row = graft.operators.Dedup.methodAgreement(spark, sf)
      .collect().head
    val both = (mh & sh).size.toLong
    assert(row.getLong(0) == mh.size && row.getLong(1) == sh.size
      && row.getLong(2) == both)
    if ((mh | sh).nonEmpty)
      assert(row.getLong(3) == 1000000 * both / (mh | sh).size)
    // intersection bounds published as containments
    if (mh.nonEmpty) assert(row.getLong(4) == 1000000 * both / mh.size)
    if (sh.nonEmpty) assert(row.getLong(5) == 1000000 * both / sh.size)
  }

  test("exact dedup keeps smallest doc_id per identical text") {
    val out = Dedup.exactDedup(spark, SparkTestSession.sf)
    // corpus has no exact dups: every group has cnt == 1
    assert(out.filter($"cnt" =!= 1).isEmpty)
    // planted dups collapse
    val planted = docs.groupBy(sha2($"text", 256).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("cnt"))
    assert(planted.filter($"cnt" === 2 && $"keep_id" === 0).count() == 1)
  }

  test("minhash LSH finds exact and near duplicates as candidates") {
    val cands = Dedup.minhashCandidates(Dedup.tokenRows(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 1L)), "exact dup pair must be a candidate")
    assert(cands.contains((0L, 2L)) || cands.contains((1L, 2L)),
      "near dup should share at least one band")
    assert(!cands.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair")
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val sig = Dedup.simhashSigs(Dedup.tokenRows(docs)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) == sig(1L))
    val h02 = java.lang.Long.bitCount(sig(0L) ^ sig(2L))
    val h03 = java.lang.Long.bitCount(sig(0L) ^ sig(3L))
    assert(h02 < h03, s"near-dup hamming $h02 should be < unrelated $h03")
    assert(h02 <= 12)
  }

  test("reproducible char-poly hash matches a reference fold (oracle parity)") {
    import spark.implicits._
    // reference implementation of the zero-padded fixed-width fold the
    // DuckDB oracle expresses via list_reduce
    def ref(s: String, mult: Long, m: Long): Long = {
      var acc = 0L
      (0 until Dedup.polyWidth).foreach { i =>
        val c = if (i < s.length) s.charAt(i).toLong else 0L
        acc = (acc * mult + c) % m
      }
      acc
    }
    val samples = Seq("", "a", "hello world", "the quick brown fox",
      "x" * 30 /* > polyWidth: truncates */, "Zy 9!", "caf test")
    val got = samples.toDF("tok")
      .select(Dedup.charPolyHash(org.apache.spark.sql.functions.col("tok"),
        31L, 2000000011L).as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == samples.map(ref(_, 31L, 2000000011L)))
  }

  test("reproducible minhash/simhash gates agree with production on dup detection") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup
      (3L, "totally different content words here now okay fine"))
      .toDF("doc_id", "text")
    // identical docs must share ALL band buckets, unrelated ones none
    val tr = Dedup.tokenRows(docs)
    val bands = Dedup.minhashBands(tr)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getInt(1), r.getLong(2))).toSet).toMap
    assert(bands(1L) == bands(2L))
    assert((bands(1L) & bands(3L)).isEmpty)
    val sh = Dedup.simhashSigs(tr)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(3L))
  }

  test("dup clustering propagates min id across multi-hop chains") {
    import spark.implicits._
    // chain 10-11-12, pair 20-21, singletons 30/31: transitive closure
    // must pull 12 down to cluster 10 even though (10,12) is no pair
    val nodes = Seq(10L, 11L, 12L, 20L, 21L, 30L, 31L).toDF("doc_id")
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("da", "db")
    val got = Dedup.dupClustersStar(nodes, pairs)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 31L))
  }

  test("star-alternation clustering matches union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val n = 200
    val edgeSet = (0 until 150).map { _ =>
      val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edgeSet.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val (labels, _) = Dedup.dupClustersStar(
      (0L until n.toLong).toDF("doc_id"), edgeSet.toDF("da", "db"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("star alternation converges in O(log n) rounds on a 500-node path") {
    import spark.implicits._
    val n = 500
    // worst case for label propagation: diameter n-1, needs ~n rounds;
    // the star alternation must stay logarithmic
    val pathEdges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("da", "db")
    val (labels, rounds) = Dedup.dupClustersStar(
      (0L until n.toLong).toDF("doc_id"), pathEdges)
    assert(labels.collect().forall(_.getLong(1) == 0L))
    val bound = 4 * (math.log(n) / math.log(2)).ceil.toInt
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
  }

  test("oversized LSH buckets fall back to O(n) star pairing") {
    import org.apache.spark.sql.functions._
    // 40 identical docs land in the same buckets in every band
    val flood = spark.range(40)
      .select(col("id").as("doc_id"), lit(base).as("text"))
    val pairs = Dedup.minhashCandidates(Dedup.tokenRows(flood), cap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // star pattern: every doc pairs with doc 0 only -> 39 pairs,
    // not 40*39/2 = 780
    assert(pairs.length == 39, s"got ${pairs.length}")
    assert(pairs.forall(_._1 == 0L))
  }

  test("minhash signature plan has exactly one exchange (the doc_id agg)") {
    val plan = Dedup.minhashSigs(
      Dedup.tokenRows(Tables.load(spark, SparkTestSession.sf, "documents")))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    // shingle generation is shuffle-free (explode + element_at); the
    // only exchange is the signature aggregation keyed by doc_id
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("simhash chunk banding surfaces near-dups; hot buckets star-cap") {
    import spark.implicits._
    // base, its exact dup, `near` and `other`, plus every single-token
    // edit of base (`near` is the edit at token 60). One changed token
    // moves a signature by a data-dependent distance, so the check is
    // the sketch's contract against brute force over the signatures,
    // not one planted pair's distance.
    def edit(i: Int) = (1 to 64).map(j => if (j == i) "CHANGED" else s"tok$j")
      .mkString(" ")
    val corpus = Seq((0L, base), (1L, base), (2L, near), (3L, other)) ++
      (1 to 64).map(i => (100L + i, edit(i)))
    val tr = Dedup.tokenRows(corpus.toDF("doc_id", "text"))
    // cap >= n: no bucket star-caps, so the candidates are exactly the
    // pairs sharing a 12-bit chunk within simMaxDist
    val pairs = Dedup.simhashCandidates(tr, cap = corpus.length).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val sig = Dedup.simhashSigs(tr).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def chunks(s: Long) = (0 until Dedup.simChunks).map(c => (s >>> (12 * c)) & 4095L)
    val dist = (for {
      a <- sig.keys; b <- sig.keys if a < b
    } yield (a, b) -> java.lang.Long.bitCount(sig(a) ^ sig(b)).toLong).toMap
    val want = dist.filter { case ((a, b), d) =>
      d <= Dedup.simMaxDist &&
        chunks(sig(a)).zip(chunks(sig(b))).exists { case (x, y) => x == y }
    }
    assert(pairs == want)
    assert(pairs((0L, 1L)) == 0L)          // identical: distance 0
    // pigeonhole completeness: within simChunks - 1 bits, every pair
    // shares a chunk — and some edits of base really sit that close
    val close = dist.filter(_._2 <= Dedup.simChunks - 1).keySet
    assert(close.subsetOf(pairs.keySet))
    assert(close.exists { case (a, b) => a == 0L && b > 100L },
      "no single-token edit within simChunks - 1 bits: check is vacuous")
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // duplicate flood: all 40 docs share every chunk; cap 10 -> star
    val flood = spark.range(40)
      .select(org.apache.spark.sql.functions.col("id").as("doc_id"),
        org.apache.spark.sql.functions.lit(base).as("text"))
    val fp = Dedup.simhashCandidates(Dedup.tokenRows(flood), cap = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(fp.length == 39 && fp.forall(_._1 == 0L), s"got ${fp.length}")
  }

  test("block dedup flags repeated passages, first occurrence survives") {
    import spark.implicits._
    val boiler = (1 to 16).map(i => s"b$i").mkString(" ")   // one full block
    val uniqueA = (1 to 16).map(i => s"a$i").mkString(" ")
    val uniqueC = (1 to 16).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      1L -> s"$uniqueA $boiler",     // first corpus occurrence of boiler
      2L -> s"$uniqueC $boiler",     // duplicate passage inside unique doc
      3L -> s"$boiler $boiler",      // internal repetition
      4L -> "tiny tail").toDF("doc_id", "text")
    val out = graft.operators.Dedup.blockDedupDf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (2L, 0L))      // doc 1 owns both its blocks
    assert(out(2L) == (2L, 1L))      // boiler block already seen in doc 1
    assert(out(3L) == (2L, 2L))      // both instances follow doc 1's
    assert(out(4L) == (1L, 0L))      // sub-width doc still forms one block
  }

  test("block rewrite drops duplicate passages and reassembles in order") {
    import spark.implicits._
    val boiler = (1 to 16).map(i => s"b$i").mkString(" ")
    val uniqueA = (1 to 16).map(i => s"a$i").mkString(" ")
    val uniqueC = (1 to 16).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      1L -> s"$uniqueA $boiler",     // first corpus occurrence of boiler
      2L -> s"$boiler $uniqueC",     // duplicate passage LEADS the doc
      3L -> s"$boiler $boiler",      // fully-duplicate doc vanishes
      4L -> "tiny tail").toDF("doc_id", "text")
    val out = graft.operators.Dedup.blockRewriteDf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) == (2L, s"$uniqueA $boiler")) // untouched, order kept
    assert(out(2L) == (1L, uniqueC))             // leading dup removed
    assert(!out.contains(3L))                    // nothing survives
    assert(out(4L) == (1L, "tiny tail"))
    // global invariant on the real corpus: kept instances == distinct
    // blocks (every block text survives exactly once, somewhere)
    val docsSf = graft.Tables.load(spark, SparkTestSession.sf, "documents")
    val kept = graft.operators.Dedup.blockRewriteDf(docsSf)
      .agg(org.apache.spark.sql.functions.sum("n_kept")).collect()(0).getLong(0)
    val rep = graft.operators.Dedup.blockDedupDf(docsSf)
      .agg(org.apache.spark.sql.functions.sum("n_blocks"),
        org.apache.spark.sql.functions.sum("n_dup")).collect()(0)
    assert(kept == rep.getLong(0) - rep.getLong(1))
  }

  test("cross-source matrix bins every candidate pair exactly once") {
    val sf = SparkTestSession.sf
    val got = graft.operators.Dedup.crossSourceDup(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // driver reference: collect the candidate pairs + source map, bin
    val docs = graft.Tables.load(spark, sf, "documents")
    val srcOf = docs
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = graft.operators.Dedup
      .minhashCandidates(Dedup.tokenRows(docs), cap = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = pairs
      .map { case (a, b) =>
        val Seq(x, y) = Seq(srcOf(a), srcOf(b)).sorted; (x, y)
      }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == want)
    assert(got.values.sum == pairs.length.toLong)
    assert(got.nonEmpty)
  }

  test("exact trigram jaccard on corpus is within [0, 1] and symmetric keys ordered") {
    val out = Dedup.jaccardExact(spark, SparkTestSession.sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getDouble(3) >= 0 && r.getDouble(3) <= 1.0))
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("jaccard verifier computes exact similarity for given candidate pairs") {
    import spark.implicits._
    val vdocs = Seq((0L, base), (1L, base), (2L, near), (3L, other))
      .toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("da", "db")
    val got = Dedup.jaccardVerify(vdocs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got((0L, 1L))._2 == 1.0)                      // identical
    // one changed token kills 3 of 62 trigrams: inter = 59, union = 65
    assert(got((0L, 2L)) == ((59L, 59.0 / 65.0)))
    assert(got((0L, 3L)) == ((0L, 0.0)))                 // disjoint
  }

  test("hot shingle shared by 200 docs causes no d-squared pair blowup") {
    import spark.implicits._
    // 200 docs share ONE boilerplate trigram but are otherwise unique.
    // The old shingle-keyed self-join emitted 200*199/2 ~ 19900 rows on
    // that single key; the candidate-driven path only ever pays for LSH
    // candidates, and one shared trigram out of ~10 never agrees on a
    // whole minhash band.
    val hot = (0 until 200).map { i =>
      (i.toLong, s"COMMON HOT TRIGRAM u${i}a u${i}b u${i}c u${i}d u${i}e " +
        s"u${i}f u${i}g u${i}h u${i}i u${i}j")
    }.toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(Dedup.tokenRows(hot))
    val nCands = cands.count()
    assert(nCands < 200, s"candidate pairs must stay near-linear, got $nCands")
    // verifier output is exactly candidate-bounded — no blowup inside
    assert(Dedup.jaccardVerify(hot, cands).count() == nCands)
  }

  test("prefix-filtered set-similarity join equals brute force; hot token skips prefixes") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 80 docs over a 60-token vocab, 12-24 distinct tokens each, plus a
    // boilerplate token "the" present in EVERY doc (the naive-join
    // skew bomb), plus planted near-identical pairs.
    val vocab = (0 until 60).map(i => s"w$i")
    val bodies = (0 until 80).map { i =>
      val n = 12 + rnd.nextInt(13)
      val toks = rnd.shuffle(vocab).take(n) :+ "the"
      (i.toLong, toks.mkString(" "))
    }
    val planted = Seq(
      (100L, "the " + (0 until 20).map(i => s"w$i").mkString(" ")),
      (101L, "the " + (0 until 19).map(i => s"w$i").mkString(" ") + " w59"))
    val corpus = (bodies ++ planted).toDF("doc_id", "text")
    val got = Dedup.setSimJoin(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // driver-side brute force over distinct token sets
    val sets = (bodies ++ planted).map { case (id, t) => id -> t.split(" ").toSet }
    val expected = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      i = (sa & sb).size; u = (sa | sb).size
      if Dedup.setSimDen * i >= Dedup.setSimNum * u
    } yield (ia, ib, i.toLong, u.toLong)).toSet
    assert(got == expected)
    assert(got.exists(p => p._1 == 100L && p._2 == 101L),
      "planted near-identical pair must be found")
    // the universal token never enters any prefix: with num/den = 7/10
    // a prefix covers only the rarest ~30% of a doc's tokens, and "the"
    // has the maximum df — so the candidate join stays skew-free even
    // though a token-keyed naive join would emit ~80*79/2 rows on "the"
    val tokDf = corpus.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val dfreq = tokDf.groupBy("tok").agg(count(lit(1)).as("df"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    val wSz = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val prefToks = tokDf.join(dfreq, "tok")
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("sz", count(lit(1)).over(wSz))
      .filter(lit(Dedup.setSimNum) * col("sz")
        <= lit(Dedup.setSimDen) * (col("sz") - col("rn") + 1))
    assert(prefToks.filter(col("tok") === "the").count() == 0)
  }

  test("incremental dedup covers the delta once; flags are consistent") {
    val out = Dedup.incrementalDedup(spark, SparkTestSession.sf)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
    val docs = Tables.load(spark, SparkTestSession.sf, "documents")
    val deltaCount = docs.filter(pmod(col("doc_id"), lit(3)) === 0).count()
    assert(out.length == deltaCount)
    // novel is exactly the complement of (exact or near)
    assert(out.forall { case (_, ex, nr, nv) => nv == !(ex || nr) })
    // an exact dup with >= 3 tokens shares the full signature -> near too
    val longDocs = docs.filter(size(split(col("text"), " ")) >= 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.filter(t => longDocs(t._1))
      .forall { case (_, ex, nr, _) => !ex || nr })
    // the corpus plants cross-split duplicates: some of each class exist
    assert(out.exists(_._3), "expected at least one near-dup vs base")
    assert(out.exists(_._4), "expected novel docs")
  }

  test("substring dedup catches alignment-shifted passages block dedup misses") {
    // a 16-token boilerplate passage embedded at offset 0 in doc 10 and
    // offset 5 in doc 11: the passage straddles doc 11's first block
    // boundary, so disjoint 16-token blocks see two never-repeated
    // halves — but exactly one stride-1 window in doc 11 equals the
    // passage, so the overlapping-window form must flag it
    val passage = (1 to 16).map(i => s"boiler$i")
    val d10 = passage ++ (1 to 16).map(i => s"ten$i")
    val d11 = (1 to 5).map(i => s"eleven$i") ++ passage ++
      (1 to 11).map(i => s"tail$i")
    val planted = Seq((10L, d10.mkString(" ")), (11L, d11.mkString(" ")))
      .toDF("doc_id", "text")
    val sub = Dedup.substringDedupDf(planted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // window census: a T-token doc has T-15 stride-1 windows
    assert(sub(10L)._1 == d10.length - 15 && sub(11L)._1 == d11.length - 15)
    assert(sub(10L)._2 == 0, "first occurrence never counts as dup")
    assert(sub(11L)._2 == 1, "exactly the shifted passage window repeats")
    val blk = Dedup.blockDedupDf(planted).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(blk(11L) == 0, "disjoint blocks must miss the straddling passage")
  }

  test("containment join: subset doc found, prefix filter is lossless") {
    // doc 20's tokens are a strict subset of doc 21's (containment 1.0,
    // Jaccard 20/60 = 0.33 — below the setSim threshold); doc 22 shares
    // half of 20's tokens (containment 0.5, below 0.9)
    val small = (1 to 20).map(i => s"w$i")
    val big = (1 to 60).map(i => s"w$i")
    val half = (1 to 10).map(i => s"w$i") ++ (1 to 10).map(i => s"z$i")
    val planted = Seq((20L, small.mkString(" ")), (21L, big.mkString(" ")),
      (22L, half.mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.containmentJoin(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.contains((20L, 21L, 20L)), "subset doc must be contained")
    assert(!out.exists(p => p._1 == 22L), "half overlap is below threshold")
    assert(!out.exists(p => p._1 == 21L), "superset is not contained in subset")
    // losslessness: brute-force containment over the planted corpus
    val sets = Map(20L -> small.toSet, 21L -> big.toSet, 22L -> half.toSet)
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a != b
      inter = (sets(a) & sets(b)).size
      if 10L * inter >= 9L * sets(a).size
    } yield (a, b, inter.toLong)).toSet
    assert(out == brute)
  }

  test("canonical selection keeps exactly one highest-quality doc per cluster") {
    val out = Dedup.canonicalQuery(spark, SparkTestSession.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val docs = Tables.load(spark, SparkTestSession.sf, "documents").count()
    // total coverage: every document appears exactly once
    assert(out.length == docs)
    // exactly one keeper per cluster
    val byCluster = out.groupBy(_._2)
    assert(byCluster.forall { case (_, ms) => ms.count(_._3) == 1 })
    // the keeper has the max score in its cluster (ties -> smallest id)
    val scores = graft.functions.TextAnalysis
      .qualityScore(spark, SparkTestSession.sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byCluster.foreach { case (_, ms) =>
      val keeper = ms.find(_._3).get
      val best = ms.map(m => (scores(m._1), m._1)).sortBy(t => (-t._1, t._2)).head
      assert(keeper._1 == best._2)
    }
  }

  test("minhash calibration: curve reconciles against the exact verifier") {
    val sf = SparkTestSession.sf
    val curve = Dedup.minhashCalibration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(curve.nonEmpty)
    val totalPairs = curve.map(_._2).sum
    // the curve partitions the candidate set of the exact-verify gate
    val nCandidates = Dedup.jaccardExact(spark, sf).count()
    assert(totalPairs == nCandidates)
    curve.foreach { case (agree, n, si, su, mj) =>
      assert(agree >= 0 && agree <= 16 && n > 0)
      assert(mj == 1000000L * si / su, s"micro-average at agree=$agree")
      // the estimator tracks exact similarity: est error under 6/16
      assert(math.abs(agree * 62500L - mj) <= 375000L,
        s"calibration off at agree=$agree: est ${agree * 62500} vs $mj")
    }
  }
}
