package graft

import graft.functions.TextAnalysis
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class TextAnalysisSpec extends AnyFunSuite {

  test("termCodes uses code points, matching the SQL length/ascii pair") {
    // SQL length() counts code points and ascii() returns the first
    // code point (both Spark and DuckDB); the compiled twin must not
    // fall back to UTF-16 String.length/charAt, which double-count
    // supplementary characters and return surrogate halves.
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val smiley = new String(Character.toChars(0x1F600)) // non-BMP
    val text = s"héllo $smiley ${smiley}x café plain"
    val sqlForm = Seq(text).toDF("text")
      .select(explode(split(col("text"), " ")).as("t"))
      .select((length(col("t")) * 7 +
        coalesce(ascii(col("t")), lit(0))).cast("long"))
      .as[Long].collect()
    assert(TextAnalysis.termCodes(text).toSeq == sqlForm.toSeq,
      "compiled termCodes diverges from the SQL rendering")
  }

  test("winnowing guarantee: a shared k+w-1 token run forces a shared print") {
    import graft.functions.TextAnalysis.{winnowK => k, winnowW => w, winnowSelect}
    // SWA 2003 theorem 1: any common substring of >= k+w-1 tokens
    // contains a full selection window of identical k-gram hashes, so
    // both documents select (at least) one fingerprint from it.
    // Deterministic LCG corpus: 200 random doc pairs with a shared
    // passage of exactly k+w-1 tokens planted at random offsets.
    var seed = 12345L
    def nxt(m: Int): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % m) + m).toInt % m }
    for (_ <- 1 to 200) {
      def randToks(n: Int) = Array.fill(n)(nxt(1000).toLong)
      val passage = randToks(k + w - 1)
      val (a0, b0) = (randToks(nxt(30) + k + w), randToks(nxt(30) + k + w))
      val (ia, ib) = (nxt(a0.length), nxt(b0.length))
      val a = a0.take(ia) ++ passage ++ a0.drop(ia)
      val b = b0.take(ib) ++ passage ++ b0.drop(ib)
      val shared = winnowSelect(a, k, w) & winnowSelect(b, k, w)
      assert(shared.nonEmpty, "guaranteed shared fingerprint missing")
    }
    // degenerate inputs select nothing rather than crash
    assert(winnowSelect(Array.fill(k + w - 1)(1L), k, w).nonEmpty)
    assert(winnowSelect(Array.fill(k + w - 2)(1L), k, w).isEmpty)
    assert(winnowSelect(Array.empty[Long], k, w).isEmpty)
  }

  test("winnowing pairs equal the set-intersection counts of rare prints") {
    val spark = SparkTestSession.spark
    val sf = SparkTestSession.sf
    val fps = graft.functions.TextAnalysis.winnowing(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dfm = fps.groupBy(_._2).view.mapValues(_.length).toMap
    val cap = graft.functions.TextAnalysis.winnowDfCap
    val byDoc = fps.filter(t => dfm(t._2) <= cap)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ids = byDoc.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      shared = (byDoc(ids(i)) & byDoc(ids(j))).size.toLong
      if shared >= graft.functions.TextAnalysis.winnowMinShared
    } yield (ids(i), ids(j), shared)).toSet
    val out = graft.functions.TextAnalysis.winnowingPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == want)
  }

  test("winnowing fingerprints match a sequential reference selection") {
    val spark = SparkTestSession.spark
    val sf = SparkTestSession.sf
    val out = graft.functions.TextAnalysis.winnowing(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val (k, w) = (graft.functions.TextAnalysis.winnowK,
      graft.functions.TextAnalysis.winnowW)
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.flatMap { case (id, text) =>
      val tm = text.split(" ", -1).map(t =>
        t.length.toLong * 7 + (if (t.isEmpty) 0 else t.charAt(0).toInt))
      if (tm.length < k + w) None
      else {
        val kg = tm.sliding(k).map(
          _.foldLeft(0L)((acc, x) => (acc * 31 + x) % 1000000007L)).toArray
        Some(id -> kg.sliding(w).map(_.min).toSet)
      }
    }.toMap
    assert(out == want)
    // selection is a strict, non-empty subsample of the k-gram hashes
    assert(want.values.forall(_.nonEmpty))
  }

  lazy val spark = SparkTestSession.spark

  test("token stats: n_tokens/n_distinct/n_chars agree with Scala") {
    val docs = Tables.load(spark, SparkTestSession.sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextAnalysis.textStats(spark, SparkTestSession.sf).collect()
    got.take(50).foreach { r =>
      val t = docs(r.getLong(0)).split(" ", -1)
      assert(r.getLong(1) == t.length)
      assert(r.getLong(2) == t.distinct.length)
      assert(r.getLong(3) == docs(r.getLong(0)).length)
    }
  }

  test("quality: ratios bounded and class consistent") {
    val rows = TextAnalysis.textQuality(spark, SparkTestSession.sf).collect()
    rows.foreach { r =>
      val ratio = r.getDouble(3)
      assert(ratio >= 0.0 && ratio <= 1.0)
      val keep = r.getString(5) == "keep"
      assert(keep == (r.getLong(1) >= 40 && r.getLong(2) > 0))
    }
  }

  test("langid: prediction always one of the supported tags") {
    val rows = TextAnalysis.langId(spark, SparkTestSession.sf).collect()
    val tags = Set("en", "es", "de", "fr", "und")
    assert(rows.forall(r => tags.contains(r.getString(6))))
  }

  test("fingerprint is deterministic and order-sensitive") {
    import spark.implicits._
    val a = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c"))
      .toDF("doc_id", "text").createOrReplaceTempView("tmp_fp")
    val fps = TextAnalysis.fingerprint(spark, SparkTestSession.sf)
    // corpus-level: rerun equals itself
    val x = fps.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val y = fps.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(x == y)
  }

  test("tfidf ranks a doc's unique term above corpus-wide terms") {
    import org.apache.spark.sql.functions._
    val out = TextAnalysis.tfIdf(spark, SparkTestSession.sf)
    // rn is 1..3 per doc and scores are non-increasing within a doc
    val rows = out.collect().groupBy(_.getLong(0))
    rows.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(5))
      assert(sorted.map(_.getLong(5)).toSeq == (1L to sorted.length))
      val scores = sorted.map(_.getDouble(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // a term appearing in exactly one doc (df = 1) must outrank any
    // term with the same tf and higher df in that doc
    val top = out.filter(col("rn") === 1).collect()
    assert(top.nonEmpty)
  }

  test("cleanText lowercases, masks digits, strips punct, collapses space") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val got = Seq("  Hello,  WORLD!! 42 times...  ")
      .toDF("text").select(TextAnalysis.cleanText(col("text"))).collect()(0).getString(0)
    assert(got == "hello world 00 times")
  }

  test("quality score decomposes into its integer rules") {
    val sf = SparkTestSession.sf
    val score = TextAnalysis.qualityScore(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val stats = TextAnalysis.textStats(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val quality = TextAnalysis.textQuality(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap // stop_cnt
    score.foreach { case (id, (s, keep)) =>
      assert(s >= 0 && s <= 8)
      assert(keep == (s >= 6))
      // recompute the three cheap rules from independently-gated stats
      val (nTok, nDis) = stats(id)
      val expected3 =
        (if (nTok >= 20 && nTok <= 1000) 2L else 0L) +
          (if (quality(id) * 20 >= nTok) 3L else 0L) +
          (if (nDis * 2 >= nTok) 2L else 0L)
      assert(s == expected3 || s == expected3 + 1, s"doc $id score $s")
    }
  }

  test("gopher rules recompute sequentially and show real keep/drop signal") {
    val sf = SparkTestSession.sf
    val got = TextAnalysis.gopherRules(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6),
        r.getBoolean(7)))).toMap
    val texts = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    texts.foreach { case (id, text) =>
      val t = text.split(" ", -1)
      val n = t.length.toLong
      val charSum = t.map(_.length.toLong).sum
      val sym = t.count(x => x.contains("#") || x.contains("...")).toLong
      val alpha = t.count(_.exists(_.isLetter)).toLong
      val stops = TextAnalysis.gopherStops.count(t.contains(_)).toLong
      val (gn, rc, rw, rs, ra, rst, keep) = got(id)
      assert(gn == n, s"doc $id n_tok")
      assert(rc == (n >= 50 && n <= 100000), s"doc $id r_count")
      assert(rw == (charSum >= 3 * n && charSum <= 10 * n), s"doc $id r_word_len")
      assert(rs == (sym * 10 <= n), s"doc $id r_symbol")
      assert(ra == (alpha * 5 >= 4 * n), s"doc $id r_alpha")
      assert(rst == (stops >= TextAnalysis.gopherMinStops), s"doc $id r_stops")
      assert(keep == (rc && rw && rs && ra && rst), s"doc $id keep")
    }
    val keeps = got.values.count(_._7)
    assert(keeps > 0 && keeps < got.size,
      s"no signal: $keeps of ${got.size} kept")
  }

  test("pii redaction masks planted email/ip/phone and counts them") {
    import spark.implicits._
    val raw = Seq(
      "mail me at jane.doe+spam@mail.example.org today",
      "server 192.168.0.1 and 10.0.0.255 rebooted",
      "call 555-867-5309 now",
      "no pii in this sentence at all").toDF("s")
    val out = raw.select(
      graft.functions.TextAnalysis.redactPii(col("s")).as("r")).collect()
      .map(_.getString(0))
    assert(out(0) == "mail me at <EMAIL> today")
    assert(out(1) == "server <IP> and <IP> rebooted")
    assert(out(2) == "call <PHONE> now")
    assert(out(3) == "no pii in this sentence at all")
    // corpus gate: exactly one planted instance of each class per doc
    val gate = graft.functions.TextAnalysis
      .piiRedact(spark, SparkTestSession.sf).collect()
    assert(gate.nonEmpty)
    gate.foreach { r =>
      assert(r.getLong(1) == 1L && r.getLong(2) == 1L && r.getLong(3) == 1L,
        s"doc ${r.getLong(0)}: expected one email/ip/phone each, got $r")
      val red = r.getString(4)
      assert(red.contains("<EMAIL>") && red.contains("<IP>")
        && red.contains("<PHONE>"))
      assert(!red.contains("@") && !red.matches(".*\\d{3}-\\d{3}-\\d{4}.*"))
    }
  }

  test("repetition ratio is 0 for unique trigrams, rises with repeats") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),                 // 3 distinct trigrams, no repeats
      (2L, "x y x y x y x y")            // heavy repetition
    ).toDF("doc_id", "text")
    assert(TextAnalysis.textRepetition(spark, SparkTestSession.sf).count() > 0)
    val rep = {
      import org.apache.spark.sql.functions._
      graft.operators.Dedup.shingleRows(graft.operators.Dedup.tokenRows(docs))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"), countDistinct(col("g")).as("d")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(rep(1L) == ((3L, 3L)))   // ratio 0
    assert(rep(2L)._2 == 2L)        // only "x y x" and "y x y" distinct
  }

  test("pmi phrase flag equals exact big-integer cross-multiplication") {
    import org.apache.spark.sql.functions._
    val n = Tables.load(spark, SparkTestSession.sf, "documents")
      .select(explode(split(col("text"), " "))).count()
    val out = TextAnalysis.cooccurrence(spark, SparkTestSession.sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (cxy, cx, cy, flag) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))
      assert(cxy >= TextAnalysis.pmiMinCount)
      // support never exceeds either word's count
      assert(cxy <= cx && cxy <= cy)
      assert(flag == (BigInt(cxy) * BigInt(n) >= 2 * BigInt(cx) * BigInt(cy)))
    }
  }

  test("bpe-ish tokens tile the text exactly; fertility >= 1") {
    val out = TextAnalysis.tokensBpe(spark, SparkTestSession.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val lens = Tables.load(spark, SparkTestSession.sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.nonEmpty)
    out.foreach { case (id, nBpe, nWords, tiled, fert) =>
      // the pattern is exhaustive over the charset: matches cover every
      // character exactly once
      assert(tiled == lens(id).toLong, s"doc $id tiles $tiled != ${lens(id)}")
      // a subword tokenizer never merges across spaces here
      assert(nBpe >= nWords && fert >= 1.0, s"doc $id fertility $fert")
    }
  }

  test("inverted index: full df, capped sorted postings, exact on a reference corpus") {
    val out = TextAnalysis.invertedIndex(spark, SparkTestSession.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.nonEmpty)
    out.foreach { case (term, df, postings) =>
      val ids = postings.split(",").map(_.toLong)
      assert(ids.length == math.min(df, TextAnalysis.invCap.toLong),
        s"term $term df=$df stored ${ids.length}")
      assert(ids.sameElements(ids.sorted), s"term $term postings unsorted")
      assert(ids.distinct.length == ids.length, s"term $term dup postings")
    }
    // exact reference on the corpus: df equals the distinct-doc count
    // per term, postings are the smallest invCap doc_ids
    val ref = Tables.load(spark, SparkTestSession.sf, "documents")
      .select("doc_id", "text").collect()
      .flatMap(r => r.getString(1).split(" ").distinct
        .map(t => t -> r.getLong(0)))
      .groupBy(_._1).map { case (t, xs) =>
        t -> xs.map(_._2).sorted.toSeq }
    assert(out.length == ref.size)
    out.foreach { case (term, df, postings) =>
      assert(df == ref(term).length.toLong, s"term $term df")
      assert(postings == ref(term).take(TextAnalysis.invCap).mkString(","),
        s"term $term postings")
    }
  }

  test("flog2 is the exact floor of log2 over a wide range") {
    import spark.implicits._
    val got = (1L to 4100L).toDF("n")
      .select(TextAnalysis.flog2(org.apache.spark.sql.functions.col("n")))
      .collect().map(_.getLong(0))
    (1L to 4100L).zip(got).foreach { case (n, f) =>
      assert(f == (63 - java.lang.Long.numberOfLeadingZeros(n)).toLong,
        s"flog2($n)")
    }
  }

  test("lm score: bits match a sequential unigram model on the corpus") {
    val docs = Tables.load(spark, SparkTestSession.sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val uni = docs.flatMap(_._2).groupBy(identity).map { case (t, xs) =>
      t -> xs.length.toLong }
    val n = uni.values.sum
    def fl(x: Long): Long = (63 - java.lang.Long.numberOfLeadingZeros(x)).toLong
    val expected = docs.map { case (id, toks) =>
      id -> toks.map(t => fl(n) - fl(uni(t))).sum
    }.toMap
    val got = TextAnalysis.lmScore(spark, SparkTestSession.sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == expected.size)
    got.foreach { case (id, (nTok, bits)) =>
      assert(nTok == docs.find(_._1 == id).get._2.length.toLong)
      assert(bits == expected(id), s"doc $id")
    }
  }

  test("char entropy: zero for one-symbol runs, positive for diverse text") {
    val rows = TextAnalysis.charEntropy(spark, SparkTestSession.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, num, bits) =>
      assert(num >= 0L, s"doc $id negative entropy numerator")
      assert(math.abs(bits - num.toDouble / n.toDouble) < 1e-12)
    }
    // independent check on one doc: recompute from the raw text
    val (id0, text0) = {
      val r = Tables.load(spark, SparkTestSession.sf, "documents")
        .select("doc_id", "text").head()
      (r.getLong(0), r.getString(1))
    }
    def fl(x: Long): Long = (63 - java.lang.Long.numberOfLeadingZeros(x)).toLong
    val counts = text0.toSeq.groupBy(identity).values.map(_.length.toLong)
    val n0 = counts.sum
    val expected = n0 * fl(n0) - counts.map(c => c * fl(c)).sum
    val got0 = rows.find(_._1 == id0).get
    assert(got0._3 == expected, s"doc $id0 entropy numerator")
  }

  test("bpe training matches a sequential reference implementation") {
    val spark = SparkTestSession.spark
    // reference: classic sequential BPE over the word-count vocab
    val wc = scala.collection.mutable.Map.empty[String, Long]
    Tables.load(spark, SparkTestSession.sf, "documents")
      .select("text").collect()
      .flatMap(_.getString(0).split(" "))
      .foreach(w => wc(w) = wc.getOrElse(w, 0L) + 1)
    var vocab: Map[Vector[String], Long] =
      wc.toMap.map { case (w, c) => w.split("").toVector -> c }
    val refMerges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    for (_ <- 1 to TextAnalysis.bpeMergeRounds) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- vocab; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1)); pc(k) = pc.getOrElse(k, 0L) + c
      }
      val ((a, b), c) = pc.toSeq.sortBy { case ((x, y), n) => (-n, x, y) }.head
      refMerges += ((a, b, c))
      // greedy left-to-right non-overlapping application
      vocab = vocab.map { case (syms, n) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += a + b; i += 2
          } else { out += syms(i); i += 1 }
        }
        out.toVector -> n
      }.groupMapReduce(_._1)(_._2)(_ + _)
    }
    val got = TextAnalysis.bpeTrain(spark, SparkTestSession.sf)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == refMerges.toSeq, s"got $got\nref $refMerges")
  }
}
