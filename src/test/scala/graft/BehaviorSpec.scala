package graft

class SeqSupportSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("markov stationary matches a driver-side power iteration") {
    val sf = SparkTestSession.sf
    import graft.analytics.BehaviorQueries
    val cells = BehaviorQueries.transitions(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val types = Tables.load(spark, sf, "events")
      .select("event_type").distinct().collect().map(_.getString(0))
    val tot = cells.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    var pi = types.map(_ -> BehaviorQueries.mkScale / types.length).toMap
    for (_ <- 1 to BehaviorQueries.mkIters) {
      val in = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      cells.foreach { case ((f, t), c) =>
        in(t) += pi(f) * c / tot(f) // truncating, as in the plan
      }
      pi = types.map(t => t -> in(t)).toMap
    }
    val got = BehaviorQueries.markovStationary(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == pi)
    // a probability distribution up to truncation leak: total mass in
    // (scale - iters*cells, scale], every component non-negative
    val mass = got.values.sum
    assert(mass <= BehaviorQueries.mkScale)
    assert(mass > BehaviorQueries.mkScale -
      BehaviorQueries.mkIters.toLong * (cells.size + types.length))
    got.values.foreach(v => assert(v >= 0L))
  }

  test("sequential-pattern support equals brute-force subsequence counts") {
    val sf = SparkTestSession.sf
    val byUser = Tables.load(spark, sf, "events")
      .selectExpr("user_id", "event_type", "ts")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime))
      .groupBy(_._1)
      .map { case (u, es) =>
        u -> es.sortBy(e => (e._3, e._2)).map(e => (e._2, e._3))
      }
    // strict-< any-gap subsequence match, branching on ties so equal
    // timestamps can't fake a progression
    def hasSubStrict(seq: Array[(String, Long)], pat: Seq[String]): Boolean = {
      def go(i: Int, k: Int, last: Long): Boolean =
        if (k == pat.length) true
        else if (i == seq.length) false
        else if (seq(i)._1 == pat(k) && seq(i)._2 > last)
          go(i + 1, k + 1, seq(i)._2) || go(i + 1, k, last)
        else go(i + 1, k, last)
      go(0, 0, Long.MinValue)
    }
    val got = graft.analytics.BehaviorQueries.seqSupport(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val nUsers = byUser.size.toLong
    got.foreach { case (pat, (support, n)) =>
      assert(n == nUsers)
      val steps = pat.split(">").toSeq
      val ref = byUser.values.count(s => hasSubStrict(s, steps)).toLong
      assert(support == ref, s"$pat: $support vs brute $ref")
    }
    // Apriori monotonicity: extending a pattern can't gain support
    got.foreach { case (pat, (s3, _)) =>
      val steps = pat.split(">")
      if (steps.length == 3) {
        val (ab, bc) = (s"${steps(0)}>${steps(1)}", s"${steps(1)}>${steps(2)}")
        assert(s3 <= got(ab)._1 && s3 <= got(bc)._1, s"monotonicity $pat")
      }
    }
  }
}

import graft.analytics.{BehaviorQueries, JoinQueries, OlapQueries}
import graft.operators.Upsert
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 surface: behavior analytics (funnel / cohort / sliding
  * window), heavy hitters, SymSpell fuzzy join, winsorize, full MERGE. */
class BehaviorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = SparkTestSession.sf

  test("pattern match counts clean-path conversions, exclusion respected") {
    import spark.implicits._
    // user 1: c v p  c e p   -> first converts, second blocked by error
    // user 2: c c p          -> ONE match (regex consumes c..p greedily
    //                           from the first c; non-overlapping)
    // user 3: p c            -> purchase before click never matches
    val ev = Seq(
      (1L, 1L, "c"), (1L, 2L, "v"), (1L, 3L, "p"),
      (1L, 4L, "c"), (1L, 5L, "e"), (1L, 6L, "p"),
      (2L, 1L, "c"), (2L, 2L, "c"), (2L, 3L, "p"),
      (3L, 1L, "p"), (3L, 2L, "c")).toDF("user_id", "k", "c")
    val got = BehaviorQueries.patternMatchDf(ev, "c[^ep]*p").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (6L, 1L))
    assert(got(2L) == (3L, 1L))
    assert(got(3L) == (2L, 0L))
  }

  test("time-to-convert percentiles equal a driver-side sorted reference") {
    val sf = SparkTestSession.sf
    val got = BehaviorQueries.timeToConvert(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // reference: per-user first click, first later purchase, sort gaps
    val ev = graft.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"),
        date_trunc("second", col("ts")).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
    val firstClick = ev.filter(_._2 == "click").groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._3).min(Ordering.by((t: java.sql.Timestamp) => t.getTime)) }
    val gaps = firstClick.toSeq.flatMap { case (u, c1) =>
      val ps = ev.filter(e => e._1 == u && e._2 == "purchase"
        && e._3.getTime > c1.getTime)
      if (ps.isEmpty) None
      else Some((ps.map(_._3.getTime).min - c1.getTime) / 1000L)
    }.sorted
    val n = gaps.length.toLong
    def disc(q: Long): Long = gaps((math.ceil(q * n / 100.0) - 1).toInt)
    assert(got(50L) == (disc(50), n) && got(90L) == (disc(90), n))
    assert(n > 10) // distribution is non-trivial at every sf
  }

  test("linear attribution conserves purchase value up to quantization") {
    val sf = SparkTestSession.sf
    val out = BehaviorQueries.attributionLinear(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // driver-side reference over the bounded test corpus
    val keyScale = 100000000L
    val ev = Tables.load(spark, sf, "events")
      .selectExpr("user_id", "event_id", "event_type",
        "CAST(round(value * 100) AS BIGINT) AS cents",
        s"unix_timestamp(date_trunc('second', ts)) * ${keyScale}L + event_id AS k")
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4)))
    val byUser = ev.groupBy(_._1)
    val credits = scala.collection.mutable.Map
      .empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    byUser.values.foreach { rows =>
      val purchases = rows.filter(_._2 == "purchase")
      val touches = rows.filter(_._2 != "purchase")
      purchases.foreach { case (_, _, cents, pk) =>
        val win = touches.filter(t => t._4 >= pk - 3600L * keyScale && t._4 < pk)
        if (win.nonEmpty) {
          val share = 1000000L * cents / win.length
          win.foreach { case (_, tt, _, _) =>
            val (n, c) = credits(tt); credits(tt) = (n + 1, c + share)
          }
        }
      }
    }
    assert(out == credits.toMap)
    // every credited purchase's value splits exactly: per-purchase loss
    // to truncation is < n_touches micro-cents, and totals are positive
    assert(out.values.forall { case (n, c) => n > 0 && c > 0 })
  }

  test("stickiness ratios reconcile dau against the trailing-week wau") {
    val sf = SparkTestSession.sf
    val out = BehaviorQueries.dauStickiness(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    out.foreach { case (day, dau, wau, q) =>
      assert(dau >= 1 && dau <= wau, s"day $day: dau must not exceed wau")
      assert(q == 1000000L * dau / wau, s"day $day ratio")
    }
    // every day with events is present
    val nDays = Tables.load(spark, sf, "events")
      .selectExpr("CAST(ts AS DATE) AS d").distinct().count()
    assert(out.length == nDays)
  }

  test("user growth accumulates to the distinct-user total") {
    val sf = SparkTestSession.sf
    val out = BehaviorQueries.userGrowth(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val totalUsers = Tables.load(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(out.map(_._2).sum == totalUsers)
    assert(out.last._3 == totalUsers)
    // running total is the prefix sum of new users
    assert(out.map(_._2).scanLeft(0L)(_ + _).drop(1).toSeq ==
      out.map(_._3).toSeq)
  }

  test("funnel stages are monotonically non-increasing") {
    val rows = BehaviorQueries.funnel(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("view", "click_after_view", "purchase_after_click"))
    assert(rows("view") >= rows("click_after_view"))
    assert(rows("click_after_view") >= rows("purchase_after_click"))
    assert(rows("view") > 0)
  }

  test("transition matrix conserves mass: sum(cnt) == events - users") {
    val tr = BehaviorQueries.transitions(spark, SparkTestSession.sf)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getLong(2), r.getLong(3)))
    val ev = Tables.load(spark, SparkTestSession.sf, "events")
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    // each user's k-event sequence contributes exactly k-1 transitions
    assert(tr.map(_._2).sum == nEvents - nUsers)
    // edges are unique and user counts are bounded by edge counts
    assert(tr.map(_._1).distinct.length == tr.length)
    assert(tr.forall(t => t._3 <= t._2 && t._3 >= 1))
  }

  test("every event lands in exactly 4 sliding-window slots") {
    val out = BehaviorQueries.slidingWindow(spark, sf)
    val slotRows = out.agg(sum("cnt")).as[Long].head()
    val events = Tables.load(spark, sf, "events").count()
    assert(slotRows == 4 * events)
  }

  test("cohort retention covers every user exactly once at offset 0") {
    val out = BehaviorQueries.cohortRetention(spark, sf)
    val atZero = out.filter(col("week_offset") === 0)
      .agg(sum("users")).as[Long].head()
    val users = Tables.load(spark, sf, "events")
      .select("user_id").distinct().count()
    // every user is active in their own first week by definition
    assert(atZero == users)
  }

  test("Misra-Gries candidates contain every true heavy hitter under adversarial partitioning") {
    // plant a skewed stream: id 1 at 20%, ids 2..5 at 5% each, noise ids
    // unique — then repartition round-robin so hitters spread thin
    val n = 20000
    val planted = (0 until n).map { i =>
      if (i % 5 == 0) 1L
      else if (i % 20 >= 1 && i % 20 <= 4) (1L + i % 20) // ids 2..5, 5% each
      else 1000L + i
    }
    val ids = spark.createDataset(planted).repartition(13)
    val cands = OlapQueries.mgCandidates(ids, 256).as[Long].collect().toSet
    // true hitters above n/257 by construction: 1 (4000), 2..5 (~1000 each)
    for (hh <- Seq(1L, 2L, 3L, 4L, 5L))
      assert(cands.contains(hh), s"lost true hitter $hh")
  }

  test("heavy-hitter gate equals the exact groupBy answer") {
    val out = OlapQueries.heavyHitters(spark, sf)
      .as[(Long, Long)].collect().toMap
    val ev = Tables.load(spark, sf, "events")
    val total = ev.count()
    val exact = ev.groupBy("user_id").count()
      .filter(col("count") * 150 > lit(total))
      .as[(Long, Long)].collect().toMap
    assert(out == exact)
  }

  test("count-min estimates match a sequential sketch and never undercount") {
    val uids = Tables.load(spark, sf, "events")
      .select("user_id").collect().map(_.getLong(0))
    // sequential reference grid, same LCG rows
    val grid = Array.ofDim[Long](OlapQueries.cmsDepth, OlapQueries.cmsWidth.toInt)
    uids.foreach { u =>
      for (i <- 0 until OlapQueries.cmsDepth) {
        val b = ((OlapQueries.cmsA(i) * u + OlapQueries.cmsB(i)) % 2147483647L
          % OlapQueries.cmsWidth).toInt
        grid(i)(b) += 1
      }
    }
    val exact = uids.filter(_ < 50).groupBy(identity).map { case (u, xs) =>
      u -> xs.length.toLong
    }
    val got = OlapQueries.cmsFrequency(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got.keySet == exact.keySet)
    exact.foreach { case (u, cnt) =>
      val ref = (0 until OlapQueries.cmsDepth).map { i =>
        grid(i)(((OlapQueries.cmsA(i) * u + OlapQueries.cmsB(i)) % 2147483647L
          % OlapQueries.cmsWidth).toInt)
      }.min
      val (ex, est, ok) = got(u)
      assert(ex == cnt && est == ref && ok, s"user $u: ($ex,$est) vs ($cnt,$ref)")
      assert(est >= cnt, s"undercount for $u")
    }
    // every grid row preserves the stream total — the cell-wise
    // mergeability invariant
    (0 until OlapQueries.cmsDepth).foreach { i =>
      assert(grid(i).sum == uids.length, s"row $i lost counts")
    }
    // the sketch is lossy by construction once keys outnumber buckets;
    // sf0.001 has only ~15 distinct users, so only then demand a
    // visible collision among the queried keys
    if (uids.distinct.length > OlapQueries.cmsWidth)
      assert(got.exists { case (_, (ex, est, _)) => est > ex },
        "no collision — sketch not exercised")
  }

  test("fuzzy join equals the brute-force all-pairs answer") {
    val out = JoinQueries.fuzzyJoin(spark, sf)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    val names = Tables.load(spark, sf, "part")
      .select("p_name").distinct().as[String].collect()
    val brute = (for {
      a <- names; b <- names
      if a < b && levDist(a, b) <= 2
    } yield (a, b)).toSet
    assert(out == brute)
  }

  test("deletion neighborhood never misses a within-distance pair on random strings") {
    // property: for random mutations of a base string at edit distance
    // <= 2, the SymSpell join must pair mutant with base
    val rnd = new scala.util.Random(7)
    val base = "abcdefghij"
    def mutate(s: String, ops: Int): String = {
      var cur = s
      (0 until ops).foreach { _ =>
        val i = rnd.nextInt(math.max(cur.length, 1))
        cur = rnd.nextInt(3) match {
          case 0 if cur.nonEmpty => cur.substring(0, i) + cur.substring(math.min(i + 1, cur.length)) // delete
          case 1 => cur.substring(0, i) + ('k' + rnd.nextInt(10)).toChar + cur.substring(i) // insert
          case _ if cur.nonEmpty => cur.substring(0, i) + ('k' + rnd.nextInt(10)).toChar + cur.substring(math.min(i + 1, cur.length)) // substitute
          case _ => cur
        }
      }
      cur
    }
    val mutants = (1 to 40).map(i => mutate(base, 1 + i % 2)).distinct
      .filter(m => m != base && levDist(base, m) <= 2)
    assert(mutants.nonEmpty)
    val vocab = (base +: mutants).toDF("p_name")
    // reuse the gate's expansion by writing vocab as a part table stand-in
    val dir = graft.store.Staging.jvmDir("graft_fuzzy").toString
    vocab.withColumn("p_type", lit("T")).withColumn("p_brand", lit("B"))
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val pairs = JoinQueries.fuzzyJoin(spark, dir)
      .select("name_a", "name_b").as[(String, String)].collect().toSet
    mutants.foreach { m =>
      val p = if (base < m) (base, m) else (m, base)
      assert(pairs.contains(p), s"missed pair for mutant $m (dist ${levDist(base, m)})")
    }
  }

  test("winsorized values stay inside the group's [p05, p95] band") {
    val out = OlapQueries.winsorize(spark, sf).cache()
    val viol = out.groupBy("l_returnflag")
      .agg(min("price_w").as("lo"), max("price_w").as("hi"),
        min("l_extendedprice").as("rawLo"), max("l_extendedprice").as("rawHi"))
      .filter(col("lo") < col("rawLo") || col("hi") > col("rawHi"))
    assert(viol.count() == 0)
    // clamping must touch something at both ends (5% tails are non-empty)
    assert(out.filter(col("price_w") =!= col("l_extendedprice")).count() > 0)
    out.unpersist()
  }

  test("mergeFull applies delete/update/insert exactly") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "p")
    val changes = Seq(
      (1L, "D", null.asInstanceOf[String], null.asInstanceOf[java.lang.Double]),
      (2L, "U", "bb", java.lang.Double.valueOf(22.0)),
      (9L, "I", "new", java.lang.Double.valueOf(90.0)))
      .toDF("k", "op", "c_s", "c_p")
    val out = Upsert.mergeFull(base, changes, "k")
      .as[(Long, String, Double)].collect().toSet
    assert(out == Set((2L, "bb", 22.0), (3L, "c", 30.0), (9L, "new", 90.0)))
  }

  test("rfm: buckets in range, segment arithmetic holds, no sort/window in plan") {
    val spark = SparkTestSession.spark
    val df = analytics.BehaviorQueries.rfm(spark, SparkTestSession.sf)
    // value-based quintiles need no total order: the plan must carry
    // neither a window nor a global sort (the whole point vs ntile)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"), plan)
    assert(!plan.contains("SortExec"), plan)
    val rows = df.collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (rb, fb, mb, seg) =
        (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
      assert(rb >= 1 && rb <= 5 && fb >= 1 && fb <= 5 && mb >= 1 && mb <= 5)
      assert(seg == rb * 100 + fb * 10 + mb)
    }
    // the population genuinely spreads across buckets on each axis
    assert(rows.map(_.getLong(4)).distinct.length >= 2)
    assert(rows.map(_.getLong(6)).distinct.length >= 3)
  }

  test("markov attribution equals a sequential chain-solve reference") {
    val sf = SparkTestSession.sf
    // journeys rebuilt independently: (user, day) ordered walks,
    // truncated at the first purchase
    val evs = Tables.load(spark, sf, "events")
      .selectExpr("user_id", "to_date(ts) AS day", "event_type",
        "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.get(1).toString, r.getString(2),
        r.getTimestamp(3).getTime, r.getLong(4)))
    val cells = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    evs.groupBy(e => (e._1, e._2)).foreach { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._4, r._5)).map(_._3).toSeq
      val cut = ordered.indexOf("purchase")
      val walk = if (cut >= 0) ordered.take(cut + 1) else ordered
      ("(start)" +: walk).sliding(2).foreach { p =>
        if (p.length == 2) cells((p(0), p(1))) = cells((p(0), p(1))) + 1L
      }
      if (cut < 0) cells((walk.last, "(end)")) = cells((walk.last, "(end)")) + 1L
    }
    val channels = BehaviorQueries.markovChannels
    val states = "(start)" +: channels
    val tot = states.map(s =>
      s -> cells.collect { case ((a, _), c) if a == s => c }.sum).toMap
    def solve(removed: Option[String]): Long = {
      var v = Map.empty[String, Long].withDefaultValue(0L)
      for (_ <- 1 to BehaviorQueries.markovRounds) {
        val prev = v
        v = states.filterNot(removed.contains).map { s =>
          val conv = cells((s, "purchase")) * 1000000000L
          val acc = channels.filterNot(removed.contains)
            .map(c => cells((s, c)) * prev(c)).sum
          s -> (if (tot(s) == 0L) 0L else (conv + acc) / tot(s))
        }.toMap.withDefaultValue(0L)
      }
      v("(start)")
    }
    val base = solve(None)
    val want = (("(none)", base, 0L) +: channels.map { c =>
      val vc = solve(Some(c))
      (c, vc, 1000000L * (base - vc) / base)
    }).toSet
    val out = BehaviorQueries.attributionMarkov(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == want)
    // removal can only lose conversions, and every channel matters
    out.filter(_._1 != "(none)").foreach { case (c, vc, re) =>
      assert(vc <= base && re >= 0, s"channel $c")
    }
  }

  test("shapley attribution equals a sequential coalition reference and is efficient") {
    val sf = SparkTestSession.sf
    val evs = Tables.load(spark, sf, "events")
      .selectExpr("user_id", "to_date(ts) AS day", "event_type",
        "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.get(1).toString, r.getString(2),
        r.getTimestamp(3).getTime, r.getLong(4)))
    val channels = BehaviorQueries.markovChannels
    val co = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      .withDefaultValue((0L, 0L))
    evs.groupBy(e => (e._1, e._2)).foreach { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._4, r._5)).map(_._3).toSeq
      val cut = ordered.indexOf("purchase")
      val walk = if (cut >= 0) ordered.take(cut + 1) else ordered
      val mask = channels.zipWithIndex
        .map { case (c, i) => if (walk.contains(c)) 1L << i else 0L }.sum
      val (n, nc) = co(mask)
      co(mask) = (n + 1, nc + (if (cut >= 0) 1L else 0L))
    }
    def v(m: Long): Long =
      co.get(m).map { case (n, nc) => 1000000000L * nc / n }.getOrElse(0L)
    val w24 = Array(6L, 2L, 2L, 6L)
    val want = channels.zipWithIndex.map { case (c, i) =>
      val cBit = 1L << i
      c -> (0L until 16L).filter(s => (s & cBit) == 0L)
        .map(s => w24(java.lang.Long.bitCount(s)) * (v(s | cBit) - v(s)))
        .sum
    }.toMap
    val out = BehaviorQueries.attributionShapley(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == want)
    // efficiency axiom on the full lattice: credits sum to
    // v(grand coalition) - v(empty) exactly when all 16 coalitions are
    // observed (they are on this corpus)
    if ((0L until 16L).forall(co.contains))
      assert(out.values.sum == 24L * (v(15L) - v(0L)))
  }

  private def levDist(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
