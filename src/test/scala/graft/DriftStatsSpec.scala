package graft

import graft.analytics.{StatsQueries, TimeSeries}
import graft.functions.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the round-6 drift/uncertainty gates: PSI, KS,
  * Poisson bootstrap, CUSUM changepoint, blocklist. Oracle parity is
  * the driver's job; these pin the mathematical invariants that hold
  * for ANY corpus, so a refactor that silently changes semantics (not
  * just values) fails by name. */
class DriftStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("psi cells: bounded frame, consistent marginals, non-negative") {
    val rows = StatsQueries.psiDrift(spark, sf).collect()
    val types = rows.map(_.getString(0)).distinct
    assert(rows.length <= types.length * StatsQueries.psiBins)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) < StatsQueries.psiBins)
      assert(r.getLong(8) >= 0L, "psi cell must be non-negative")
    }
    // per-type marginals: bin counts sum to the published totals
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sum == rs.head.getLong(4))
      assert(rs.map(_.getLong(3)).sum == rs.head.getLong(5))
    }
  }

  test("ks statistic lands in [0, 1e6] and covers every event type") {
    val ev = Tables.load(spark, sf, "events")
    val rows = StatsQueries.ksTwoSample(spark, sf).collect()
    assert(rows.length ==
      ev.select("event_type").distinct().count())
    val counts = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
      assert(r.getLong(1) + r.getLong(2) == counts(r.getString(0)))
    }
  }

  test("poisson bootstrap: B deterministic replicates near full mass") {
    val a = StatsQueries.poissonBootstrap(spark, sf).collect()
      .sortBy(_.getLong(0))
    val b = StatsQueries.poissonBootstrap(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(a.length == StatsQueries.bootReps)
    assert(a.map(_.getLong(0)).toSeq == (0L until StatsQueries.bootReps).toSeq)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      "bootstrap must be run-to-run deterministic")
    val n = Tables.load(spark, sf, "orders").count()
    a.foreach { r =>
      val eff = r.getLong(1)
      assert(eff > n * 8 / 10 && eff < n * 12 / 10,
        s"Poisson(1) replicate mass $eff far from n=$n")
    }
  }

  test("cusum: telescopes to zero, at least one peak per series") {
    val rows = TimeSeries.cusumChangepoint(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (prio, rs) =>
      // day loads as TIMESTAMP_NTZ; ISO toString orders chronologically
      val last = rs.maxBy(_.get(1).toString)
      assert(last.getLong(3) == 0L,
        s"$prio: n·S_n must be exactly 0, got ${last.getLong(3)}")
      assert(rs.exists(_.getBoolean(4)), s"$prio: no peak flagged")
    }
  }

  test("novelty: min doc owns everything, owned counts partition grams") {
    val rows = TextAnalysis.ngramNovelty(spark, sf).collect()
    val minDoc = rows.map(_.getLong(0)).min
    val first = rows.find(_.getLong(0) == minDoc).get
    assert(first.getLong(3) == 1000000L,
      "the smallest doc_id must own all its shingles")
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    // every distinct corpus gram has exactly one owner
    val totalOwned = rows.map(_.getLong(2)).sum
    val distinctGrams = graft.operators.Dedup
      .shingleRows(graft.operators.Dedup.tokenRows(
        Tables.load(spark, sf, "documents")))
      .select("g").distinct().count()
    assert(totalOwned == distinctGrams)
  }

  test("pca power iterate: unit-q6 normalized, Rayleigh near reference") {
    val rows = graft.operators.GramMatrix.pcaPower(spark, sf).collect()
    assert(rows.length == 64)
    assert(rows.map(r => math.abs(r.getLong(1))).max == 1000000L,
      "final iterate must be renormalized to max |v| = 1e6")
    val lam = rows.head.getLong(2).toDouble / 1e6
    assert(lam > 0.0, "Gram matrix is PSD; dominant eigenvalue > 0")
    // double-precision reference power iteration on the same Gram
    val d = 64
    val g = Array.ofDim[Double](d, d)
    graft.operators.GramMatrix.gram(spark, sf).collect().foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      g(i)(j) = r.getLong(2).toDouble
      g(j)(i) = r.getLong(2).toDouble
    }
    var x = Array.fill(d)(1.0)
    for (_ <- 1 to 400) {
      val y = Array.tabulate(d)(i =>
        (0 until d).map(j => g(i)(j) * x(j)).sum)
      val n = math.sqrt(y.map(v => v * v).sum)
      x = y.map(_ / n)
    }
    val refLam = (0 until d).map(i =>
      x(i) * (0 until d).map(j => g(i)(j) * x(j)).sum).sum
    assert(math.abs(lam - refLam) / refLam < 0.01,
      s"q6 Rayleigh $lam vs double reference $refLam")
  }

  test("stream psi snapshot: non-negative cells, consistent marginals") {
    val rows = graft.streaming.StreamDrift.streamPsi(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(8) >= 0L, "psi cell must be non-negative")
      assert(r.getLong(2) >= 0L && r.getLong(2) < StatsQueries.psiBins)
    }
    rows.groupBy(r => (r.get(0), r.getString(1))).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(3)).sum == rs.head.getLong(5),
        "per-(day,type) cell counts must sum to n_day")
    }
  }

  test("blocklist: verdict consistent, full doc coverage") {
    val rows = TextAnalysis.blocklistFilter(spark, sf).collect()
    assert(rows.length == Tables.load(spark, sf, "documents").count())
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2),
        "instance hits must dominate distinct terms")
      assert(r.getBoolean(3) == (r.getLong(1) == 0L))
    }
    assert(rows.exists(_.getLong(1) > 0L), "fixture should have hits")
  }
}
