package graft.analytics

import graft.Tables
import graft.Tables.dsum
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-behavior analytics over the `events` stream table — the three
  * standard product-analytics shapes a pipeline owner asks of any
  * event store (the reference's scheduled-ingest domain feeds exactly
  * this kind of table):
  *
  *  - FUNNEL: how many users progress view -> click -> purchase, where
  *    each stage must happen strictly after the previous stage's first
  *    occurrence;
  *  - COHORT RETENTION: users bucketed by first-seen week, activity
  *    counted per (cohort, week-offset) cell;
  *  - SLIDING WINDOW: overlapping (1h window / 15min hop) event-time
  *    aggregation — the batch twin of the streaming hop-window query.
  *
  * Scale shapes: every join here is keyed on `user_id` (shuffle hash
  * join, no broadcast assumption — user cardinality at 100 TB is
  * billions); stage frames are per-user aggregates, so each round of
  * the funnel is one hash-agg + one keyed join. The sliding window
  * relies on Spark's native `window(ts, dur, hop)` slot generator —
  * rows expand map-side by exactly dur/hop slots, then one hash
  * aggregation; no self-join, no range join. */
object BehaviorQueries extends graft.GateModule {

  /** RFM customer segmentation — the retention-marketing workhorse:
    * per user, Recency (days since last purchase, against the corpus
    * max purchase timestamp), Frequency (purchase count), Monetary
    * (cents sum), each bucketed into VALUE-BASED quintiles against the
    * exact percentile edges of the user population, plus the familiar
    * 3-digit segment code (5 = best on every axis).
    *
    * Deliberately NOT `ntile`: a global ntile is a total order over
    * all users — a single-partition sort at billion-user scale.
    * Percentile-edge bucketing is the agg_equidepth shape instead: one
    * per-user hash agg, one exact-percentile aggregate producing FOUR
    * edges per metric (scalar subquery — broadcasts, no sort), and a
    * map-side comparison per user. Exact-percentile interpolation
    * agrees across engines (pinned by `agg_percentiles`); recency is
    * integer epoch-day arithmetic; monetary is exact cents; edge ties
    * land deterministically on the lower bucket in both engines. Users
    * sharing a metric value share a bucket (the honest semantics of
    * value-based quantiles under ties). */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir, "events")
    val qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
    def above(c: String, arr: String) = (1 to 4)
      .map(k => s"(CASE WHEN $c > element_at($arr, $k) THEN 1L ELSE 0L END)")
      .mkString(" + ")
    def below(c: String, arr: String) = (1 to 4)
      .map(k => s"(CASE WHEN $c < element_at($arr, $k) THEN 1L ELSE 0L END)")
      .mkString(" + ")
    spark.sql(
      s"""WITH p AS (
         |  SELECT user_id, unix_timestamp(ts) AS es,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |u AS (
         |  SELECT user_id,
         |    CAST(((SELECT max(es) FROM p) - max(es)) DIV 86400 AS BIGINT)
         |      AS recency_days,
         |    count(1) AS frequency,
         |    CAST(sum(cents) AS BIGINT) AS monetary_cents
         |  FROM p GROUP BY user_id),
         |b AS (
         |  SELECT u.*,
         |    (SELECT percentile(recency_days, $qs) FROM u) AS re,
         |    (SELECT percentile(frequency, $qs) FROM u) AS fe,
         |    (SELECT percentile(monetary_cents, $qs) FROM u) AS me
         |  FROM u)
         |SELECT user_id, recency_days, frequency, monetary_cents,
         |  1L + ${below("recency_days", "re")} AS r_bucket,
         |  1L + ${above("frequency", "fe")} AS f_bucket,
         |  1L + ${above("monetary_cents", "me")} AS m_bucket,
         |  (1L + ${below("recency_days", "re")}) * 100
         |    + (1L + ${above("frequency", "fe")}) * 10
         |    + (1L + ${above("monetary_cents", "me")}) AS segment
         |FROM b""".stripMargin)
  }

  /** Ordered conversion funnel: first 'view', first 'click' strictly
    * after it, first 'purchase' strictly after that, per user; output
    * is the user count per stage. Each stage is MIN-reducible, so at
    * any scale a stage costs one partial-aggregated hash agg plus one
    * user-keyed join against the previous stage. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t0"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").where(col("ts") > col("t0"))
      .groupBy("user_id").agg(min("ts").as("t1"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").where(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("users")).select(lit(name).as("stage"), col("users"))
    stage(v, "view")
      .unionAll(stage(c, "click_after_view"))
      .unionAll(stage(p, "purchase_after_click"))
  }

  /** Within-session conversion funnel: the [[funnel]] stages scoped to
    * a single 30-minute-gap session — "did the click happen in the SAME
    * visit as the view it followed?", the session-attribution twin of
    * the lifetime funnel (which credits a purchase to a view from weeks
    * earlier). Stage times nest: t0 = first view in the session, t1 =
    * first click strictly after t0, t2 = first purchase strictly after
    * t1; output is one row of session counts per stage.
    *
    * Plan: the sessionize window pass (user-keyed sort exchange, lag +
    * running-sum) assigns session ids, then the three stage times are
    * whole-partition MIN windows over (user_id, session_id) — the
    * hash partitioning on user_id already clusters (user, session), so
    * Catalyst plans the session-scoped windows and the per-session
    * collapse WITHOUT a second exchange: one shuffle total, then a
    * single-row global aggregate. The chained windows (t1 reads t0,
    * t2 reads t1) are consecutive Window operators over the same sort
    * order — no join re-attaches anything. Hot-key ceiling is the same
    * as `sessionize` (per-user sort), with `sessionize_chunked` as the
    * documented escape hatch. */
  def funnelSessionized(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val bySession = Window.partitionBy(col("user_id"), col("session_id"))
    val sess = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull, 1L)
          .when(unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))
            > graft.streaming.Sessionize.gapMinutes * 60L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    sess
      .withColumn("t0",
        min(when(col("event_type") === "view", col("ts"))).over(bySession))
      .withColumn("t1",
        min(when(col("event_type") === "click" && col("ts") > col("t0"),
          col("ts"))).over(bySession))
      .withColumn("t2",
        min(when(col("event_type") === "purchase" && col("ts") > col("t1"),
          col("ts"))).over(bySession))
      .groupBy("user_id", "session_id")
      .agg(max("t0").as("t0"), max("t1").as("t1"), max("t2").as("t2"))
      .agg(count(lit(1)).as("n_sessions"),
        count(col("t0")).as("s_view"),
        count(col("t1")).as("s_click_after_view"),
        count(col("t2")).as("s_purchase_after_click"))
  }

  /** Weekly cohort retention: cohort = integer week (since 2024-01-01)
    * of the user's first event, cell = distinct users from that cohort
    * active k calendar weeks later. Two user-keyed hash aggs + one
    * user-keyed join; the integer-day grid avoids engine-specific
    * week-truncation conventions. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01")).as("d"))
    val first = ev.groupBy("user_id").agg(min("d").as("d0"))
    ev.join(first, "user_id")
      .select(col("user_id"),
        floor(col("d0") / 7).cast("int").as("cohort_week"),
        (floor(col("d") / 7) - floor(col("d0") / 7)).cast("int").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("users"))
  }

  /** Overlapping event-time windows: 1-hour windows hopping every 15
    * minutes (each event lands in exactly 4 slots). Spark's `window`
    * generator expands slots map-side; the aggregation is one hash
    * agg keyed by (slot, type) — the same plan a tumbling window gets,
    * just with 4x the pre-aggregation rows. */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("val_sum"))

  /** Trailing 7-day active users per day (the WAU curve): each (user,
    * active-day) pair contributes to the 7 window-end days it falls in,
    * expanded MAP-SIDE by a 7-element offset explode — never a per-day
    * self-join or a windowed COUNT(DISTINCT) (which Spark's window
    * functions don't support and which would need a per-day sort
    * anyway). Work is 7x the distinct (user, day) pairs, then one hash
    * agg; both factors scale linearly. Days within the observed range
    * only, so leading partial windows are real and trailing ghosts are
    * cut. */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01")).as("d"))
      .distinct()
    // bounded scalar to the driver (one int), same pattern as the
    // heavy-hitter total — a 1-row non-equi join would plan as a
    // nested loop, which the surface bans
    val dmax = byDay.agg(max("d")).head.getInt(0)
    byDay
      .select(col("user_id"), explode(sequence(col("d"), col("d") + 6)).as("wd"))
      .where(col("wd") <= lit(dmax))
      .groupBy("wd")
      .agg(countDistinct(col("user_id")).as("wau"))
      .select(col("wd").cast("int").as("day_index"), col("wau"))
  }

  /** Value-iteration rounds for [[attributionMarkov]] (journeys are
    * day-bounded, so 12 steps cover any realizable path depth). */
  val markovRounds = 12

  /** Channel states for [[attributionMarkov]] — the corpus's
    * non-purchase event types (corpus-drawn constant, the blockedTerms
    * convention; the oracle hardcodes the same list). */
  val markovChannels = Seq("click", "error", "signup", "view")

  /** Markov removal-effect attribution (Anderl et al. 2014) — the
    * model-based member of the attribution trilogy (vs heuristic
    * last-touch and linear): build the first-order journey chain
    * (START → channels → purchase-conversion / journey-end absorption),
    * solve for conversion probability from START by value iteration,
    * and credit each channel by how much conversion DROPS when it is
    * removed (its transitions become losses). Journey = one (user,
    * day), ordered by (ts, event_id), truncated at the first purchase.
    *
    * Exactness: probabilities never materialize as floats — the
    * iteration runs on q9-scaled integers, v'(s) = (cnt_{s→conv}·10⁹ +
    * Σ_c cnt_{s→c}·v(c)) DIV tot_s, a Jacobi update both engines
    * replay bit-identically (the oracle unrolls scenario × round
    * CTEs). Removal effects publish as `10⁶·(v_base − v_removed) DIV
    * v_base`.
    *
    * Scale shape: the ONLY corpus-scale work is the journey-window
    * pass (one (user, day)-keyed sort exchange — the sessionize cost)
    * and the edge count aggregation; the chain itself is a
    * ≤(|channels|+1)² cell frame, a bounded driver scalar set per the
    * house pattern, where the 5 × [[markovRounds]] integer iterations
    * are O(1). Headroom: cnt·v ≤ 10¹²·10⁹ exceeds Long at extreme
    * counts — a 100 TB corpus promotes the driver fold to BigInt (no
    * dataflow change). */
  def attributionMarkov(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wj = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    val wJourney = Window.partitionBy(col("user_id"), col("day"))
    val kept = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(wj).cast("long"))
      .withColumn("prn",
        min(when(col("event_type") === "purchase", col("rn"))).over(wJourney))
      .withColumn("nmax", max(col("rn")).over(wJourney))
      .filter(col("prn").isNull || col("rn") <= col("prn"))
    val inner = kept
      .withColumn("src",
        coalesce(lag(col("event_type"), 1).over(wj), lit("(start)")))
      .select(col("src"), col("event_type").as("dst"))
    val ends = kept.filter(col("prn").isNull && col("rn") === col("nmax"))
      .select(col("event_type").as("src"), lit("(end)").as("dst"))
    val cells = inner.unionByName(ends)
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
      .collect() // bounded: <= (channels+1) x (channels+2) cells
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val states = "(start)" +: markovChannels
    val tot = states.map(s =>
      s -> cells.collect { case ((a, _), c) if a == s => c }.sum).toMap
    def iterate(removed: Option[String]): Long = {
      val act = states.filterNot(removed.contains)
      var v = Map.empty[String, Long].withDefaultValue(0L)
      for (_ <- 1 to markovRounds) {
        val prev = v
        v = act.map { s =>
          val conv = cells.getOrElse((s, "purchase"), 0L) * 1000000000L
          val acc = markovChannels.filterNot(removed.contains)
            .map(c => cells.getOrElse((s, c), 0L) * prev(c)).sum
          // a state with no observed outgoing edges contributes 0
          // (matches the oracle, whose iteration frame is built from
          // observed sources only)
          s -> (if (tot(s) == 0L) 0L else (conv + acc) / tot(s))
        }.toMap.withDefaultValue(0L)
      }
      v("(start)")
    }
    val base = iterate(None)
    import spark.implicits._
    (("(none)", base, 0L) +: markovChannels.map { c =>
      val vc = iterate(Some(c))
      (c, vc, 1000000L * (base - vc) / base)
    }).toDF("channel", "v_start_q9", "re_q6")
  }

  /** Shapley-value attribution — the coalition-game member of the
    * attribution family (order-free, axiomatic, the standard
    * "data-driven attribution" baseline): each journey contributes its
    * SET of touched channels (mask over [[markovChannels]], order and
    * multiplicity ignored) and whether it converted; the coalition
    * value v(S) is the exact q9 conversion rate of journeys whose
    * channel set is exactly S (unobserved coalitions value 0 —
    * documented, deterministic); channel c's credit is the Shapley sum
    * Σ_{S∌c} w(|S|)·(v(S∪{c}) − v(S)) with the exact rational weights
    * |S|!·(k−|S|−1)!/k! expressed over the common denominator k!·…=24,
    * so every published number is an integer (shapley_q9_x24) — no
    * float ever crosses the engine boundary.
    *
    * Scale shape: one journey-window pass (shared shape with
    * [[attributionMarkov]] — per-(user, day) mask + conv flag via a
    * single hash agg after the truncation windows), then a 2^k-bounded
    * coalition frame (k = 4 channels ⇒ 16 rows); the Shapley fold is
    * a static 32-term sum over that frame — bounded work no matter the
    * corpus. k grows as channels do, but marketing channel counts are
    * tens, and the observed-coalition frame is bounded by min(2^k,
    * journeys). */
  def attributionShapley(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wj = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    val wJourney = Window.partitionBy(col("user_id"), col("day"))
    val kept = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(wj).cast("long"))
      .withColumn("prn",
        min(when(col("event_type") === "purchase", col("rn"))).over(wJourney))
      .filter(col("prn").isNull || col("rn") <= col("prn"))
    val bit = markovChannels.zipWithIndex.map { case (c, i) =>
      max(when(col("event_type") === c, lit(1L << i)).otherwise(0L))
    }.reduce(_ + _)
    val coalitions = kept
      .groupBy("user_id", "day")
      .agg(bit.as("mask"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
      .groupBy("mask")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("nc"))
      .collect() // bounded: 2^|channels| coalition rows
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def v(mask: Long): Long = coalitions.get(mask)
      .map { case (n, nc) => 1000000000L * nc / n }.getOrElse(0L)
    val k = markovChannels.length
    // |S|!(k-|S|-1)!/k! over denominator k! = 24: sizes 0..3 -> 6,2,2,6
    val w24 = Array(6L, 2L, 2L, 6L)
    import spark.implicits._
    markovChannels.zipWithIndex.map { case (c, i) =>
      val cBit = 1L << i
      val credit = (0L until (1L << k)).filter(s => (s & cBit) == 0L)
        .map(s => w24(java.lang.Long.bitCount(s)) * (v(s | cBit) - v(s)))
        .sum
      (c, credit)
    }.toDF("channel", "shapley_q9_x24")
  }

  /** DAU/WAU stickiness — the product-analytics ratio every retention
    * dashboard leads with ("what share of this week's users came back
    * today?"): per day, distinct daily actives over distinct
    * trailing-7-day actives, published as the exact integer
    * `10^6·dau DIV wau` (dau ≤ wau, so the ratio is a true q6
    * fraction). Composes the day-exploded WAU
    * ([[rollingActiveUsers]] — ≤7× replication of the deduped
    * (user, day) frame, never the raw events) with a second
    * distinct-count over the same frame; both aggs are day-keyed
    * shuffles of (user, day) pairs. */
  def dauStickiness(spark: SparkSession, dir: String): DataFrame = {
    val dau = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01")).as("d"))
      .distinct()
      .groupBy("d").agg(countDistinct(col("user_id")).as("dau"))
      .select(col("d").cast("int").as("day_index"), col("dau"))
    rollingActiveUsers(spark, dir).join(dau, "day_index")
      .selectExpr("day_index", "dau", "wau",
        "(1000000 * dau) DIV wau AS stickiness_q6")
  }

  /** Cumulative user-growth curve — "how many distinct users have we
    * EVER seen, by day": each user contributes once at their first
    * active day, and the cumulative over first-day counts is the
    * growth curve (new_users per day + running total). The classic
    * trap is a per-day `countDistinct` over an expanding window —
    * O(days · users) state; first-day attribution is one user-keyed
    * min-agg plus a prefix sum over the bounded calendar frame.
    * Days with zero NEW users still appear when bracketed (the grid
    * is each observed first-day; a gap day simply repeats the
    * cumulative at its next observed day — no rows invented). */
  def userGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstDay = Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"))
    val wCum = Tables.boundedGlobalWindow(col("first_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // calendar-bounded frame (≤ days rows) — the ts_seasonal pattern
    firstDay.groupBy("first_day")
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(wCum))
  }

  /** Markov transition matrix over per-user event sequences: order each
    * user's events by time (event_id breaks ts ties deterministically),
    * pair each event with its successor via `lag`, count every
    * (from_type, to_type) edge plus the distinct users traversing it.
    * This is the path-analysis primitive behind "what do users do after
    * X" dashboards and behavioral Markov models. One user-keyed window
    * (each partition holds ONE user's events — high cardinality, no hot
    * partition) and one 25-cell hash agg; sequence work never leaves
    * the user's partition, so the shape is scan-bound at any corpus
    * size. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Last-touch attribution: every purchase is credited to the most
    * recent non-purchase event by the same user within the preceding
    * hour ('direct' if none) — the classic marketing-attribution
    * query, and a representative "latest qualifying row within a time
    * bound" window shape (the windowed sibling of the as-of join).
    *
    * Determinism without engine-specific arg_max semantics: the
    * candidate is picked by a plain `max` over STRINGS
    * "zero-padded-sort-key|event_type", where the sort key is
    * second-epoch·10^8 + event_id (unique, time-ordered, < 2^63) —
    * zero-padding makes lexicographic order equal numeric order in
    * any engine. One per-user RANGE window, no self-join; the frame
    * bound (3600·10^8 key units = 1 hour) holds per-user state only. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val keyScale = 100000000L // event_id < 1e8 at every SF
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"),
        (unix_timestamp(date_trunc("second", col("ts"))) * keyScale +
          col("event_id")).as("k"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("k")
      .rangeBetween(-3600L * keyScale, 0L)
    ev.withColumn("touch",
        max(when(col("event_type") =!= "purchase",
          concat(format_string("%018d", col("k")), lit("|"),
            col("event_type")))).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(substring_index(col("touch"), "|", -1),
        lit("direct")).as("attributed_to"))
      .agg(count(lit(1)).as("n_purchases"),
        dsum(col("value")).as("val_sum"))
  }

  /** Linear multi-touch attribution — the credit-sharing sibling of
    * last-touch [[attribution]]: every non-purchase touch in the hour
    * before a purchase receives an equal share of that purchase's
    * value, and the gate reports total credit per touch channel. Each
    * share is the exact integer `10^6·cents DIV n_touches`, so the
    * per-channel sums are sums of integers — order-free and engine-
    * portable (the quantization remainder stays with the purchase,
    * never double-counted). Purchases with no preceding touch earn
    * nothing here (they are last-touch "direct" — visible in the
    * sibling gate).
    *
    * Plan: the (purchase × touches-in-window) pair set via the banded
    * interval join ([[graft.operators.RangeJoin]]'s idiom) — purchases
    * replicate to their hour bucket and its predecessor (×2, never
    * data-dependent), one (user, bucket)-keyed equi-join, exact range
    * filter after. The per-purchase touch count is a window over the
    * pair frame (bounded by touches-per-hour-per-user), then one
    * bounded |types| agg. No per-user all-pairs, no RANGE window
    * carrying purchase state across the corpus. */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    val keyScale = 100000000L // event_id < 1e8 at every SF
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"),
        (unix_timestamp(date_trunc("second", col("ts"))) * keyScale +
          col("event_id")).as("k"))
      .withColumn("hb", expr(s"(k DIV $keyScale) DIV 3600"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("k").as("pk"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        explode(array(col("hb") - 1, col("hb"))).as("jb"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("k").as("tk"),
        col("event_type").as("touch_type"), col("hb").as("jb"))
    val pairs = purchases.join(touches, Seq("user_id", "jb"))
      .filter(col("tk") >= col("pk") - lit(3600L * keyScale)
        && col("tk") < col("pk"))
    val wP = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "pk")
    pairs
      .withColumn("n_touches", count(lit(1)).over(wP))
      .withColumn("credit_q6", expr("(1000000 * cents) DIV n_touches"))
      .groupBy(col("touch_type").as("event_type"))
      .agg(count(lit(1)).as("n_credits"),
        sum(col("credit_q6")).as("credit_q6_sum"))
  }

  /** Top user-journey paths — the "what do sessions look like" census
    * behind every product-analytics path/sankey view: each (user, day)
    * contributes its first 3 event types in time order as a "a>b>c"
    * path string, and the gate emits the 10 commonest paths. Ordering
    * rides the same engine-portable unique sort key as [[attribution]]
    * (second-epoch·10^8 + event_id). Plan: one (user, day)-keyed
    * row_number window (rows ≤3 survive), a per-journey pivot to
    * (e1,e2,e3) via max-of-when — both algebraic — then a path-keyed
    * census whose domain is bounded by |types|³, and a global top-10
    * as TakeOrderedAndProject (per-partition heaps, no global sort). */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    val keyScale = 100000000L
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        col("event_type"),
        (unix_timestamp(date_trunc("second", col("ts"))) * keyScale +
          col("event_id")).as("k"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "day").orderBy("k")
    ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .groupBy("user_id", "day")
      .agg(max(when(col("rn") === 1, col("event_type"))).as("e1"),
        max(when(col("rn") === 2, col("event_type"))).as("e2"),
        max(when(col("rn") === 3, col("event_type"))).as("e3"))
      .groupBy(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      .agg(count(lit(1)).as("n_journeys"))
      .orderBy(col("n_journeys").desc, col("path")).limit(10)
  }

  /** Longest activity streak per user — the canonical gaps-and-islands
    * idiom (retention/engagement metric): consecutive active days form
    * an island because day − row_number is constant inside a run. One
    * distinct (user, epoch-day) agg, one user-keyed window, a
    * user+island agg (islands are bounded by the user's day count),
    * then an argmax packed into a single integer key (len·10^6 +
    * (10^6−1−start_day)) so "longest streak, earliest on ties" needs
    * no engine-specific arg_max — epoch days stay < 10^6 until the
    * year 4707. Everything after the distinct is bounded by active
    * days per user, never events. */
  def streaks(spark: SparkSession, dir: String): DataFrame = {
    val enc = 1000000L
    val days = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        expr("unix_timestamp(date_trunc('DAY', ts)) DIV 86400").as("d"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("d")
    days.withColumn("isl", col("d") - row_number().over(w))
      .groupBy("user_id", "isl")
      .agg(count(lit(1)).as("len"), min(col("d")).as("d0"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_streaks"), sum(col("len")).as("n_active_days"),
        max(col("len") * enc + (lit(enc - 1) - col("d0"))).as("key"))
      .select(col("user_id"), col("n_streaks"), col("n_active_days"),
        expr(s"key DIV $enc").as("longest_streak"),
        to_date(timestamp_seconds(
          (lit(enc - 1) - pmod(col("key"), lit(enc))) * 86400L))
          .as("streak_start"))
  }

  /** MATCH_RECOGNIZE-lite sequence pattern matching (CEP): each user's
    * events, in deterministic time order (second-floored ts + event_id
    * tiebreak — the same total order every behavior gate uses), encode
    * to a one-char-per-event string (event types have distinct
    * initials), and a regex counts non-overlapping pattern
    * occurrences. The gate pattern `c[^ep]*p` is "a click converting
    * to a purchase with no error and no earlier purchase between" —
    * the conversion-with-clean-path query a funnel can't express
    * (funnels test subsequence, not exclusion).
    *
    * Scale shape: one user-keyed aggregation whose state is bounded by
    * a single user's event count — identical to sessionize — and the
    * regex automaton runs once per user inside codegen. Both engines
    * scan left-to-right taking non-overlapping matches, and the
    * pattern's inner class excludes the closing char, so the match set
    * is engine-independent. The unbounded-key streaming form of this
    * operator is the mapGroupsWithState family (`stream_*`). */
  def patternMatch(spark: SparkSession, dir: String): DataFrame = {
    val keyScale = 100000000L
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        (unix_timestamp(date_trunc("second", col("ts"))) * keyScale +
          col("event_id")).as("k"),
        substring(col("event_type"), 1, 1).as("c"))
    patternMatchDf(ev, "c[^ep]*p")
  }

  /** Core over a pre-encoded (user_id, k, c) frame. */
  def patternMatchDf(ev: DataFrame, pattern: String): DataFrame =
    ev.groupBy("user_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("k"), col("c")))),
          x => x("c")), "").as("seq"))
      .select(col("user_id"),
        length(col("seq")).cast("long").as("n_events"),
        regexp_count(col("seq"), lit(pattern)).cast("long")
          .as("n_conversions"))

  /** Time-to-convert distribution — the funnel's latency readout: per
    * user, the gap from FIRST click to the first purchase after it,
    * then exact p50/p90 over the converted population. Percentiles run
    * on the gap-seconds histogram with the `agg_percentile_banded`
    * two-level prefix sum (day bands, calendar-bounded offset frame) —
    * no global sort, no per-user collect, and the histogram is bounded
    * by distinct gap values, which map-side combine collapses. Gap
    * arithmetic on second-floored stamps, integer-exact both engines. */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        date_trunc("second", col("ts")).as("s"))
    val c1 = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min("s").as("c1"))
    val gaps = ev.filter(col("event_type") === "purchase")
      .join(c1, "user_id")
      .filter(col("s") > col("c1"))
      .groupBy(col("user_id"), col("c1")).agg(min("s").as("p1"))
      .select((unix_timestamp(col("p1")) - unix_timestamp(col("c1")))
        .as("gap"))
    val h = gaps.groupBy("gap").agg(count(lit(1)).as("cnt"))
      .withColumn("band", expr("gap DIV 86400"))
    val wIn = Window.partitionBy("band").orderBy("gap")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Tables.boundedGlobalWindow(col("band")) // bounded: <= 101 bands
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Tables.boundedGlobalWindow(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = h.groupBy("band").agg(sum("cnt").as("btot"))
      .withColumn("off", coalesce(sum(col("btot")).over(wOff), lit(0L)))
      .withColumn("n", sum(col("btot")).over(wTot))
      .select(col("band"), col("off"), col("n"))
    h.withColumn("cum_in", sum(col("cnt")).over(wIn))
      .join(broadcast(offsets), "band")
      .select(col("gap"), col("cnt"),
        (col("off") + col("cum_in")).as("cum"), col("n"))
      .withColumn("q", explode(array(lit(50L), lit(90L))))
      .filter(col("cum") * 100 >= col("q") * col("n")
        && (col("cum") - col("cnt")) * 100 < col("q") * col("n"))
      .select(col("q"), col("gap").as("gap_s"), col("n").as("n_converted"))
  }

  /** Any-gap sequential-pattern support — the candidate-support
    * primitive PrefixSpan/GSP mining is built from (Pei et al., ICDE
    * 2001), distinct from [[transitions]]' DIRECT-follow bigrams: a
    * user supports `a>b` when SOME a-event precedes SOME b-event (any
    * gap, strict <), and `a>b>c` when some b-event falls strictly
    * between their first a and last c. Both reduce to per-(user, type)
    * time bounds: a>b ⇔ min_ts(a) < max_ts(b), and a>b>c ⇔ ∃ b-event
    * in (min_ts(a), max_ts(c)) — min_a before t_b guarantees an a
    * before it, t_b before max_c guarantees a c after it.
    *
    * Scale shape: ONE events scan → per-(user, type) min/max hash agg
    * (the only corpus-scale shuffle); the pair self-join fans out by
    * at most |alphabet| per row — a bounded constant, not data — and
    * every pattern count lands in a ≤|alphabet|³-row frame. The
    * total-user count rides in as a literal scalar (the Zorder
    * pattern, not a 1-row crossJoin).
    *
    * The triple path never fans the corpus by |alphabet|²: an r9/r10
    * shape joined a |users|·|alphabet|² bounds frame against the raw
    * events scan on a range condition and DISTINCT-ed the fan-out —
    * |events|·|alphabet|² rows through an exchange, which spilled
    * under suite memory pressure (driver bench 5.77 s, spread 8.37).
    * Instead, b-membership is PRE-AGGREGATED against the a-side mins:
    * ∃ b ∈ (mn_a, mx_c) ⟺ min{ts_b > mn_a} < mx_c, so one join of
    * events against the per-user a-mins (|alphabet| fan-out, count-
    * gated broadcast, partial-aggregated min BEFORE its exchange)
    * yields nxt(user, a, b) — a ≤|users|·|alphabet|² frame — and the
    * c-side bound is then a bounded-frame join, no distinct anywhere
    * (each join row is already unique per (user, a, b, c)). */
  def seqSupport(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val u = ev.groupBy(col("user_id"), col("event_type"))
      .agg(min("ts").as("mn"), max("ts").as("mx"))
      .cache() // |users|·|alphabet| rows — feeds four joins
    // ONE scalar, read off the cached bounded frame (not a second
    // corpus-scale distinct over the events scan)
    val nUsers = u.select("user_id").distinct().count()
    // count-gated broadcast: |users|·|alphabet| rows fit an executor
    // far past this corpus' scale, but at 100 TB user counts the hint
    // must degrade to a plain shuffled join Catalyst co-partitions
    // with the events exchange (same rule as Dedup's label attach)
    val uFits = u.count() <= graft.Conf.BroadcastMaxRows
    def uSide(cols: Column*): DataFrame = {
      val s = u.select(cols: _*)
      if (uFits) broadcast(s) else s
    }
    val p2 = u.alias("x").join(u.alias("y"),
        col("x.user_id") === col("y.user_id")
          && col("x.mn") < col("y.mx"))
      .groupBy(concat(col("x.event_type"), lit(">"), col("y.event_type"))
        .as("pattern"))
      .agg(count(lit(1)).as("support"))
    // nxt(user, a, b) = earliest b-event strictly after the user's
    // first a — the partial-agg-friendly reduction of b-membership:
    // the |alphabet| fan-out collapses map-side into min() before the
    // (user, a, b) exchange ever runs
    val nxt = ev.select(col("user_id"), col("event_type").as("b"), col("ts"))
      .join(uSide(col("user_id"), col("event_type").as("a"), col("mn")),
        Seq("user_id"))
      .filter(col("ts") > col("mn"))
      .groupBy(col("user_id"), col("a"), col("b"))
      .agg(min("ts").as("nts"))
    val p3 = nxt
      .join(uSide(col("user_id"), col("event_type").as("c"), col("mx")),
        Seq("user_id"))
      .filter(col("nts") < col("mx"))
      .groupBy(concat(col("a"), lit(">"), col("b"), lit(">"), col("c"))
        .as("pattern"))
      .agg(count(lit(1)).as("support"))
    // checkpoint-then-release (CacheHygieneSpec + the r9 in-suite
    // regression adjudication): the result is ≤|alphabet|³ rows; the
    // |users|·|alphabet| frame must not stay cached into later gates,
    // where it competes for executor storage with THEIR caches
    graft.Conf.checkpointThenRelease(
      p2.unionByName(p3)
        .select(col("pattern"), col("support"),
          lit(nUsers).as("n_users"),
          expr(s"1000000 * support DIV $nUsers").as("support_q6")),
      u)
  }

  /** Fixed-point scale and unrolled iteration count for
    * [[markovStationary]] — the pageRank discipline: integer
    * arithmetic only, so the result hash-checks. */
  val mkScale = 1000000000000L
  val mkIters = 8

  /** Stationary distribution of the behavior Markov chain — the
    * long-run answer to "what does a steady-state session look like":
    * π with π = πP over the row-stochastic transition matrix
    * [[transitions]] estimates, via [[mkIters]] synchronous power
    * iterations from the uniform start. Each update distributes
    * π(i)·cnt(i,j) DIV rowsum(i) — truncating integer division per
    * edge (the pageRank mass rule), bit-identical in both engines;
    * truncation leaks ≤|cells| units of 1e−12 mass per round, far
    * below the published precision.
    *
    * Scale shape: the chain lives on a ≤|alphabet|²-cell frame, so
    * after the ONE corpus-scale pass inside [[transitions]] every
    * iteration is bounded-frame joins and aggs — the 100 TB cost is
    * the transition count, not the iteration. `pi·cnt` rides
    * DECIMAL(38,0) so a 10^12-transition cell cannot wrap the Long
    * product. */
  def markovStationary(spark: SparkSession, dir: String): DataFrame = {
    val p = transitions(spark, dir)
      .select(col("from_type"), col("to_type"), col("cnt"))
    val tot = p.groupBy("from_type").agg(sum("cnt").as("tot"))
    val cells = p.join(tot, "from_type").cache() // ≤ |alphabet|² rows
    val nodes = Tables.load(spark, dir, "events")
      .select(col("event_type")).distinct().cache()
    val nTypes = nodes.count() // bounded scalar: |alphabet|
    var pi = nodes.withColumn("pi", expr(s"$mkScale div $nTypes"))
    for (_ <- 1 to mkIters) {
      val inbound = cells
        .join(pi, cells("from_type") === pi("event_type"))
        .select(col("to_type"),
          expr("CAST(pi AS DECIMAL(38,0)) * cnt DIV tot").as("c"))
        .groupBy("to_type").agg(sum("c").as("s"))
      pi = nodes.join(inbound, nodes("event_type") === inbound("to_type"),
          "left")
        .select(col("event_type"), coalesce(col("s"), lit(0L)).as("pi"))
    }
    // checkpoint-then-release (CacheHygieneSpec): |alphabet| rows out;
    // the cell/node frames must not outlive the call
    graft.Conf.checkpointThenRelease(
      pi.select(col("event_type"), col("pi").as("pi_fp")),
      cells, nodes)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "behavior_markov_stationary" -> markovStationary _,
    "behavior_seq_support" -> seqSupport _,
    "behavior_pattern_match" -> patternMatch _,
    "behavior_time_to_convert" -> timeToConvert _,
    "behavior_rfm" -> rfm _,
    "behavior_streaks" -> streaks _,
    "behavior_paths" -> topPaths _,
    "behavior_transitions" -> transitions _,
    "funnel" -> funnel _,
    "funnel_sessionized" -> funnelSessionized _,
    "cohort_retention" -> cohortRetention _,
    "behavior_attribution" -> attribution _,
    "behavior_attribution_linear" -> attributionLinear _,
    "behavior_attribution_markov" -> attributionMarkov _,
    "behavior_attribution_shapley" -> attributionShapley _,
    "window_rolling_distinct" -> rollingActiveUsers _,
    "behavior_stickiness" -> dauStickiness _,
    "behavior_user_growth" -> userGrowth _,
    "window_sliding" -> slidingWindow _)

  /** Shared by the batch gate and the streaming replay gate
    * (`stream_sliding`): slot k of an event at microsecond t is
    * floor(t/15min) - j for j in 0..3, exactly Spark's assignment. */
  private[graft] val slidingOracle: String =
    """WITH e AS (SELECT event_type, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
      |x AS (SELECT event_type, value,
      |    make_timestamp((t // 900000000 - j) * 900000000) AS win_start
      |  FROM e, unnest([0, 1, 2, 3]) AS u(j))
      |SELECT win_start, event_type, count(*) AS cnt,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
      |FROM x GROUP BY 1, 2""".stripMargin

  /** DuckDB rendering of the [[attributionMarkov]] chain: shared
    * journey/edge CTEs, then one value-iteration CTE per (scenario,
    * round) — scenario 'none' plus one removal per channel, each
    * iterating the same q9 integer Jacobi update on the bounded cell
    * frame. */
  private def markovOracle: String = {
    val scenarios = ("none", None) +: markovChannels.map(c => (c, Some(c)))
    val rounds = scenarios.map { case (tag, removed) =>
      val rmSrc = removed.map(c => s"WHERE t.src <> '$c'").getOrElse("")
      val rmDst = removed.map(c => s"AND e.dst <> '$c'").getOrElse("")
      (1 to markovRounds).map { t =>
        val accJoin =
          if (t == 1) "" // v_0 = 0: the join term vanishes
          else
            s"""LEFT JOIN (SELECT e.src,
               |      CAST(sum(e.cnt * p.v) AS BIGINT) AS acc
               |    FROM cells e JOIN v_${tag}_${t - 1} p ON e.dst = p.src
               |    WHERE e.dst NOT IN ('purchase', '(end)') $rmDst
               |    GROUP BY e.src) m ON m.src = t.src""".stripMargin
        val acc = if (t == 1) "0" else "coalesce(m.acc, 0)"
        s"""v_${tag}_$t AS (
           |  SELECT t.src, CAST((coalesce(c.cnt, 0) * 1000000000 + $acc)
           |      // t.tot AS BIGINT) AS v
           |  FROM tots t
           |  LEFT JOIN conv c ON c.src = t.src
           |  $accJoin
           |  $rmSrc)""".stripMargin
      }.mkString(",\n")
    }.mkString(",\n")
    val finalRows = markovChannels.map(c =>
      s"""SELECT '$c' AS channel, vr.v AS v_start_q9,
         |  CAST((1000000 * ((SELECT v FROM base) - vr.v))
         |    // (SELECT v FROM base) AS BIGINT) AS re_q6
         |  FROM v_${c}_$markovRounds vr WHERE vr.src = '(start)'""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH e0 AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type,
       |    ts, event_id,
       |    CAST(row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
       |      ORDER BY ts, event_id) AS BIGINT) AS rn
       |  FROM events),
       |e1 AS (SELECT *,
       |    min(CASE WHEN event_type = 'purchase' THEN rn END)
       |      OVER (PARTITION BY user_id, day) AS prn,
       |    max(rn) OVER (PARTITION BY user_id, day) AS nmax
       |  FROM e0),
       |e2 AS (SELECT * FROM e1 WHERE prn IS NULL OR rn <= prn),
       |st AS (SELECT event_type,
       |    coalesce(lag(event_type) OVER (PARTITION BY user_id, day
       |      ORDER BY ts, event_id), '(start)') AS src
       |  FROM e2),
       |edges AS (
       |  SELECT src, event_type AS dst, count(*) AS cnt FROM st GROUP BY 1, 2
       |  UNION ALL
       |  SELECT event_type AS src, '(end)' AS dst, count(*) AS cnt
       |  FROM e2 WHERE prn IS NULL AND rn = nmax GROUP BY 1),
       |cells AS (SELECT src, dst, CAST(sum(cnt) AS BIGINT) AS cnt
       |  FROM edges GROUP BY 1, 2),
       |tots AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS tot
       |  FROM cells GROUP BY 1),
       |conv AS (SELECT src, cnt FROM cells WHERE dst = 'purchase'),
       |$rounds,
       |base AS (SELECT v FROM v_none_$markovRounds WHERE src = '(start)')
       |SELECT '(none)' AS channel, (SELECT v FROM base) AS v_start_q9,
       |  CAST(0 AS BIGINT) AS re_q6
       |UNION ALL
       |$finalRows""".stripMargin
  }

  /** DuckDB rendering of [[attributionShapley]]: the same journey mask
    * aggregation, a ≤2^k coalition-rate frame, and the Shapley fold as
    * a generated static term sum (missing coalitions coalesce to 0). */
  private def shapleyOracle: String = {
    val k = markovChannels.length
    val w24 = Seq(6L, 2L, 2L, 6L)
    def vRef(m: Long) = s"coalesce((SELECT v FROM vt WHERE mask = $m), 0)"
    val maskExpr = markovChannels.zipWithIndex.map { case (c, i) =>
      s"max(CASE WHEN event_type = '$c' THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val rows = markovChannels.zipWithIndex.map { case (c, i) =>
      val cBit = 1L << i
      val terms = (0L until (1L << k)).filter(s => (s & cBit) == 0L)
        .map(s => s"${w24(java.lang.Long.bitCount(s))} * (${vRef(s | cBit)}" +
          s" - ${vRef(s)})")
        .mkString("\n    + ")
      s"SELECT '$c' AS channel, CAST($terms AS BIGINT) AS shapley_q9_x24"
    }.mkString("\nUNION ALL\n")
    s"""WITH e0 AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type,
       |    CAST(row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
       |      ORDER BY ts, event_id) AS BIGINT) AS rn
       |  FROM events),
       |e1 AS (SELECT *,
       |    min(CASE WHEN event_type = 'purchase' THEN rn END)
       |      OVER (PARTITION BY user_id, day) AS prn
       |  FROM e0),
       |e2 AS (SELECT * FROM e1 WHERE prn IS NULL OR rn <= prn),
       |j AS (SELECT user_id, day, CAST($maskExpr AS BIGINT) AS mask,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM e2 GROUP BY 1, 2),
       |co AS (SELECT mask, count(*) AS n, CAST(sum(conv) AS BIGINT) AS nc
       |  FROM j GROUP BY 1),
       |vt AS (SELECT mask, CAST((1000000000 * nc) // n AS BIGINT) AS v
       |  FROM co)
       |$rows""".stripMargin
  }

  /** Shared with `stream_pattern_match` — the streaming automaton's
    * final counts must equal this batch regex count by construction,
    * so the two gates reference ONE oracle string (drift between them
    * would silently unpin the equivalence). */
  val patternMatchOracle: String =
    """WITH e AS (SELECT user_id,
      |    CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP)))
      |      AS BIGINT) * 100000000 + event_id AS k,
      |    substr(event_type, 1, 1) AS c
      |  FROM events),
      |s AS (SELECT user_id, string_agg(c, '' ORDER BY k) AS seq
      |  FROM e GROUP BY user_id)
      |SELECT user_id, CAST(len(seq) AS BIGINT) AS n_events,
      |  CAST(len(regexp_extract_all(seq, 'c[^ep]*p')) AS BIGINT)
      |    AS n_conversions
      |FROM s""".stripMargin

  private def markovStationaryOracle: String = {
    val rounds = (1 to mkIters).map { r =>
      s"""pi$r AS (SELECT n.event_type,
         |    CAST(coalesce(s.s, 0) AS HUGEINT) AS pi
         |  FROM nodes n LEFT JOIN (
         |    SELECT p.to_type,
         |      sum((pp.pi * p.cnt) // p.tot) AS s
         |    FROM p JOIN pi${r - 1} pp ON pp.event_type = p.from_type
         |    GROUP BY 1) s ON s.to_type = n.event_type)""".stripMargin
    }.mkString(",\n")
    s"""WITH tr AS (SELECT from_type, event_type AS to_type,
       |    CAST(count(*) AS HUGEINT) AS cnt
       |  FROM (SELECT user_id, event_type,
       |      lag(event_type) OVER (PARTITION BY user_id
       |        ORDER BY ts, event_id) AS from_type
       |    FROM events)
       |  WHERE from_type IS NOT NULL GROUP BY 1, 2),
       |tot AS (SELECT from_type, sum(cnt) AS tot FROM tr GROUP BY 1),
       |p AS (SELECT tr.from_type, tr.to_type, tr.cnt, tot.tot
       |  FROM tr JOIN tot USING (from_type)),
       |nodes AS (SELECT DISTINCT event_type FROM events),
       |pi0 AS (SELECT event_type,
       |    CAST($mkScale // (SELECT count(*) FROM nodes) AS HUGEINT) AS pi
       |  FROM nodes),
       |$rounds
       |SELECT event_type, CAST(pi AS BIGINT) AS pi_fp
       |FROM pi$mkIters""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "behavior_markov_stationary" -> markovStationaryOracle,
    "behavior_seq_support" ->
      """WITH u AS (SELECT user_id, event_type, min(ts) AS mn,
        |    max(ts) AS mx FROM events GROUP BY 1, 2),
        |n AS (SELECT count(DISTINCT user_id) AS nu FROM events),
        |p2 AS (SELECT x.event_type || '>' || y.event_type AS pattern,
        |    count(*) AS support
        |  FROM u x JOIN u y
        |    ON x.user_id = y.user_id AND x.mn < y.mx
        |  GROUP BY 1),
        |t3 AS (SELECT DISTINCT x.user_id, x.event_type AS a,
        |    e.event_type AS b, z.event_type AS c
        |  FROM u x JOIN u z ON x.user_id = z.user_id
        |  JOIN events e ON e.user_id = x.user_id
        |    AND e.ts > x.mn AND e.ts < z.mx),
        |p3 AS (SELECT a || '>' || b || '>' || c AS pattern,
        |    count(*) AS support
        |  FROM t3 GROUP BY 1),
        |allp AS (SELECT * FROM p2 UNION ALL SELECT * FROM p3)
        |SELECT pattern, support,
        |  CAST((SELECT nu FROM n) AS BIGINT) AS n_users,
        |  CAST(1000000 * support // (SELECT nu FROM n) AS BIGINT)
        |    AS support_q6
        |FROM allp""".stripMargin,
    "behavior_pattern_match" -> patternMatchOracle,
    "behavior_time_to_convert" ->
      """WITH c1 AS (SELECT user_id,
        |    min(date_trunc('second', CAST(ts AS TIMESTAMP))) AS c1
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |g AS (SELECT date_diff('second', c1.c1,
        |      min(date_trunc('second', CAST(e.ts AS TIMESTAMP)))) AS gap
        |  FROM events e JOIN c1 ON e.user_id = c1.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND date_trunc('second', CAST(e.ts AS TIMESTAMP)) > c1.c1
        |  GROUP BY c1.user_id, c1.c1),
        |h AS (SELECT gap, CAST(count(*) AS BIGINT) AS cnt FROM g
        |  GROUP BY 1),
        |c AS (SELECT *,
        |    CAST(sum(cnt) OVER (ORDER BY gap) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS n
        |  FROM h)
        |SELECT CAST(q.q AS BIGINT) AS q, gap AS gap_s, n AS n_converted
        |FROM c, (SELECT unnest([50, 90]) AS q) q
        |WHERE cum * 100 >= q.q * n AND (cum - cnt) * 100 < q.q * n""".stripMargin,
    "behavior_attribution_markov" -> markovOracle,
    "behavior_attribution_shapley" -> shapleyOracle,
    "behavior_rfm" -> {
      val qs = "[0.2, 0.4, 0.6, 0.8]"
      def above(c: String, arr: String) = (1 to 4)
        .map(k => s"(CASE WHEN $c > $arr[$k] THEN 1 ELSE 0 END)")
        .mkString(" + ")
      def below(c: String, arr: String) = (1 to 4)
        .map(k => s"(CASE WHEN $c < $arr[$k] THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH p AS (
         |  SELECT user_id, CAST(epoch(ts) AS BIGINT) AS es,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'),
         |u AS (
         |  SELECT user_id,
         |    CAST(((SELECT max(es) FROM p) - max(es)) // 86400 AS BIGINT)
         |      AS recency_days,
         |    count(1) AS frequency,
         |    CAST(sum(cents) AS BIGINT) AS monetary_cents
         |  FROM p GROUP BY user_id),
         |b AS (
         |  SELECT u.*,
         |    (SELECT quantile_cont(recency_days, $qs) FROM u) AS re,
         |    (SELECT quantile_cont(frequency, $qs) FROM u) AS fe,
         |    (SELECT quantile_cont(monetary_cents, $qs) FROM u) AS me
         |  FROM u)
         |SELECT user_id, recency_days, frequency, monetary_cents,
         |  CAST(1 + ${below("recency_days", "re")} AS BIGINT) AS r_bucket,
         |  CAST(1 + ${above("frequency", "fe")} AS BIGINT) AS f_bucket,
         |  CAST(1 + ${above("monetary_cents", "me")} AS BIGINT) AS m_bucket,
         |  CAST((1 + ${below("recency_days", "re")}) * 100
         |    + (1 + ${above("frequency", "fe")}) * 10
         |    + (1 + ${above("monetary_cents", "me")}) AS BIGINT) AS segment
         |FROM b""".stripMargin
    },
    "behavior_transitions" ->
      """WITH s AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type
        |  FROM events)
        |SELECT from_type, event_type AS to_type, count(*) AS cnt,
        |  count(DISTINCT user_id) AS n_users
        |FROM s WHERE from_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    "funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts FROM events),
        |v AS (SELECT user_id, min(ts) AS t0 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t1 FROM e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t2 FROM e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY 1)
        |SELECT 'view' AS stage, count(*) AS users FROM v
        |UNION ALL
        |SELECT 'click_after_view' AS stage, count(*) AS users FROM c
        |UNION ALL
        |SELECT 'purchase_after_click' AS stage, count(*) AS users FROM p""".stripMargin,
    // session assignment is textually the sessionize oracle (same gap
    // fixpoint); stage times nest via per-session joins — the window
    // form Spark runs is equivalent because t0/t1/t2 are per-session
    // scalars
    "funnel_sessionized" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN prev_ts IS NULL THEN 1
        |         WHEN date_diff('second', prev_ts, ts) > 1800 THEN 1
        |         ELSE 0 END AS is_new
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts, event_type,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM m),
        |t0s AS (SELECT user_id, session_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t0
        |  FROM s GROUP BY 1, 2),
        |t1s AS (SELECT s.user_id, s.session_id,
        |    min(CASE WHEN s.event_type = 'click' AND s.ts > t0s.t0
        |      THEN s.ts END) AS t1
        |  FROM s JOIN t0s ON s.user_id = t0s.user_id
        |    AND s.session_id = t0s.session_id
        |  GROUP BY 1, 2),
        |t2s AS (SELECT s.user_id, s.session_id,
        |    min(CASE WHEN s.event_type = 'purchase' AND s.ts > t1s.t1
        |      THEN s.ts END) AS t2
        |  FROM s JOIN t1s ON s.user_id = t1s.user_id
        |    AND s.session_id = t1s.session_id
        |  GROUP BY 1, 2),
        |g AS (SELECT t0s.t0, t1s.t1, t2s.t2
        |  FROM t0s
        |  JOIN t1s ON t0s.user_id = t1s.user_id
        |    AND t0s.session_id = t1s.session_id
        |  JOIN t2s ON t0s.user_id = t2s.user_id
        |    AND t0s.session_id = t2s.session_id)
        |SELECT count(*) AS n_sessions, count(t0) AS s_view,
        |  count(t1) AS s_click_after_view,
        |  count(t2) AS s_purchase_after_click
        |FROM g""".stripMargin,
    "window_rolling_distinct" ->
      """WITH bd AS (SELECT DISTINCT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |mx AS (SELECT max(d) AS dmax FROM bd),
        |x AS (SELECT user_id, d + j AS wd
        |  FROM bd, unnest([0, 1, 2, 3, 4, 5, 6]) AS u(j))
        |SELECT CAST(wd AS INT) AS day_index,
        |  count(DISTINCT user_id) AS wau
        |FROM x, mx WHERE wd <= dmax GROUP BY 1""".stripMargin,
    "behavior_user_growth" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        |  FROM events GROUP BY 1),
        |d AS (SELECT first_day, CAST(count(*) AS BIGINT) AS new_users
        |  FROM f GROUP BY 1)
        |SELECT first_day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY first_day) AS BIGINT)
        |    AS cum_users
        |FROM d""".stripMargin,
    "behavior_stickiness" ->
      """WITH bd AS (SELECT DISTINCT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |mx AS (SELECT max(d) AS dmax FROM bd),
        |x AS (SELECT user_id, d + j AS wd
        |  FROM bd, unnest([0, 1, 2, 3, 4, 5, 6]) AS u(j)),
        |w AS (SELECT CAST(wd AS INT) AS day_index,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM x, mx WHERE wd <= dmax GROUP BY 1),
        |da AS (SELECT CAST(d AS INT) AS day_index,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM bd GROUP BY 1)
        |SELECT day_index, dau, wau,
        |  CAST((1000000 * dau) // wau AS BIGINT) AS stickiness_q6
        |FROM w JOIN da USING (day_index)""".stripMargin,
    "cohort_retention" ->
      """WITH e AS (SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
        |  FROM events),
        |f AS (SELECT user_id, min(d) AS d0 FROM e GROUP BY 1)
        |SELECT CAST(f.d0 // 7 AS INT) AS cohort_week,
        |  CAST(e.d // 7 - f.d0 // 7 AS INT) AS week_offset,
        |  count(DISTINCT e.user_id) AS users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,
    "window_sliding" -> slidingOracle,
    "behavior_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    CAST(epoch(date_trunc('day', CAST(ts AS TIMESTAMP)))
        |      AS BIGINT) // 86400 AS d
        |  FROM events),
        |i AS (SELECT user_id, d,
        |    d - row_number() OVER (PARTITION BY user_id ORDER BY d)
        |      AS isl
        |  FROM d),
        |s AS (SELECT user_id, isl, count(*) AS len, min(d) AS d0
        |  FROM i GROUP BY 1, 2),
        |a AS (SELECT user_id, count(*) AS n_streaks,
        |    CAST(sum(len) AS BIGINT) AS n_active_days,
        |    CAST(max(len * 1000000 + (999999 - d0)) AS BIGINT) AS key
        |  FROM s GROUP BY 1)
        |SELECT user_id, n_streaks, n_active_days,
        |  key // 1000000 AS longest_streak,
        |  CAST(to_timestamp((999999 - key % 1000000) * 86400) AS DATE)
        |    AS streak_start
        |FROM a""".stripMargin,
    "behavior_paths" ->
      """WITH e AS (SELECT user_id,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |      AS day,
        |    event_type,
        |    CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP)))
        |      AS BIGINT) * 100000000 + event_id AS k
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, day
        |    ORDER BY k) AS rn FROM e),
        |j AS (SELECT user_id, day,
        |    max(CASE WHEN rn = 1 THEN event_type END) AS e1,
        |    max(CASE WHEN rn = 2 THEN event_type END) AS e2,
        |    max(CASE WHEN rn = 3 THEN event_type END) AS e3
        |  FROM r WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT concat_ws('>', e1, e2, e3) AS path,
        |  count(*) AS n_journeys
        |FROM j GROUP BY 1
        |ORDER BY n_journeys DESC, path LIMIT 10""".stripMargin,
    "behavior_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |    CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP)))
        |      AS BIGINT) * 100000000 + event_id AS k
        |  FROM events),
        |t AS (SELECT *, max(CASE WHEN event_type <> 'purchase'
        |      THEN printf('%018d', k) || '|' || event_type END)
        |    OVER (PARTITION BY user_id ORDER BY k
        |      RANGE BETWEEN 360000000000 PRECEDING AND CURRENT ROW)
        |    AS touch
        |  FROM e)
        |SELECT CASE WHEN touch IS NULL THEN 'direct'
        |    ELSE split_part(touch, '|', 2) END AS attributed_to,
        |  count(*) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    "behavior_attribution_linear" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |    CAST(epoch(date_trunc('second', CAST(ts AS TIMESTAMP)))
        |      AS BIGINT) * 100000000 + event_id AS k
        |  FROM events),
        |p AS (SELECT user_id, k AS pk,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, k AS tk, event_type AS touch_type
        |  FROM e WHERE event_type <> 'purchase'),
        |pr AS (SELECT p.user_id, p.pk, p.cents, t.tk, t.touch_type
        |  FROM p JOIN t ON p.user_id = t.user_id
        |   AND t.tk >= p.pk - 360000000000 AND t.tk < p.pk),
        |c AS (SELECT *,
        |    CAST(count(*) OVER (PARTITION BY user_id, pk) AS BIGINT)
        |      AS n_touches
        |  FROM pr)
        |SELECT touch_type AS event_type, count(*) AS n_credits,
        |  CAST(sum((1000000 * cents) // n_touches) AS BIGINT)
        |    AS credit_q6_sum
        |FROM c GROUP BY 1""".stripMargin)
}
