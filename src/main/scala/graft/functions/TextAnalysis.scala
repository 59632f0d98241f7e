package graft.functions

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines over `documents`
  * (mandated extension surface, BASELINE.json north_star): token stats,
  * quality scoring, language-ID heuristic, and document fingerprinting.
  *
  * All four are pure per-row column expressions built from higher-order
  * functions (`transform`/`filter`/`aggregate` over `split` arrays) — no
  * UDFs, no shuffles, fully parallel at any scale; each runs in a single
  * WholeStageCodegen pass over the scan.
  */
object TextAnalysis extends graft.GateModule {

  /** Whitespace tokenization (single-space corpus; a BPE-ish regex
    * variant is `split(text, "\\s+|(?=\\p{Punct})")` for real corpora). */
  def tokens(c: Column): Column = split(c, " ")

  // Small per-language stopword lists for the language-ID heuristic.
  val stopEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  val stopEs: Seq[String] = Seq("el", "la", "de", "y", "que", "en", "un")
  val stopDe: Seq[String] = Seq("der", "die", "das", "und", "zu", "ist", "ein")
  val stopFr: Seq[String] = Seq("le", "la", "de", "et", "un", "est", "que")

  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words))).cast("long")

  /** Quality-rule pieces shared by [[textQuality]] and its consumers
    * (TrainPrep.curate, TrainPrep.tokenBudget). One home: a change to
    * the stopword list or the keep thresholds reaches the scorer and
    * every pipeline that claims to apply "the same rule" — previously
    * the expressions were re-inlined at each site and could drift. */
  val qualityMinTokens = 40L
  private[graft] def stopCount(toks: Column): Column = hits(toks, stopEn)
  private[graft] def qualityKeep(nTok: Column, stopCnt: Column): Column =
    nTok >= qualityMinTokens && stopCnt > 0

  /** Token counting: total tokens, distinct tokens, chars. */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.docs(spark, dir).select(
      col("doc_id"),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_distinct"),
      length(col("text")).cast("long").as("n_chars_calc"))
  }

  /** GPT-2-family pretokenizer pattern, simplified to the subset whose
    * semantics agree between Java regex (Spark) and RE2 (DuckDB):
    * contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs, residual spaces. Leftmost-first alternation in
    * both engines; no lookarounds (RE2 has none). Exhaustive over the
    * corpus charset, so matches tile the text exactly — the spec
    * asserts sum(match lengths) == length(text). */
  val bpeLikePattern: String =
    "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  /** BPE-ish token counting — the subword-aware sibling of
    * [[textStats]]: every training-data budget is denominated in
    * TOKENIZER tokens, not whitespace words, so the pipeline needs a
    * tokenizer-shaped count long before the real BPE vocab enters the
    * picture. One regexp_extract_all per row (codegen'd, shuffle-free,
    * linear); `fertility` (tokens per word) is the standard
    * tokenizer-quality diagnostic. */
  def tokensBpe(spark: SparkSession, dir: String): DataFrame = {
    val matches = regexp_extract_all(col("text"), lit(bpeLikePattern), lit(0))
    val words = tokens(col("text"))
    Tables.docs(spark, dir).select(
      col("doc_id"),
      size(matches).cast("long").as("n_bpe"),
      size(words).cast("long").as("n_words"),
      aggregate(matches, lit(0L), (acc, m) => acc + length(m))
        .as("n_chars_tiled"),
      (size(matches).cast("double") / size(words).cast("double"))
        .as("fertility"))
  }

  /** Minimum bigram support for [[cooccurrence]]. */
  val pmiMinCount = 5L

  /** Bigram co-occurrence + PMI phrase flag — the phrase-mining
    * primitive (collocation detection) a corpus-analysis pipeline runs
    * before vocabulary decisions. Three hash aggregations (bigram
    * counts, unigram counts, total-token scalar) and two joins of the
    * supported bigrams against the unigram vocabulary; bigram
    * generation reuses the shuffle-free shingle generator. The PMI
    * threshold (PMI >= ln 2, i.e. observed >= 2x independence) is
    * decided by DECIMAL cross-multiplication — c_xy*N >= 2*c_x*c_y —
    * not by comparing float logarithms, whose last-ulp libm differences
    * across engines would break hash parity (same no-float-in-the-
    * decision pattern as `agg_outliers`). DECIMAL(14,0) casts keep the
    * products exact out to trillion-token corpora (28 digits < 38).
    * The total-token count rides the vocabulary-bounded global window
    * (|V| rows, one partition), not a cross join — a 1-row broadcast
    * join would plan as the BroadcastNestedLoopJoin the surface-wide
    * plan audit bans, and a separate count() action would re-scan the
    * corpus for one scalar. */
  def cooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.docs(spark, dir)
    def d14(c: Column) = c.cast(org.apache.spark.sql.types.DecimalType(14, 0))
    val toks = docs.select(explode(tokens(col("text"))).as("w"))
    // total-token count rides the vocabulary-bounded global window
    // (the lmScore pattern: |V| rows, one partition) instead of a
    // separate toks.count() job — that scalar cost a second full
    // corpus scan + explode whose only output was one Long
    val uni = toks.groupBy("w").agg(count(lit(1)).as("c"))
      .withColumn("n_total", sum(col("c")).over(graft.Tables.boundedGlobalFrame))
    val bi = graft.operators.Dedup.shingleRows(docs, n = 2)
      .groupBy("g").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= pmiMinCount)
      .select(substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"), col("c_xy"))
    bi
      .join(uni.select(col("w").as("w1"), col("c").as("c_x"),
        col("n_total")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        (d14(col("c_xy")) * d14(col("n_total")) >=
          d14(lit(2)) * d14(col("c_x")) * d14(col("c_y"))).as("is_phrase"))
  }

  /** Quality scoring: stopword ratio, mean token length, size class —
    * the length/punct/stopword family of pretraining-data filters. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t).cast("long")
    val stopCnt = hits(t, stopEn)
    val charSum = aggregate(t, lit(0L), (acc, x) => acc + length(x))
    Tables.docs(spark, dir).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      stopCnt.as("stop_cnt"),
      (stopCnt.cast("double") / nTok.cast("double")).as("stop_ratio"),
      (charSum.cast("double") / nTok.cast("double")).as("mean_tok_len"),
      when(qualityKeep(nTok, stopCnt), "keep").otherwise("drop")
        .as("quality_class"))
  }

  /** Language-ID: stopword-hit argmax with fixed tie priority
    * en > es > de > fr, else 'und'. Deterministic by construction. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val (en, es, de, fr) =
      (hits(t, stopEn), hits(t, stopEs), hits(t, stopDe), hits(t, stopFr))
    Tables.docs(spark, dir).select(
      col("doc_id"), col("lang").as("lang_label"),
      en.as("s_en"), es.as("s_es"), de.as("s_de"), fr.as("s_fr"),
      when(en + es + de + fr === 0, "und")
        .when(en >= es && en >= de && en >= fr, "en")
        .when(es >= de && es >= fr, "es")
        .when(de >= fr, "de")
        .otherwise("fr").as("pred_lang"))
  }

  /** Per-token rolling-hash term, shared by fingerprint and MinHash:
    * len(tok)*7 + ascii(first char), as BIGINT. */
  def tokenTerm(x: Column): Column =
    (length(x) * lit(7) + ascii(substring(x, 1, 1))).cast("long")

  /** Document fingerprinting: order-sensitive polynomial rolling hash
    * over the token stream, mod 1e9+7 (content-defined identity that is
    * cheap to compare/cluster at 100 TB). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val fp = aggregate(transform(t, tokenTerm _), lit(0L),
      (acc, term) => (acc * 31 + term) % 1000000007L)
    Tables.docs(spark, dir)
      .select(col("doc_id"), fp.as("fingerprint"))
  }

  /** Winnowing k-gram / selection-window widths (SWA 2003 §2: any
    * match of length ≥ k + w − 1 tokens is guaranteed to share a
    * selected fingerprint). */
  val winnowK = 4
  val winnowW = 4

  /** Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken, the
    * MOSS algorithm) — the position-robust sibling of the whole-doc
    * [[fingerprint]]: hash every [[winnowK]]-token k-gram, slide a
    * [[winnowW]]-wide window over the hash sequence, keep each
    * window's MINIMUM, and emit the distinct selected values. Any
    * shared passage of ≥ k+w−1 tokens between two documents is
    * guaranteed to surface as a shared fingerprint — the
    * plagiarism/near-dup index primitive that [[fingerprint]] (one
    * order-sensitive hash of the whole doc) cannot provide. Min-VALUE
    * selection per window is tie-safe (equal minima select the same
    * value), so the distinct set is engine-portable with no
    * tie-break convention at all.
    *
    * Everything is map-side per-document array arithmetic (token-term
    * codes → k-gram polynomial hashes → windowed minima → distinct →
    * explode): zero shuffles before the output, O(n·(k+w)) per doc.
    * This is deliberately a typed per-row kernel, NOT chained SQL
    * higher-order functions: the HOF formulation (`transform` over
    * `sequence` with `slice`+`aggregate`, then a second windowed
    * `transform`) LOOKS equivalent, but CollapseProject inlines each
    * intermediate array into every lambda that references it, so the
    * token array re-derives per k-gram and the k-gram array per
    * window — O(n²·k·w) per document. Measured at sf0.1: 395 s
    * inlined vs ~1 s here; winnowing is genuinely sequential per-row
    * logic, the case the mapPartitions escape hatch exists for. Docs
    * shorter than k+w−1 tokens have no full window and are skipped
    * (none exist in this corpus — min length 10 ≥ 8 — but the guard
    * keeps the operator total). */
  /** The pure winnowing kernel: token-term codes → selected distinct
    * fingerprints (empty when no full window exists). Factored out of
    * the Dataset stage so the SWA guarantee — any shared run of
    * ≥ k+w−1 tokens yields a shared fingerprint — is property-tested
    * directly (TextAnalysisSpec), without a Spark job per case. */
  private[graft] def winnowSelect(tm: Array[Long], k: Int, w: Int): Set[Long] = {
    val p = 1000000007L
    if (tm.length < k + w - 1) Set.empty
    else {
      val m = tm.length - k + 1
      val kg = new Array[Long](m)
      var i = 0
      while (i < m) {
        var acc = 0L
        var j = 0
        while (j < k) { acc = (acc * 31 + tm(i + j)) % p; j += 1 }
        kg(i) = acc
        i += 1
      }
      val sel = scala.collection.mutable.HashSet.empty[Long]
      var jw = 0
      while (jw <= m - w) {
        var mn = kg(jw)
        var t = 1
        while (t < w) { if (kg(jw + t) < mn) mn = kg(jw + t); t += 1 }
        sel += mn
        jw += 1
      }
      sel.toSet
    }
  }

  /** Token-term codes of a document (length*7 + first-char code).
    * Length and first char are CODE POINTS — SQL `length()` counts
    * code points and `ascii()` returns the first code point in both
    * Spark and DuckDB, so a UTF-16 `String.length`/`charAt` rendering
    * would diverge on any supplementary character; ascii('') = 0
    * matches the engine's empty-token guard. */
  private[graft] def termCodes(text: String): Array[Long] =
    text.split(" ", -1).map(t =>
      t.codePointCount(0, t.length).toLong * 7 +
        (if (t.isEmpty) 0L else t.codePointAt(0).toLong))

  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (k, w) = (winnowK, winnowW)
    Tables.docs(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        winnowSelect(termCodes(text), k, w).iterator.map(fp => (id, fp))
      }
      .toDF("doc_id", "fp")
  }

  /** Winnowing-pair knobs: fingerprints shared by more than
    * [[winnowDfCap]] documents are boilerplate and dropped before the
    * index join (the MOSS "too common to be interesting" rule — and
    * the skew guard that keeps the per-fingerprint join fan-out
    * ≤ cap²/2); pairs must share at least [[winnowMinShared]]
    * selected fingerprints to be reported. */
  val winnowDfCap = 20L
  val winnowMinShared = 2L

  /** Shared-passage candidate pairs from the winnowing index — what
    * MOSS actually does with the fingerprints: documents that share ≥
    * [[winnowMinShared]] selected (rare) fingerprints very likely
    * share a passage of ≥ k+w−1 tokens each match guarantees.
    * Composes [[winnowing]] with the inverted-index self-join idiom
    * ([[Retrieval]]'s shape): one df hash-agg, the boilerplate cap
    * (deterministic filter, not a sampling heuristic), one
    * fingerprint-keyed equi-join whose fan-out the cap bounds, one
    * pair-keyed count. All integers; no verify re-join needed because
    * the count IS the payload. */
  def winnowingPairs(spark: SparkSession, dir: String): DataFrame = {
    val fps = winnowing(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= winnowDfCap)
      .select("fp")
    val filtered = fps.join(rare, "fp")
    // checkpoint-then-release (CacheHygieneSpec): pair-bounded output,
    // the fingerprint frame must not outlive the call
    graft.Conf.checkpointThenRelease(
      filtered.as("x").join(filtered.as("y"),
          col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= winnowMinShared),
      fps)
  }

  /** Corpus term frequencies: explode tokens -> hash-agg counts ->
    * top-25 by (count desc, term). The generator-shaped (UDTF-like)
    * operator from SURVEY.md §2.10: term expansion is `explode` of a
    * split array, aggregation is map-side-partial counts, and the
    * top-k is a TakeOrderedAndProject — no global sort. */
  def termFreq(spark: SparkSession, dir: String): DataFrame =
    Tables.docs(spark, dir)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("term"))
      .limit(25)

  /** Per-document TF-IDF-style term weighting: top-3 terms per doc by
    * rarity-weighted score tf/df (ties by term). Two hash-aggregations
    * — (doc, term) counts, then term document-frequencies — one
    * term-keyed join, and a per-doc top-k window (WindowGroupLimit
    * prunes before the sort). The score is tf/df rather than
    * tf*ln(N/df) because libm `ln` is not bit-identical across engines
    * (the oracle would flake on ranking ties); the ranking is the same
    * rarity ordering for fixed tf, and production callers can apply
    * any monotone transform downstream. */
  def tfIdf(spark: SparkSession, dir: String): DataFrame = {
    // tf feeds both the score join and the df aggregation; persist so
    // the token explode + (doc, term) aggregation runs once
    val tf = Tables.docs(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    // checkpoint-then-release (CacheHygieneSpec)
    graft.Conf.checkpointThenRelease(
      tf.join(df, "term")
        .withColumn("score", col("tf").cast("double") / col("df").cast("double"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"), col("rn")),
      tf)
  }

  /** Text normalization — the scrub pass that precedes hashing/dedup in
    * a pretraining pipeline: lowercase, digits masked to '0', non-word
    * punctuation stripped, whitespace collapsed and trimmed. Pure
    * per-row regex column work (codegen'd, no shuffle); the op chain is
    * deliberately order-sensitive and the oracle runs the identical
    * chain (DuckDB regexp_replace needs the 'g' flag for replace-all
    * parity). */
  def cleanText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(c), "[0-9]", "0"),
        "[^a-z0 ]", ""),
      " +", " "))

  def textClean(spark: SparkSession, dir: String): DataFrame =
    Tables.docs(spark, dir)
      .select(col("doc_id"), cleanText(col("text")).as("clean_text"))

  /** Repetition detection (the duplicate-n-gram family of pretraining
    * quality rules): fraction of trigram occurrences that are repeats
    * of an earlier trigram in the same document. Reuses the
    * shuffle-free shingle generator; one doc-keyed aggregation. The
    * ratio is a single division of exact counts — deterministic. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.shingleRows(
        Tables.docs(spark, dir))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        countDistinct(col("g")).as("n_distinct"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        ((col("n_shingles") - col("n_distinct")).cast("double")
          / col("n_shingles").cast("double")).as("rep_ratio"))

  /** Weighted rule-ensemble quality classifier — the deterministic
    * stand-in for a learned (fasttext-style) quality scorer: each rule
    * is an INTEGER-exact test (ratios expressed cross-multiplied, the
    * same no-float-in-the-decision trick as `agg_outliers`), the score
    * is the sum of passed-rule weights, and the keep decision is a
    * threshold on the score. Swapping in learned weights changes the
    * constants, not the dataflow: one codegen'd projection, no
    * shuffle, linear at any corpus size. */
  /** The rule-ensemble score as a bare column over `text` — one home
    * for the expressions, shared by [[qualityScore]] and the composed
    * `train_pipeline` (which inlines the keep filter into its single
    * corpus pass instead of joining this gate's output). */
  private[graft] def qualityScoreExpr: Column = {
    val t = tokens(col("text"))
    val nTok = size(t).cast("long")
    val nDis = size(array_distinct(t)).cast("long")
    val stopCnt = hits(t, stopEn)
    val charSum = aggregate(t, lit(0L), (acc, x) => acc + length(x))
    val rLen = (nTok >= 20) && (nTok <= 1000)          // length band
    val rStop = stopCnt * 20 >= nTok                   // >= 5% stopwords
    val rDiv = nDis * 2 >= nTok                        // >= 50% distinct
    val rTokLen = charSum <= nTok * 8                  // mean tok len <= 8
    when(rLen, 2L).otherwise(0L) +
      when(rStop, 3L).otherwise(0L) +
      when(rDiv, 2L).otherwise(0L) +
      when(rTokLen, 1L).otherwise(0L)
  }

  /** Keep threshold shared with the composed pipeline. */
  private[graft] val qualityScoreKeepAt = 6L

  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val score = qualityScoreExpr
    Tables.docs(spark, dir)
      .select(col("doc_id"), score.as("score"),
        (score >= qualityScoreKeepAt).as("keep"))
  }

  /** The Gopher required-stopword set (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", appendix A1.1): a kept document must
    * contain at least [[gopherMinStops]] of these. The paper's
    * threshold is 2; this synthetic vocabulary contains only 'the'
    * from the set, so the gate runs 1 — same dataflow, and with 2 the
    * rule would zero out (no keep/drop signal to check). */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val gopherMinStops = 1L

  /** Gopher quality-filter rule set (Rae et al. 2021, A1.1) — the most
    * widely reused published pretraining filter, distinct from the
    * generic rule ensemble above. Token-level rules, each decided in
    * exact integer arithmetic (cross-multiplied ratios — no float in
    * any decision):
    *   1. 50 <= word count <= 100,000
    *   2. 3 <= mean word length <= 10 (3·n <= char_sum <= 10·n)
    *   3. symbol-to-word ratio <= 0.1 for '#' / '...' tokens
    *   4. >= 80% of words contain an alphabetic character
    *   5. contains >= 2 distinct [[gopherStops]] words
    * The line-shape rules (bullet-start / ellipsis-end line ratios)
    * don't apply to this corpus's single-line documents and are
    * omitted — on real multi-line data they'd be two more counts in
    * the same single codegen'd projection. No shuffle, linear at any
    * corpus size. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t).cast("long")
    val charSum = aggregate(t, lit(0L), (acc, x) => acc + length(x))
    val symCnt = size(filter(t, x =>
      instr(x, "#") > 0 || instr(x, "...") > 0)).cast("long")
    val alphaCnt = size(filter(t, x => x.rlike("[A-Za-z]"))).cast("long")
    val stopDis = gopherStops
      .map(w => when(array_contains(t, w), 1L).otherwise(0L))
      .reduce(_ + _)
    val rCount = nTok >= 50L && nTok <= 100000L
    val rWordLen = charSum >= nTok * 3L && charSum <= nTok * 10L
    val rSymbol = symCnt * 10L <= nTok
    val rAlpha = alphaCnt * 5L >= nTok * 4L
    val rStops = stopDis >= gopherMinStops
    Tables.docs(spark, dir).select(
      col("doc_id"), nTok.as("n_tok"),
      rCount.as("r_count"), rWordLen.as("r_word_len"),
      rSymbol.as("r_symbol"), rAlpha.as("r_alpha"), rStops.as("r_stops"),
      (rCount && rWordLen && rSymbol && rAlpha && rStops).as("keep"))
  }

  // --- PII redaction ------------------------------------------------------

  /** Redaction regexes (RE2-compatible, so the DuckDB oracle runs the
    * identical patterns): email, IPv4, NNN-NNN-NNNN phone. Order
    * matters — email first (its local part can contain digits), then IP
    * (dots), then phone (dashes); the classes are disjoint on
    * separators so later passes never see earlier matches. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "<EMAIL>"),
        ipRe, "<IP>"),
      phoneRe, "<PHONE>")

  /** PII redaction — the scrub every pretraining pipeline runs before
    * text leaves curation. The corpus itself is synthetic word salad, so
    * the gate plants one deterministic email/phone/IP per document
    * (derived from doc_id/source — still pure testdata arithmetic) and
    * then redacts; occurrence counts come from the pre-redaction text.
    * Pure per-row regex column work: codegen'd, shuffle-free,
    * linear at any corpus size. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val pii = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@"), col("source"),
      lit(".net or 555-"),
      lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
      lit("-0199 from 10.0."), pmod(col("doc_id"), lit(256)), lit(".7"))
    Tables.docs(spark, dir)
      .withColumn("pii_text", pii)
      .select(col("doc_id"),
        size(regexp_extract_all(col("pii_text"), lit(emailRe), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(col("pii_text"), lit(ipRe), lit(0)))
          .cast("long").as("n_ip"),
        size(regexp_extract_all(col("pii_text"), lit(phoneRe), lit(0)))
          .cast("long").as("n_phone"),
        redactPii(col("pii_text")).as("redacted"))
  }

  /** Posting-list cap for [[invertedIndex]] — the per-term payload
    * bound that keeps a stop-word's row from carrying the corpus. */
  val invCap = 20

  /** Inverted index (term → document frequency + capped posting list)
    * — the retrieval-side artifact a curation pipeline builds for
    * corpus search and contamination lookups. df counts EVERY posting;
    * only the stored list is capped to the first [[invCap]] doc_ids, so
    * a stop-word term costs one row with a bounded payload instead of a
    * corpus-length array (`collect_list` over a cap-filtered column
    * holds at most [[invCap]] values per group — the cap is enforced
    * BEFORE collection by the row_number, not by slicing afterwards).
    * Postings ship as a comma-joined string: engines disagree on array
    * text canonicalization, strings hash-compare exactly. One window
    * (term-keyed rank) + one hash agg. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("doc_id"))
    Tables.docs(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
      .withColumn("rn", row_number().over(w))
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        array_join(sort_array(collect_list(
          when(col("rn") <= invCap, col("doc_id")))), ",").as("postings"))
  }

  /** floor(log2(n)) for a positive integer column, EXACTLY: the binary
    * digit count minus one. Integer/string ops only — libm log is not
    * bit-identical across engines (see [[tfIdf]]), so a gate using real
    * logs would flake; the floor-log2 "bit surprisal" keeps the same
    * rarity ordering and reproduces exactly in DuckDB
    * (length(printf('%b', n)) - 1). */
  def flog2(c: Column): Column =
    (length(conv(c, 10, 2)) - 1).cast("long")

  /** CCNet-style unigram language-model scoring (Wenzek et al., 2020
    * filter corpora by LM perplexity): train a unigram model on the
    * corpus itself, score every document by its mean per-token
    * surprisal, here in exact integer bits (-floor(log2(p)) =
    * flog2(N) - flog2(c)). High avg_bits = rare-token-heavy documents
    * (gibberish, codes, boilerplate IDs); low = stopword soup. Plan
    * mirrors [[tfIdf]]: one persisted (doc, term) hash-agg feeds both
    * the model build and the scoring join, the model total rides a
    * 1-row broadcast, and every aggregate is algebraic — two shuffles
    * total regardless of corpus size. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.docs(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // model total via a global window over the VOCABULARY (bounded —
    // one partition of |V| rows, not corpus rows); a 1-row
    // crossJoin(broadcast(...)) would be equivalent but plans as a
    // BroadcastNestedLoopJoin, which the surface-wide plan audit bans
    val wAll = graft.Tables.boundedGlobalFrame
    val uni = tf.groupBy("term").agg(sum("tf").as("c"))
      .withColumn("n_total", sum(col("c")).over(wAll))
    // checkpoint-then-release (CacheHygieneSpec)
    graft.Conf.checkpointThenRelease(
      tf.join(uni, "term")
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * (flog2(col("n_total")) - flog2(col("c"))))
            .as("bits"))
        .select(col("doc_id"), col("n_tokens"), col("bits"),
          (col("bits").cast("double") / col("n_tokens").cast("double"))
            .as("avg_bits")),
      tf)
  }

  /** Bigram language-model scoring with add-one smoothing — the
    * second-order upgrade of [[lmScore]]: a document full of common
    * words in IMPLAUSIBLE order (shuffled text, keyword stuffing,
    * template glitches) scores low on a unigram model but high here,
    * because P(w_i | w_{i-1}) = (c(w_{i-1}w_i)+1) / (c(w_{i-1}·)+V)
    * sees the broken transitions. Surprisal stays exact integer bits:
    * flog2(c_prefix + V) − flog2(c_bigram + 1), with V the corpus
    * unigram vocabulary (the add-one denominator convention). Plan
    * mirrors [[lmScore]] with bigram keys: tokens split once, bigrams
    * materialize map-side (a `transform` over index positions — no
    * self-join of the token stream), one persisted (doc, w1, w2) agg
    * feeds both model aggregates and the scoring join, and V is a
    * bounded driver scalar (the Zorder pattern). Shuffle keys are
    * (w1, w2) pairs — Zipf-skewed like all token keys; the salting
    * note on [[tfIdf]] applies identically. */
  def lmBigramScore(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> " +
          "struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
        .as("b"))
      .groupBy(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // vocab size as a broadcast 1-row frame inside the ONE action
    // (was a separate driver-collect pass scheduled before the scoring
    // DAG; the tokenize work is identical, the extra action is not).
    // NOT derivable from bg: single-token docs contribute vocabulary
    // but no bigram rows.
    val vocab = Tables.docs(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .agg(countDistinct(col("w")).as("vocab_v"))
      // non-foldable always-zero key (pmod of a data column): a literal
      // key would be constant-folded into a nested-loop cross join
      .withColumn("_k", pmod(col("vocab_v"), lit(1L)))
    val cb = bg.groupBy("w1", "w2").agg(sum("tf").as("cb"))
    val cp = bg.groupBy("w1").agg(sum("tf").as("cp"))
    // checkpoint-then-release (CacheHygieneSpec)
    graft.Conf.checkpointThenRelease(
      bg.join(cb, Seq("w1", "w2")).join(cp, Seq("w1"))
        .withColumn("_k", pmod(col("tf"), lit(1L)))
        .join(broadcast(vocab), "_k")
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_bigrams"),
          sum(col("tf") * (flog2(col("cp") + col("vocab_v"))
            - flog2(col("cb") + 1))).as("bits"))
        .select(col("doc_id"), col("n_bigrams"), col("bits"),
          (col("bits").cast("double") / col("n_bigrams").cast("double"))
            .as("avg_bits")),
      bg)
  }

  /** Character-diversity score — the entropy-flavored repetition /
    * gibberish signal, in the same exact bit arithmetic as
    * [[lmScore]]: ent_num = n*flog2(n) - Σ c_i*flog2(c_i) over
    * per-character counts c_i (the numerator of the plug-in Shannon
    * entropy with floor-log2; 0 for single-character runs, large for
    * diverse text). Chars explode map-side off the scan; the only
    * shuffle is the (doc, char) hash-agg — distinct chars per doc is
    * bounded by the alphabet, so the combine crushes the volume. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.docs(spark, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '.', 0)")).as("ch"))
      .groupBy("doc_id", "ch")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_chars"),
        sum(col("c") * flog2(col("c"))).as("sum_clog"))
      .select(col("doc_id"), col("n_chars"),
        (col("n_chars") * flog2(col("n_chars")) - col("sum_clog"))
          .as("ent_num"),
        ((col("n_chars") * flog2(col("n_chars")) - col("sum_clog"))
          .cast("double") / col("n_chars").cast("double")).as("ent_bits"))

  /** Merge rounds learned by [[bpeTrain]]. */
  val bpeMergeRounds = 6

  /** Distributed BPE merge training (Sennrich et al., ACL'16: "Neural
    * Machine Translation of Rare Words with Subword Units") — the
    * tokenizer-TRAINING side of the pipeline ([[tokensBpe]] only counts
    * with a fixed pretokenizer; this learns the merge table itself).
    *
    * Scale shape — the reason BPE training distributes at all: the ONE
    * corpus-scale stage is the word-count aggregation (map-side
    * combine, one shuffle); every merge round then runs on the WORD
    * VOCABULARY weighted by corpus counts — pair counting is a
    * vocab-bounded hash agg, the argmax is a 1-row TakeOrdered collect
    * (total order (count DESC, left, right) — deterministic across
    * partitionings), and applying the merge is one map-side string
    * replace. A 10^9-word vocab at 100 TB keeps every round
    * shuffle-light while the corpus is never rescanned.
    *
    * Symbol sequences are stored as `_sym_` concatenations so a merge
    * is ONE literal `replace(s, '_a__b_', '_ab_')`: both engines scan
    * left-to-right over non-overlapping matches, which IS greedy BPE
    * pair application ("aaaa" + (a,a) → [aa][aa]); per-symbol wrapping
    * keeps replacements boundary-aligned even across adjacent merges.
    * localCheckpoint per round truncates the growing plan (the
    * dupClusters discipline). Output: the learned merge table
    * (rank, left_sym, right_sym, pair_count). */
  /** The shared training loop: returns the post-merge symbolized
    * vocabulary (for [[bpeApply]]) and the learned merge table (for
    * [[bpeTrain]]). */
  private def bpeLoop(spark: SparkSession, dir: String)
      : (DataFrame, Seq[(Long, String, String, Long)]) = {
    var vocab = Tables.docs(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .withColumn("s", regexp_replace(col("w"), "(.)", "_$1_"))
      .localCheckpoint() // vocab-bounded
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    for (t <- 1 to bpeMergeRounds) {
      // adjacent symbol pairs, weighted by corpus word count:
      // transform-with-index pairs sy[i] with sy[i+1]; element_at
      // past the end yields null, filtered before the explode
      val pairs = vocab
        .select(col("wc"), split(expr("btrim(s, '_')"), "__").as("sy"))
        .select(col("wc"), explode(expr(
          """filter(transform(sy, (x, i) ->
             |  struct(x AS a, element_at(sy, i + 2) AS b)),
             |  p -> p.b IS NOT NULL)""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wc")).as("c"))
      val top = pairs
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect()(0) // ONE row: the argmax merge
      val (a, b, c) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((t.toLong, a, b, c))
      // build the replace through Column/lit, NOT an interpolated expr
      // string: merge symbols are corpus-derived, and a vocabulary
      // word containing a quote or backslash (the bpeLikePattern's
      // first alternative explicitly anticipates apostrophes) would
      // crash SQL parsing mid-round if spliced into SQL text
      vocab = vocab.withColumn("s",
          org.apache.spark.sql.functions.replace(col("s"),
            lit(s"_${a}__${b}_"), lit(s"_${a}${b}_")))
        .localCheckpoint()
    }
    (vocab, merges.toSeq)
  }

  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeLoop(spark, dir)._2.toDF("rank", "left_sym", "right_sym", "pair_count")
  }

  /** BPE merge APPLICATION — the encode side that closes the tokenizer
    * loop ([[bpeTrain]] learns the merges, this runs them over the
    * corpus and reports what a training pipeline actually budgets
    * with: per-document subword counts and fertility (subwords per
    * word, q6). Greedy merge application is already materialized in
    * the training loop's final vocabulary (`s` after all rounds), so
    * encoding is a VOCABULARY-sized map (word → symbol count), never a
    * second corpus-scale merge pass: the corpus touches only one
    * tokenize + (doc, word) count and one word-keyed join against the
    * vocab — the tf-idf plan shape. At 100 TB the vocab side is
    *10⁹-bounded and hash-joins; the merge loop itself is amortized
    * across both gates exactly as a saved tokenizer would be. */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val (vocab, _) = bpeLoop(spark, dir)
    val sub = vocab.select(col("w"),
      size(split(expr("btrim(s, '_')"), "__")).cast("long").as("n_sub"))
    Tables.docs(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .join(sub, "w")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_words"),
        sum(col("tf") * col("n_sub")).as("n_subwords"))
      .select(col("doc_id"), col("n_words"), col("n_subwords"),
        expr("(1000000 * n_subwords) DIV n_words").as("fertility_q6"))
  }

  /** Terms filtered by [[blocklistFilter]] — a stand-in for the
    * content-policy/NSFW wordlists every pretraining pipeline screens
    * against (here drawn from the corpus vocabulary so the gate has
    * real hits). */
  val blockedTerms = Seq("slow", "big", "hash")

  /** Blocklist screening: per document, the number of blocked token
    * INSTANCES, the number of distinct blocked terms, and the keep
    * verdict (zero hits). A literal-IN predicate over the exploded
    * token stream — fully codegen'd, one hash agg, no join at this
    * list size; a production-scale list (10^5+ phrases) swaps the IN
    * for a broadcast-hash semi-join against a blocklist table with the
    * identical downstream agg, and phrase (multi-token) entries ride
    * the [[graft.operators.Dedup.shingleRows]] generator instead of
    * single tokens. */
  def blocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    val hit = col("tok").isin(blockedTerms: _*)
    graft.Tables.docs(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id")
      .agg(
        coalesce(sum(when(hit, 1L)), lit(0L)).as("n_hits"),
        countDistinct(when(hit, col("tok"))).as("n_blocked_terms"),
        (coalesce(sum(when(hit, 1L)), lit(0L)) === 0).as("keep"))
  }

  /** N-gram novelty scoring — the "how much of this document is new
    * text" signal dedup pipelines use to RANK documents rather than
    * just drop them (a doc that is 95% boilerplate but 5% novel may
    * still be worth keeping; one that is 0% novel is not): a trigram
    * is OWNED by the smallest doc_id containing it, and a document's
    * novelty is the fraction of its distinct trigrams it owns,
    * published q6. First-occurrence-by-corpus-order is the same
    * deterministic convention as `dedup_blocks`.
    *
    * Plan: the shuffle-free shingle generator → distinct (doc, gram)
    * → one gram-keyed agg for owners → one gram-keyed join to hand
    * each (doc, gram) its owner → one doc-keyed agg. Work and shuffle
    * are linear in corpus shingle volume; a boilerplate gram shared by
    * d docs costs d join rows against its ONE owner row (the d-vs-d²
    * distinction of the Jaccard verifier — never a gram self-join). */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val g = graft.operators.Dedup
      .shingleRows(graft.Tables.docs(spark, dir))
      .distinct()
    val owners = g.groupBy("g").agg(min(col("doc_id")).as("owner"))
    g.join(owners, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(when(col("owner") === col("doc_id"), 1L)), lit(0L))
          .as("n_owned"))
      .selectExpr("doc_id", "n_grams", "n_owned",
        "(1000000 * n_owned) DIV n_grams AS novelty_q6")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_novelty" -> ngramNovelty _,
    "text_blocklist" -> blocklistFilter _,
    "text_bpe_train" -> bpeTrain _,
    "text_bpe_apply" -> bpeApply _,
    "text_lm_score" -> lmScore _,
    "text_lm_bigram" -> lmBigramScore _,
    "text_entropy" -> charEntropy _,
    "text_inverted_index" -> invertedIndex _,
    "text_tokens_bpe" -> tokensBpe _,
    "text_pmi" -> cooccurrence _,
    "pii_redact" -> piiRedact _,
    "text_quality_score" -> qualityScore _,
    "text_gopher" -> gopherRules _,
    "text_clean" -> textClean _,
    "text_repetition" -> textRepetition _,
    "text_stats" -> textStats _,
    "text_quality" -> textQuality _,
    "text_langid" -> langId _,
    "text_fingerprint" -> fingerprint _,
    "text_winnowing" -> winnowing _,
    "dedup_winnowing_pairs" -> winnowingPairs _,
    "text_terms" -> termFreq _,
    "text_tfidf" -> tfIdf _)

  private def sqlHits(l: Seq[String]): String =
    l.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Flat CTE list ending in `qs(doc_id, score)` — shared with the
    * composite `train_pipeline` oracle. */
  def qualityScoreCtes: String =
    s"""qf AS (SELECT doc_id,
       |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok,
       |    CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS n_dis,
       |    CAST(len(list_filter(str_split(text, ' '),
       |      x -> x IN ${sqlHits(stopEn)})) AS BIGINT) AS stop_cnt,
       |    CAST(list_sum(list_transform(str_split(text, ' '),
       |      x -> length(x))) AS BIGINT) AS char_sum
       |  FROM documents),
       |qs AS (SELECT doc_id,
       |    (CASE WHEN n_tok >= 20 AND n_tok <= 1000 THEN 2 ELSE 0 END
       |     + CASE WHEN stop_cnt * 20 >= n_tok THEN 3 ELSE 0 END
       |     + CASE WHEN n_dis * 2 >= n_tok THEN 2 ELSE 0 END
       |     + CASE WHEN char_sum <= n_tok * 8 THEN 1 ELSE 0 END) AS score
       |  FROM qf)""".stripMargin

  /** DuckDB rendering of [[flog2]]. */
  private[graft] def flog2Sql(x: String): String =
    s"(length(printf('%b', CAST($x AS BIGINT))) - 1)"

  /** DuckDB rendering of the [[bpeTrain]] loop: one CTE triple per
    * merge round (pair counts from the split symbol string, the
    * (c DESC, a, b) argmax, the boundary-aligned replace), unrolled
    * [[bpeMergeRounds]] times. range(1, 64) bounds adjacent-pair
    * positions — corpus words are ≤ 8 chars and the WHERE truncates
    * to the true length regardless. */
  /** Shared CTE prefix: v0 plus one (pair-count, argmax, replace)
    * triple per round; vN is the post-merge vocabulary. */
  private def bpeCtes: String = {
    val base = """v0 AS (SELECT w, CAST(count(*) AS BIGINT) AS wc,
      |  regexp_replace(w, '(.)', '_\1_', 'g') AS s
      |  FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w)""".stripMargin
    val rounds = (1 to bpeMergeRounds).map { t =>
      val prev = if (t == 1) "v0" else s"v${t - 1}"
      s"""p$t AS (
         |  SELECT sy[CAST(i AS INTEGER)] AS a,
         |    sy[CAST(i + 1 AS INTEGER)] AS b,
         |    CAST(sum(wc) AS BIGINT) AS c
         |  FROM (SELECT wc, str_split(trim(s, '_'), '__') AS sy FROM $prev)
         |  CROSS JOIN range(1, 64) r(i) WHERE i < len(sy)
         |  GROUP BY 1, 2),
         |m$t AS (SELECT a, b, c FROM p$t ORDER BY c DESC, a ASC, b ASC
         |  LIMIT 1),
         |v$t AS (SELECT w, wc,
         |  replace(s, '_' || m.a || '__' || m.b || '_',
         |    '_' || m.a || m.b || '_') AS s
         |  FROM $prev CROSS JOIN m$t m)""".stripMargin
    }
    s"$base,\n${rounds.mkString(",\n")}"
  }

  private def bpeTrainOracle: String = {
    val finals = (1 to bpeMergeRounds).map(t =>
      s"""SELECT CAST($t AS BIGINT) AS rank, a AS left_sym,
         |  b AS right_sym, c AS pair_count FROM m$t""".stripMargin)
    s"WITH $bpeCtes\n${finals.mkString(" UNION ALL ")}"
  }

  /** [[bpeApply]] oracle: training CTEs replayed, then the same
    * vocab-map + word-keyed join. */
  private def bpeApplyOracle: String =
    s"""WITH $bpeCtes,
       |sub AS (SELECT w,
       |    CAST(len(str_split(trim(s, '_'), '__')) AS BIGINT) AS n_sub
       |  FROM v$bpeMergeRounds),
       |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w
       |        FROM documents)
       |  GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
       |  CAST(sum(tf * n_sub) AS BIGINT) AS n_subwords,
       |  (1000000 * CAST(sum(tf * n_sub) AS BIGINT))
       |    // CAST(sum(tf) AS BIGINT) AS fertility_q6
       |FROM tf JOIN sub USING (w) GROUP BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_bpe_train" -> bpeTrainOracle,
    "text_bpe_apply" -> bpeApplyOracle,
    "text_novelty" ->
      """WITH d AS (SELECT doc_id, str_split(text, ' ') AS t
        |  FROM documents WHERE len(str_split(text, ' ')) >= 3),
        |g AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, unnest(list_transform(range(len(t) - 2),
        |    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS g
        |  FROM d)),
        |o AS (SELECT g, min(doc_id) AS owner FROM g GROUP BY 1)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  CAST(count(*) FILTER (WHERE o.owner = g.doc_id) AS BIGINT)
        |    AS n_owned,
        |  (1000000 * CAST(count(*) FILTER (WHERE o.owner = g.doc_id)
        |    AS BIGINT)) // count(*) AS novelty_q6
        |FROM g JOIN o USING (g) GROUP BY 1""".stripMargin,
    "text_blocklist" -> {
      val inList = blockedTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(count(*) FILTER (WHERE tok IN ($inList)) AS BIGINT)
         |    AS n_hits,
         |  CAST(count(DISTINCT tok) FILTER (WHERE tok IN ($inList))
         |    AS BIGINT) AS n_blocked_terms,
         |  count(*) FILTER (WHERE tok IN ($inList)) = 0 AS keep
         |FROM t GROUP BY 1""".stripMargin
    },
    "text_lm_bigram" ->
      s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS t
         |  FROM documents),
         |bg AS (SELECT doc_id, t[g] AS w1, t[g+1] AS w2, count(*) AS tf
         |  FROM t, LATERAL (SELECT unnest(range(1, len(t))) AS g) s
         |  WHERE len(t) >= 2 GROUP BY 1, 2, 3),
         |v AS (SELECT count(DISTINCT w) AS vv FROM (
         |  SELECT unnest(str_split(text, ' ')) AS w FROM documents)),
         |cb AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cb
         |  FROM bg GROUP BY 1, 2),
         |cp AS (SELECT w1, CAST(sum(tf) AS BIGINT) AS cp
         |  FROM bg GROUP BY 1)
         |SELECT bg.doc_id, CAST(sum(bg.tf) AS BIGINT) AS n_bigrams,
         |  CAST(sum(bg.tf * (${flog2Sql("cp.cp + v.vv")}
         |    - ${flog2Sql("cb.cb + 1")})) AS BIGINT) AS bits,
         |  CAST(sum(bg.tf * (${flog2Sql("cp.cp + v.vv")}
         |    - ${flog2Sql("cb.cb + 1")})) AS DOUBLE)
         |    / CAST(sum(bg.tf) AS DOUBLE) AS avg_bits
         |FROM bg JOIN cb USING (w1, w2) JOIN cp USING (w1)
         |  CROSS JOIN v
         |GROUP BY 1""".stripMargin,
    "text_lm_score" ->
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(str_split(text, ' ')) AS term
         |    FROM documents) GROUP BY 1, 2),
         |uni AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c
         |  FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni)
         |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         |  CAST(sum(tf.tf * (${flog2Sql("tot.n_total")}
         |    - ${flog2Sql("uni.c")})) AS BIGINT) AS bits,
         |  CAST(sum(tf.tf * (${flog2Sql("tot.n_total")}
         |    - ${flog2Sql("uni.c")})) AS DOUBLE)
         |    / CAST(sum(tf.tf) AS DOUBLE) AS avg_bits
         |FROM tf JOIN uni USING (term) CROSS JOIN tot
         |GROUP BY 1""".stripMargin,
    "text_entropy" ->
      s"""WITH cc AS (SELECT doc_id, ch, count(*) AS c FROM (
         |    SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch
         |    FROM documents) GROUP BY 1, 2),
         |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
         |    CAST(sum(c * ${flog2Sql("c")}) AS BIGINT) AS sum_clog
         |  FROM cc GROUP BY 1)
         |SELECT doc_id, n_chars,
         |  n_chars * ${flog2Sql("n_chars")} - sum_clog AS ent_num,
         |  CAST(n_chars * ${flog2Sql("n_chars")} - sum_clog AS DOUBLE)
         |    / CAST(n_chars AS DOUBLE) AS ent_bits
         |FROM agg""".stripMargin,
    "text_inverted_index" ->
      s"""WITH tok AS (SELECT doc_id,
         |    unnest(list_distinct(str_split(text, ' '))) AS term
         |  FROM documents),
         |r AS (SELECT term, doc_id,
         |    row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
         |  FROM tok)
         |SELECT term, count(*) AS df,
         |  string_agg(CASE WHEN rn <= $invCap
         |    THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY doc_id)
         |    AS postings
         |FROM r GROUP BY term""".stripMargin,
    "text_pmi" ->
      s"""WITH d AS (SELECT str_split(text, ' ') AS t FROM documents),
         |tok AS (SELECT unnest(t) AS w FROM d),
         |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
         |n AS (SELECT count(*) AS n FROM tok),
         |bg AS (SELECT unnest(list_transform(range(len(t) - 1),
         |    i -> t[i+1] || ' ' || t[i+2])) AS g
         |  FROM d WHERE len(t) >= 2),
         |bc AS (SELECT g, count(*) AS c_xy FROM bg GROUP BY g
         |  HAVING count(*) >= $pmiMinCount),
         |sp AS (SELECT split_part(g, ' ', 1) AS w1,
         |    split_part(g, ' ', 2) AS w2, c_xy FROM bc)
         |SELECT sp.w1, sp.w2, sp.c_xy, x.c AS c_x, y.c AS c_y,
         |  CAST(sp.c_xy AS DECIMAL(14,0)) * CAST(n.n AS DECIMAL(14,0))
         |    >= 2 * CAST(x.c AS DECIMAL(14,0)) * CAST(y.c AS DECIMAL(14,0))
         |    AS is_phrase
         |FROM sp
         |JOIN uni x ON x.w = sp.w1
         |JOIN uni y ON y.w = sp.w2
         |CROSS JOIN n""".stripMargin,
    "text_tokens_bpe" -> {
      val p = bpeLikePattern.replace("'", "''")
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_bpe,
         |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(regexp_extract_all(text, '$p'),
         |    x -> length(x))) AS BIGINT) AS n_chars_tiled,
         |  CAST(len(regexp_extract_all(text, '$p')) AS DOUBLE)
         |    / CAST(len(str_split(text, ' ')) AS DOUBLE) AS fertility
         |FROM documents""".stripMargin
    },
    "text_quality_score" ->
      s"""WITH $qualityScoreCtes
         |SELECT doc_id, CAST(score AS BIGINT) AS score,
         |  score >= 6 AS keep FROM qs""".stripMargin,
    "text_gopher" -> {
      val stopSum = gopherStops
        .map(w => s"(CASE WHEN list_contains(t, '$w') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH g AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
         |f AS (SELECT doc_id,
         |    CAST(len(t) AS BIGINT) AS n_tok,
         |    CAST(list_sum(list_transform(t, x -> length(x)))
         |      AS BIGINT) AS char_sum,
         |    CAST(len(list_filter(t, x -> contains(x, '#')
         |      OR contains(x, '...'))) AS BIGINT) AS sym_cnt,
         |    CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
         |      AS BIGINT) AS alpha_cnt,
         |    CAST($stopSum AS BIGINT) AS stop_dis
         |  FROM g)
         |SELECT doc_id, n_tok,
         |  n_tok >= 50 AND n_tok <= 100000 AS r_count,
         |  char_sum >= n_tok * 3 AND char_sum <= n_tok * 10 AS r_word_len,
         |  sym_cnt * 10 <= n_tok AS r_symbol,
         |  alpha_cnt * 5 >= n_tok * 4 AS r_alpha,
         |  stop_dis >= $gopherMinStops AS r_stops,
         |  (n_tok >= 50 AND n_tok <= 100000)
         |    AND (char_sum >= n_tok * 3 AND char_sum <= n_tok * 10)
         |    AND sym_cnt * 10 <= n_tok
         |    AND alpha_cnt * 5 >= n_tok * 4
         |    AND stop_dis >= $gopherMinStops AS keep
         |FROM f""".stripMargin
    },
    "pii_redact" ->
      s"""WITH p AS (SELECT doc_id,
         |  text || ' contact user' || doc_id || '@' || source ||
         |    '.net or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
         |    '-0199 from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
         |    AS pii_text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii_text, '$emailRe')) AS BIGINT)
         |    AS n_email,
         |  CAST(len(regexp_extract_all(pii_text, '$ipRe')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(pii_text, '$phoneRe')) AS BIGINT)
         |    AS n_phone,
         |  regexp_replace(regexp_replace(regexp_replace(pii_text,
         |    '$emailRe', '<EMAIL>', 'g'),
         |    '$ipRe', '<IP>', 'g'),
         |    '$phoneRe', '<PHONE>', 'g') AS redacted
         |FROM p""".stripMargin,
    "text_clean" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(
        |    lower(text), '[0-9]', '0', 'g'), '[^a-z0 ]', '', 'g'),
        |    ' +', ' ', 'g')) AS clean_text
        |FROM documents""".stripMargin,
    "text_repetition" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(len(str_split(text, ' ')) - 2),
        |    i -> str_split(text, ' ')[i+1] || ' ' ||
        |         str_split(text, ' ')[i+2] || ' ' ||
        |         str_split(text, ' ')[i+3])) AS g
        |  FROM documents WHERE len(str_split(text, ' ')) >= 3)
        |SELECT doc_id, count(*) AS n_shingles,
        |  count(DISTINCT g) AS n_distinct,
        |  CAST(count(*) - count(DISTINCT g) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS rep_ratio
        |FROM g GROUP BY doc_id""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        |  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS n_distinct,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc
        |FROM documents""".stripMargin,
    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(toks, x -> x IN ${sqlHits(stopEn)})) AS BIGINT) AS stop_cnt,
         |  CAST(len(list_filter(toks, x -> x IN ${sqlHits(stopEn)})) AS DOUBLE)
         |    / CAST(len(toks) AS DOUBLE) AS stop_ratio,
         |  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
         |    / CAST(len(toks) AS DOUBLE) AS mean_tok_len,
         |  CASE WHEN len(toks) >= 40
         |        AND len(list_filter(toks, x -> x IN ${sqlHits(stopEn)})) > 0
         |       THEN 'keep' ELSE 'drop' END AS quality_class
         |FROM t""".stripMargin,
    "text_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, str_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, lang,
         |  CAST(len(list_filter(toks, x -> x IN ${sqlHits(stopEn)})) AS BIGINT) AS s_en,
         |  CAST(len(list_filter(toks, x -> x IN ${sqlHits(stopEs)})) AS BIGINT) AS s_es,
         |  CAST(len(list_filter(toks, x -> x IN ${sqlHits(stopDe)})) AS BIGINT) AS s_de,
         |  CAST(len(list_filter(toks, x -> x IN ${sqlHits(stopFr)})) AS BIGINT) AS s_fr
         |FROM t)
         |SELECT doc_id, lang AS lang_label, s_en, s_es, s_de, s_fr,
         |  CASE WHEN s_en + s_es + s_de + s_fr = 0 THEN 'und'
         |       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
         |       WHEN s_de >= s_fr THEN 'de'
         |       ELSE 'fr' END AS pred_lang
        |FROM s""".stripMargin,
    "text_terms" ->
      """SELECT term, count(*) AS cnt
        |FROM (SELECT unnest(str_split(text, ' ')) AS term FROM documents)
        |GROUP BY term ORDER BY cnt DESC, term ASC LIMIT 25""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(str_split(text, ' '),
        |        x -> CAST(length(x) * 7 + ascii(x[1]) AS BIGINT))),
        |    (acc, term) -> (acc * 31 + term) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin,
    "text_winnowing" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_transform(str_split(text, ' '),
         |      x -> CAST(length(x) * 7 + ascii(x[1]) AS BIGINT)) AS tm
         |  FROM documents),
         |f AS (SELECT doc_id, tm FROM t
         |  WHERE len(tm) >= ${winnowK + winnowW - 1}),
         |kgr AS (SELECT doc_id,
         |    list_transform(range(len(tm) - ${winnowK} + 1), i ->
         |      list_reduce(
         |        list_prepend(CAST(0 AS BIGINT), tm[i+1:i+${winnowK}]),
         |        (acc, x) -> (acc * 31 + x) % 1000000007)) AS kg
         |  FROM f),
         |sel AS (SELECT doc_id,
         |    list_distinct(list_transform(range(len(kg) - ${winnowW} + 1),
         |      j -> list_min(kg[j+1:j+${winnowW}]))) AS s
         |  FROM kgr)
         |SELECT doc_id, CAST(u.fp AS BIGINT) AS fp
         |FROM sel, unnest(sel.s) AS u(fp)""".stripMargin,
    "dedup_winnowing_pairs" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_transform(str_split(text, ' '),
         |      x -> CAST(length(x) * 7 + ascii(x[1]) AS BIGINT)) AS tm
         |  FROM documents),
         |f AS (SELECT doc_id, tm FROM t
         |  WHERE len(tm) >= ${winnowK + winnowW - 1}),
         |kgr AS (SELECT doc_id,
         |    list_transform(range(len(tm) - ${winnowK} + 1), i ->
         |      list_reduce(
         |        list_prepend(CAST(0 AS BIGINT), tm[i+1:i+${winnowK}]),
         |        (acc, x) -> (acc * 31 + x) % 1000000007)) AS kg
         |  FROM f),
         |sel AS (SELECT doc_id,
         |    list_distinct(list_transform(range(len(kg) - ${winnowW} + 1),
         |      j -> list_min(kg[j+1:j+${winnowW}]))) AS s
         |  FROM kgr),
         |fps AS (SELECT doc_id, CAST(u.fp AS BIGINT) AS fp
         |  FROM sel, unnest(sel.s) AS u(fp)),
         |rare AS (SELECT fp FROM fps GROUP BY fp
         |  HAVING count(*) <= $winnowDfCap),
         |fr AS (SELECT fps.doc_id, fps.fp FROM fps JOIN rare USING (fp))
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |  CAST(count(*) AS BIGINT) AS shared
         |FROM fr x JOIN fr y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $winnowMinShared""".stripMargin,
    "text_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(str_split(text, ' ')) AS term
        |    FROM documents)
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, term, tf, df, score, rn FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term ASC) AS BIGINT) AS rn
        |  FROM s) WHERE rn <= 3""".stripMargin)
}
