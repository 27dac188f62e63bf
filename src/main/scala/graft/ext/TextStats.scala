package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star extension, SURVEY.md §2.4 / BASELINE.json).
  *
  * All operators are single-pass narrow projections or one-shuffle
  * aggregations built purely from codegen'd built-in expressions — no
  * UDFs — so at 100 TB they stay inside whole-stage codegen and the
  * parquet scan prunes to the referenced columns only.
  *
  * Determinism for the DuckDB oracle: integer sums (exact), single
  * final divisions rounded to 4 dp (no accumulation-order sensitivity).
  */
object TextStats {

  /** Whitespace token count; empty/blank text counts 0. */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("bigint"))

  /** BPE-ish subword proxy: runs of letters, single digits, single
    * non-alnum marks — the classic pre-tokenizer regex shape.
    */
  val BpeTokenRegex = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeTokenRegex)).cast("bigint")

  /** Punctuation characters (for quality ratios). */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[^.!?,;:]", "")).cast("bigint")

  /** Per-language corpus stats: doc count, exact char/token sums, and
    * 4-dp averages. One hash-aggregate shuffle on `lang`.
    */
  def textStats(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"), col("n_chars"), wsTokenCount(col("text")).as("toks"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        sum("toks").as("sum_tokens"))
      .select(
        col("lang"), col("n_docs"), col("sum_chars"), col("sum_tokens"),
        round(col("sum_chars").cast("double") / col("n_docs"), 4).as("avg_chars"),
        round(col("sum_tokens").cast("double") / col("n_docs"), 4).as("avg_tokens"))
      .orderBy("lang")

  /** Per-document token counts (whitespace + BPE-ish) — narrow, no shuffle. */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      wsTokenCount(col("text")).as("ws_tokens"),
      bpeTokenCount(col("text")).as("bpe_tokens"))
      .orderBy("doc_id")

  /** Stopword sets for the n-gram/stopword language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "la", "les", "des", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"),
  )

  private def markerHits(text: Column, words: Seq[String]): Column =
    words.map { w =>
      when(text.like(s"% $w %"), lit(1)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Language-ID: stopword-marker voting over lowercased padded text.
    * Deterministic tie-break by marker-table order; 'und' (undetermined)
    * when no marker hits. Narrow projection — scales linearly.
    */
  def langId(documents: DataFrame): DataFrame = {
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val scored = documents.select(
      col("doc_id") +: col("lang").as("lang_declared") +:
        LangMarkers.map { case (l, ws) => markerHits(padded, ws).as(s"score_$l") }: _*)
    val best = LangMarkers.map(_._1).foldLeft((lit(0), lit("und"))) {
      case ((bestScore, bestLang), l) =>
        val s = col(s"score_$l")
        (when(s > bestScore, s).otherwise(bestScore),
          when(s > bestScore, lit(l)).otherwise(bestLang))
    }
    scored
      .withColumn("lang_pred", best._2)
      .select("doc_id", "lang_declared", "lang_pred")
      .orderBy("doc_id")
  }

  /** Language-metadata QA: the confusion matrix of declared `lang`
    * against [[langId]]'s prediction — the report that tells a corpus
    * owner whether the `lang` column can be trusted before stratifying
    * by it (sampling, quantiles, packing all key on it). Rolls the
    * per-doc scoring straight into a ≤|langs|²-group aggregate:
    * the narrow marker projection never materializes per-doc rows past
    * the map-side combine.
    */
  def langConfusion(documents: DataFrame): DataFrame =
    langId(documents)
      .groupBy("lang_declared", "lang_pred")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang_declared", "lang_pred")

  /** The four quality signals over `text` — (length, whitespace tokens,
    * punctuation count, stop-marker hits), as doubles with length and
    * tokens floored at 1 — shared by [[qualityScoreColumn]] and the ratio
    * columns of [[qualityScore]].
    */
  private def qualitySignals(text: Column): (Column, Column, Column, Column) = (
    greatest(length(text).cast("double"), lit(1.0)),
    greatest(wsTokenCount(text).cast("double"), lit(1.0)),
    punctCount(text).cast("double"),
    markerHits(concat(lit(" "), lower(text), lit(" ")),
      LangMarkers.flatMap(_._2).distinct).cast("double"))

  /** The [0,1] quality score as a single Column over `text` — shared by
    * the batch projection below and the streaming curation face
    * ([[graft.streaming.StreamCurate]]), so the two can never drift.
    */
  def qualityScoreColumn(text: Column): Column = {
    val (len, toks, punct, stops) = qualitySignals(text)
    // heuristic score: reward stopword presence + sane word length,
    // penalize punctuation soup and extreme lengths
    round(
      least(lit(1.0), greatest(lit(0.0),
        lit(0.4) * least(stops / toks * lit(10.0), lit(1.0)) +
          lit(0.3) * when((len / toks).between(3.0, 12.0), 1.0).otherwise(0.0) +
          lit(0.3) * when(punct / len < 0.1, 1.0).otherwise(0.0))), 4)
  }

  /** Quality scoring: length/punctuation/stopword/word-length signals →
    * [0,1] score. Single narrow projection; each ratio is one division
    * rounded at the end (oracle-exact).
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val (len, toks, punct, stops) = qualitySignals(col("text"))
    documents.select(
      col("doc_id"),
      round(punct / len, 4).as("punct_ratio"),
      round(stops / toks, 4).as("stopword_ratio"),
      round(len / toks, 4).as("avg_word_len"),
      qualityScoreColumn(col("text")).as("quality_score"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------ Gopher rule filter

  /** Gopher document-filter thresholds (Rae et al. 2021,
    * arXiv:2112.11446 Appendix A1.1.1): the published values, not tuned
    * to the synthetic corpus — mean-word-length / symbol / alpha rules
    * pass it wholesale (their failure branches are spec-crafted), while
    * the 50-word minimum and the ≥2-stopword rule split it for real.
    * Line-based rules (bullet/ellipsis line fractions) are N/A here:
    * the corpus carries no newlines, and a single-line corpus makes
    * them the word-level rules' duplicates.
    */
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMinMeanWordLen = 3.0
  val GopherMaxMeanWordLen = 10.0
  val GopherMaxSymbolRatio = 0.1
  val GopherMinAlphaFrac = 0.8
  val GopherMinStopHits = 2
  /** Gopher's "required word" stop set, plus `a` so the ≥2 rule has a
    * second corpus-attested member (the synthetic vocabulary carries
    * only `the` and `a` from the published list).
    */
  val GopherStopWords: Seq[String] =
    Seq("the", "a", "be", "to", "of", "and", "that", "have", "with")

  /** Membership count of `words` among a text's letter-run tokens —
    * the paper-faithful "document contains the word" check (Rae et al.
    * tokenize; a required word adjacent to punctuation — "the," /
    * "with." — still counts). The letter-run tokenizer strips
    * punctuation by construction, unlike the padded-LIKE battery
    * ([[markerHits]]) the scoring heuristics keep for cheapness.
    */
  private def tokenHits(text: Column, words: Seq[String]): Column = {
    val toks = split(lower(text), "[^a-z]+")
    words.map(w => when(array_contains(toks, w), lit(1)).otherwise(lit(0)))
      .reduce(_ + _)
  }

  /** Gopher rule filter: the five word-level document heuristics of
    * Rae et al. 2021 as one narrow projection — per-doc signal values
    * (4-dp display), a 0/1 flag per rule, and the conjunction `keep`.
    * Every decision compares EXACT integer-ratio divisions (IEEE-
    * identical cross-engine); rounding is display-only, so the flags
    * can never disagree with the shown signals' unrounded sources.
    * Stop-word hits use the TOKENIZED membership check ([[tokenHits]])
    * — the paper's semantics, where "the," and "with." count.
    * No shuffle; the parquet scan prunes to (doc_id, text).
    */
  def gopherRules(documents: DataFrame): DataFrame = {
    val nWords = wsTokenCount(col("text"))
    val words = split(trim(col("text")), "\\s+")
    val nNonWs = length(regexp_replace(col("text"), "\\s+", "")).cast("double")
    val nSym = regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("double")
    val nAlpha = when(nWords === 0, lit(0L))
      .otherwise(size(filter(words, w => w.rlike("[A-Za-z]"))).cast("bigint"))
    val nStops = tokenHits(col("text"), GopherStopWords)
    val meanLen = when(nWords === 0, lit(0.0)).otherwise(nNonWs / nWords)
    val symRatio = when(nWords === 0, lit(0.0)).otherwise(nSym / nWords)
    val alphaFrac = when(nWords === 0, lit(0.0))
      .otherwise(nAlpha.cast("double") / nWords)
    def flag(c: Column): Column = when(c, lit(1L)).otherwise(lit(0L))
    val pWords = flag(nWords.between(GopherMinWords, GopherMaxWords))
    val pLen = flag(meanLen.between(GopherMinMeanWordLen, GopherMaxMeanWordLen))
    val pSym = flag(symRatio <= GopherMaxSymbolRatio)
    val pAlpha = flag(alphaFrac >= GopherMinAlphaFrac)
    val pStops = flag(nStops >= GopherMinStopHits)
    documents.select(
      col("doc_id"),
      nWords.as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(symRatio, 4).as("symbol_ratio"),
      round(alphaFrac, 4).as("alpha_frac"),
      nStops.cast("bigint").as("n_stop_hits"),
      pWords.as("pass_word_count"),
      pLen.as("pass_word_len"),
      pSym.as("pass_symbol"),
      pAlpha.as("pass_alpha"),
      pStops.as("pass_stopwords"),
      (pWords * pLen * pSym * pAlpha * pStops).as("keep"))
      .orderBy("doc_id")
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercased text
    * (the portable stand-in for a rolling hash — identical output in any
    * engine, which a seeded rolling hash is not).
    */
  def fingerprint(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5(normText(col("text"))).as("fingerprint"))
      .orderBy("doc_id")

  /** Normalization shared by fingerprint + exact dedup. */
  def normText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Within-document word-3-gram repetition (the classic repetitive-
    * text filter signal from large-corpus curation, e.g. Rae et al.'s
    * Gopher/MassiveText rules): fraction of a doc's word trigrams that
    * are duplicates of an earlier one. Narrow single pass — the gram
    * list never leaves its row, so there is no shuffle at any corpus
    * size (the higher-order array ops are interpreted, not codegen'd,
    * but stay O(doc length) per row).
    */
  def repetitionScore(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z]+"), w => length(w) > 0).as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("n_words"))
      .select(col("doc_id"), col("n_words"),
        when(col("n_words") >= 3,
          transform(sequence(lit(1), col("n_words") - 2), i =>
            concat_ws(" ", element_at(col("ws"), i),
              element_at(col("ws"), i + 1), element_at(col("ws"), i + 2))))
          .otherwise(array()).as("grams"))
      .select(col("doc_id"), col("n_words").cast("bigint").as("n_words"),
        size(col("grams")).cast("bigint").as("n_grams"),
        size(array_distinct(col("grams"))).cast("bigint").as("n_distinct"))
      .select(col("doc_id"), col("n_words"), col("n_grams"), col("n_distinct"),
        when(col("n_grams") > 0,
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 4))
          .otherwise(lit(0.0)).as("repetition"))
      .orderBy("doc_id")

  /** Zipf head: the `topN` most frequent letter-run tokens across the
    * corpus. Explode → map-side-combined count keyed by token (one
    * shuffle of vocabulary-sized partials) → global top-N.
    */
  def tokenFreq(documents: DataFrame, topN: Int = 20): DataFrame =
    documents
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(topN)

  /** Top-`topN` adjacent-token pairs — the first iteration of BPE-style
    * vocabulary induction (count every adjacent symbol pair, merge the
    * most frequent) lifted to word level. Same physics as [[tokenFreq]]:
    * the pair list is built per-row with `transform` (no self-join on
    * token position — a join would shuffle the exploded corpus TWICE on
    * (doc, idx) keys), then explode → map-side-combined count →
    * TakeOrderedAndProject. Shuffle volume is bounded by the distinct
    * bigram vocabulary, not the corpus.
    */
  def bigramFreq(documents: DataFrame, topN: Int = 20): DataFrame =
    documents
      .select(filter(split(lower(col("text")), "[^a-z]+"), w => length(w) > 0).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(
        transform(sequence(lit(1), size(col("ws")) - 1), i =>
          concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1))))
        .as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(topN)

  /** Cross-document shared word-n-grams — the boilerplate detector a
    * crawl-curation run uses to spot templated text (nav bars, cookie
    * banners, license headers) BEFORE it poisons dedup and training:
    * n-grams counted once per containing document (per-doc
    * `array_distinct`, so a doc repeating its own header doesn't
    * inflate the signal), ranked by document frequency.
    *
    * Same gram construction as the n-gram dedup family (normalize →
    * split → word n-grams, whole text as one gram when shorter than
    * `n`) so the report names exactly the grams dedup will collide on.
    *
    * Scale shape: explode → ONE map-side-combined count keyed by gram
    * (shuffle bounded by the distinct gram vocabulary, never the
    * corpus) → `minDocs` filter → global top-N via
    * TakeOrderedAndProject (per-partition heaps, one K-row driver
    * merge; (doc_freq, gram) order is total — the cut is
    * deterministic).
    */
  def sharedNgrams(
      documents: DataFrame,
      n: Int = graft.functions.Hashing.ShingleN,
      minDocs: Int = 3,
      topN: Int = 25): DataFrame =
    documents
      .select(split(normText(col("text")), " ").as("ws"))
      .select(explode(
        when(size(col("ws")) < n, array(array_join(col("ws"), " ")))
          .otherwise(array_distinct(
            transform(sequence(lit(1), size(col("ws")) - (n - 1)), i =>
              array_join(slice(col("ws"), i, lit(n)), " "))))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)
      .orderBy(col("doc_freq").desc, col("gram"))
      .limit(topN)

  /** Per-source duplication report: doc count, exact-fingerprint
    * distinct count, character mass, and the implied duplicate rate —
    * the per-domain view a curation run reads to decide which sources
    * need aggressive dedup (crawl dumps routinely exceed 30% exact
    * dups; curated sources near 0%). One map-side-combined aggregate
    * keyed by source; the countDistinct expands to a two-phase
    * aggregation on (source, fp) — partials bounded by distinct
    * fingerprints per source, never raw rows.
    */
  def sourceDupStats(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), col("n_chars"),
        md5(normText(col("text"))).as("fp"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("source"), col("n_docs"), col("n_unique"), col("sum_chars"),
        round(lit(1.0) - col("n_unique").cast("double") / col("n_docs"), 4)
          .as("dup_rate"))
      .orderBy("source")

  /** Pairwise source-containment matrix — the mixture-planning signal
    * [[sourceDupStats]]'s per-source rates cannot give: which sources
    * duplicate WHICH (a mirror crawl that is 90% contained in another
    * source should be dropped or down-weighted BEFORE mixture weights
    * are fit, or its content is silently double-counted). Overlap is
    * measured at the [[graft.ext.Corpus.segmentDedup]] granularity —
    * the SHARED [[graft.ext.Corpus.docSegments]] cut (one formula, not
    * a parallel re-implementation) — so near-copies with edits count,
    * not just byte-identical documents. Empty segments (empty or NULL
    * text) are excluded: a whitespace-only doc in two sources is not
    * shared CONTENT, and the exclusion also keeps the Spark side in
    * lockstep with the oracle's NULL handling. Sub-width tail segments
    * DO count (the segmentDedup convention) — a 1-word tail matching
    * another source is weak but real signal; thresholds belong to the
    * consumer.
    *
    * Scale shape: the per-source DISTINCT segment set self-joins on the
    * segment value; a segment's group is at most ONE row per source
    * (distinct), so join expansion per segment is bounded by SOURCE
    * CARDINALITY squared — never by corpus size or by how often a
    * boilerplate phrase repeats. Zero-overlap pairs are absent from the
    * output (absence = independence).
    */
  def sourceOverlap(documents: DataFrame, segWords: Int = 10): DataFrame = {
    val segs = graft.core.CacheScope.persist(
      Corpus.docSegments(documents, segWords, Seq("source"))
        .filter(col("seg") =!= "")
        .select("source", "seg")
        .distinct())
    val uniq = segs.groupBy("source").agg(count(lit(1)).as("n_unique_a"))
    val b = segs.select(col("source").as("source_b"), col("seg"))
    segs.select(col("source").as("source_a"), col("seg"))
      .join(b, Seq("seg"))
      .filter(col("source_a") =!= col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
      .join(uniq.withColumnRenamed("source", "source_a"), Seq("source_a"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_unique_a"),
        round(col("n_shared").cast("double") / col("n_unique_a"), 4)
          .as("containment"))
      .orderBy("source_a", "source_b")
  }

  /** One-row corpus health report: sizes, exact distinct sources /
    * langs / fingerprints, and the exact-duplicate rate those
    * fingerprints imply. Multi-distinct expands to a handful of
    * corpus-keyed aggregations — a report query, not a hot path.
    */
  /** Sequence-length histogram over whitespace token counts: fixed-width
    * buckets with an overflow tail (`bucket = min(⌊toks/width⌋, max)`),
    * per-bucket doc count, token mass, and mean length. The batch-size /
    * packing-budget planning view every training pipeline reads before
    * choosing a sequence length. One narrow projection + one tiny hash
    * aggregate (≤ maxBucket+1 groups survive map-side combine) — shuffle
    * volume independent of corpus size.
    */
  def lengthHistogram(
      documents: DataFrame,
      bucketWidth: Int = 32,
      maxBucket: Int = 15): DataFrame = {
    require(bucketWidth >= 1 && maxBucket >= 1, "bucketWidth and maxBucket must be positive")
    val toks = wsTokenCount(col("text"))
    documents
      .select(least(floor(toks / lit(bucketWidth)), lit(maxBucket))
        .cast("bigint").as("bucket"), toks.as("toks"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        round(avg(col("toks").cast("double")), 4).as("avg_tokens"))
      .orderBy("bucket")
  }

  /** Exact per-stratum length quantiles (discrete: the smallest value
    * whose cumulative count reaches `⌈p·n⌉`) — the length-cutoff
    * planning view (truncation budgets, outlier fences) that pairs
    * with [[lengthHistogram]]'s fixed buckets when exact percentiles
    * are needed.
    *
    * Scale shape: quantiles over raw rows would rank each stratum in
    * one window task (the stratum-funnel shape this engine rejects).
    * Instead the corpus collapses to a `(lang, n_chars)` histogram
    * first — a map-side-combined aggregate whose output is bounded by
    * the VALUE DOMAIN, not the corpus — and the only window runs over
    * that tiny frame. Every output is an integer: hash-exact across
    * engines, no float quantile interpolation.
    */
  def lengthQuantiles(
      documents: DataFrame,
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1),
      s"quantile probs must be in (0,1]: $probs")
    val names = probs.map(p => s"p${math.round(p * 100)}")
    require(names.distinct == names,
      s"quantile probs collide at integer-percent names: $probs -> $names")
    val hist = documents.groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("n_chars")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = hist.withColumn("_cum", sum("_c").over(w))
    val n = hist.groupBy("lang").agg(sum("_c").as("_n"))
    val qs = probs.zip(names).map { case (p, nm) =>
      min(when(col("_cum") >= ceil(col("_n") * lit(p)), col("n_chars"))).as(nm)
    }
    cum.join(broadcast(n), Seq("lang"))
      .groupBy("lang")
      .agg(max(col("_n")).as("n_docs"), qs: _*)
      .orderBy("lang")
  }

  def corpusSummary(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        md5(normText(col("text"))).as("fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("fp")).as("n_unique_texts"))
      .select(col("n_docs"), col("n_sources"), col("n_langs"), col("sum_chars"),
        col("n_unique_texts"),
        round(lit(1.0) - col("n_unique_texts").cast("double") / col("n_docs"), 4)
          .as("dup_rate"))
      .orderBy("n_docs")

  /** Quality-threshold sweep — the tuning curve behind `curate`'s
    * minQuality knob: for each candidate threshold, how many documents
    * and tokens survive, and what fraction of the corpus that is. Read
    * BEFORE committing to a cutoff at 100 TB: the elbow of this curve
    * IS the threshold decision.
    *
    * Scale shape: one scoring pass → a ≤10⁴-row (score → docs, tokens)
    * histogram; the sweep is a tiny inequality join of the literal
    * threshold grid against the histogram — the corpus is scanned once,
    * whatever the grid size.
    */
  def qualitySweep(
      documents: DataFrame,
      thresholds: Seq[Double] = (0 to 9).map(_ / 10.0)): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    // pinned: the histogram feeds both the totals and the sweep branch —
    // without the pin each consumes its own full scoring scan (the
    // pushed isnotnull(q) filter makes the subtrees non-canonical, so
    // ReuseExchange never fires)
    val hist = graft.core.CacheScope.persist(documents
      .select(qualityScoreColumn(col("text")).as("q"),
        wsTokenCount(col("text")).as("t"))
      .groupBy("q").agg(count(lit(1)).as("d"), sum(col("t")).as("tk")))
    val totals = hist.groupBy().agg(
      sum(col("d")).as("_nd"), sum(col("tk")).as("_nt"))
    // every threshold appears in the output: a fully-filtering cutoff
    // reports 0 docs/tokens instead of vanishing from the tuning curve
    // (ADVICE r9) — the literal grid LEFT-joins the ≤10⁴-row histogram
    val grid = documents.sparkSession.range(1)
      .select(explode(array(thresholds.map(lit): _*)).as("threshold"))
    grid
      .join(hist, col("q") >= col("threshold"), "left")
      .groupBy("threshold")
      .agg(coalesce(sum(col("d")), lit(0L)).as("n_docs_kept"),
        coalesce(sum(col("tk")), lit(0L)).as("n_tokens_kept"))
      .crossJoin(totals)
      .select(col("threshold"),
        col("n_docs_kept"), col("n_tokens_kept"),
        round(col("n_docs_kept").cast("double") / col("_nd"), 4).as("frac_docs"),
        round(col("n_tokens_kept").cast("double") / col("_nt"), 4).as("frac_tokens"))
      .orderBy("threshold")
  }

  /** Crawl-over-crawl source drift report — the QA gate a recurring
    * ingest runs between snapshots, per source: volume change, distinct-
    * content change, content overlap (shared fingerprints), and quality
    * drift. A source whose churn spikes or quality drops is the first
    * sign of a layout change / paywall / spam takeover upstream.
    *
    * Scale shape: each side is one map-side-combined aggregate keyed by
    * `source` (plus a distinct-(source, fp) pass for overlap — 16-byte
    * rows, never text); the join keys are sources (small). Quality mass
    * sums in DECIMAL(16,6) of 4-dp scores (order-independent, the
    * ivf_cell_stats recipe); averages derive as ::double / n at 4 dp.
    * FULL OUTER on source so vanished and newborn sources surface with
    * zero counts instead of disappearing.
    */
  def sourceDrift(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    // pinned per side: the md5(norm) + regex-scoring pass over text runs
    // ONCE — the per-source aggregate and the overlap census both reread
    // the narrow (source, fp, q) projection
    def scored(df: DataFrame): DataFrame =
      graft.core.CacheScope.persist(
        df.select(col("source"), md5(normText(col("text"))).as("fp"),
          qualityScoreColumn(col("text")).as("q")))
    val o = scored(oldDocs)
    val n = scored(newDocs)
    def side(df: DataFrame, sfx: String): DataFrame =
      df.groupBy("source")
        .agg(count(lit(1)).as(s"n_docs_$sfx"),
          countDistinct(col("fp")).as(s"n_unique_$sfx"),
          sum(col("q").cast("decimal(16,6)")).cast("double").as(s"_sq_$sfx"))
    val overlap = o.select("source", "fp").distinct()
      .join(n.select("source", "fp").distinct(), Seq("source", "fp"))
      .groupBy("source").agg(count(lit(1)).as("n_shared_unique"))
    def nz(c: String): Column = coalesce(col(c), lit(0L))
    def avgQ(sum: String, n: String): Column =
      when(nz(n) === 0, lit(0.0))
        .otherwise(round(coalesce(col(sum), lit(0.0)) / col(n), 4))
    side(o, "old")
      .join(side(n, "new"), Seq("source"), "full_outer")
      .join(overlap, Seq("source"), "left_outer")
      .select(col("source"),
        nz("n_docs_old").as("n_docs_old"), nz("n_docs_new").as("n_docs_new"),
        nz("n_unique_old").as("n_unique_old"), nz("n_unique_new").as("n_unique_new"),
        nz("n_shared_unique").as("n_shared_unique"),
        avgQ("_sq_old", "n_docs_old").as("avg_quality_old"),
        avgQ("_sq_new", "n_docs_new").as("avg_quality_new"),
        // churn: fraction of the new snapshot's distinct content that is
        // NOT carried over from the old snapshot
        when(nz("n_unique_new") === 0, lit(0.0))
          .otherwise(round(lit(1.0) -
            nz("n_shared_unique").cast("double") / col("n_unique_new"), 4))
          .as("content_churn"))
      .orderBy("source")
  }

  /** KMV (k-minimum-values / bottom-k) sketch size — small enough that
    * the sf0.01 corpus (~400+ distinct fingerprints) exercises the
    * ESTIMATOR path in the oracle check, large enough for ~1/√(k−2)
    * ≈ 6% relative error. Production: raise to 4096 (1.6% error) —
    * the state is k 8-byte values either way.
    */
  val KmvK = 256

  /** Salt fan-out for the KMV pre-rank (two-stage bottom-k): the global
    * per-domain sort sees at most KmvSalts·KmvK rows.
    */
  val KmvSalts = 32

  /** hash64 → uniform double in [0,1): top 53 bits of the unsigned
    * 64-bit value over 2^53. Every step (logical shift, ≤2^53 int→
    * double, power-of-two divide) is IEEE-exact, so DuckDB reproduces
    * the value bit-for-bit (`(h // 2048)::DOUBLE / 2^53`).
    */
  private def kmvU(c: Column): Column =
    shiftrightunsigned(graft.functions.GraftFunctions.hash64(c), 11)
      .cast("double") / lit(9007199254740992.0)

  /** [[corpusSummary]] in sketch form — the variant a 100 TB corpus
    * actually runs: `countDistinct(fp)` shuffles one row per DISTINCT
    * fingerprint (≈ one per document on a deduped corpus — an
    * O(corpus) exchange just to fill a report). Here each distinct
    * count is a KMV bottom-k sketch over the deterministic
    * [[graft.functions.Hashing.hash64]]: keep the k smallest distinct
    * hash values; if fewer than k exist the count is EXACT (the
    * low-cardinality source/lang fields land here), else estimate
    * (k−1)/u_(k). Unlike HLL++ the sketch is engine-portable — the
    * DuckDB oracle replays hash64 via UHUGEINT CTEs and reaches the
    * identical bottom-k, so this key is hash-verified, not
    * golden-pinned. Quantiles come EXACT off the (n_chars, count)
    * histogram — bounded by value cardinality, not corpus size — the
    * same rank-off-histogram kernel as [[lengthQuantiles]].
    *
    * Scale shape: the only exchanges are (a) distinct (domain, u)
    * 16-byte pairs with map-side combine — and only hash values that
    * SURVIVE a map-side bottom-k would need to move at all with a
    * custom partial agg; the window tail ranks ≤3 domains' distinct
    * hashes; (b) the tiny histogram. Text never shuffles.
    */
  def corpusSummaryApprox(documents: DataFrame, k: Int = KmvK): DataFrame = {
    val base = documents.select(col("source"), col("lang"), col("n_chars"),
      md5(normText(col("text"))).as("fp"))
    // one narrow pass → 3 (domain, u) streams; distinct before ranking.
    // NULL values are excluded from the distinct counts (COUNT DISTINCT
    // semantics both engines; Spark's window would otherwise rank NULL u
    // FIRST while DuckDB's ORDER BY ranks it last — an engine split).
    val pairs = base
      .select(explode(array(
        struct(lit("source").as("d"), kmvU(col("source")).as("u")),
        struct(lit("lang").as("d"), kmvU(col("lang")).as("u")),
        struct(lit("fp").as("d"), kmvU(col("fp")).as("u")))).as("p"))
      .select(col("p.d").as("d"), col("p.u").as("u"))
      .filter(col("u").isNotNull)
      .distinct()
    // two-stage bottom-k: a salted local rank keeps ≤ k rows per (d,
    // salt) BEFORE the global rank, so the per-domain window sorts at
    // most KmvSalts·k rows — never the corpus's full distinct-hash set
    // in one task (bottom-k of a union of per-salt bottom-k IS the
    // global bottom-k)
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy("d", "_s").orderBy("u")
    val pre = pairs
      .withColumn("_s", pmod(hash(col("u")), lit(KmvSalts)))
      .withColumn("_rn0", row_number().over(pw))
      .filter(col("_rn0") <= k)
      .select("d", "u")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("d").orderBy("u")
    val est = pre
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .groupBy("d")
      .agg(count(lit(1)).as("_nd"), max(col("u")).as("_uk"))
      // < k distinct hashes seen → the sketch holds ALL of them → exact
      .withColumn("est", when(col("_nd") < k, col("_nd"))
        .otherwise(floor(lit((k - 1).toDouble) / col("_uk"))))
    // coalesce to 0: a domain with zero non-NULL values produces NO est
    // row on the Spark side, while the oracle's per-domain CTE computes
    // count(*)=0 → est 0 — the engines must agree on the degenerate case
    val ests = est.groupBy().agg(
      coalesce(max(when(col("d") === "source", col("est"))), lit(0L))
        .as("n_sources_approx"),
      coalesce(max(when(col("d") === "lang", col("est"))), lit(0L))
        .as("n_langs_approx"),
      coalesce(max(when(col("d") === "fp", col("est"))), lit(0L))
        .as("n_unique_texts_approx"))
    val scalars = base.groupBy().agg(
      count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    // exact discrete quantiles off the value histogram (lengthQuantiles
    // kernel, unstratified): p = min n_chars with cumulative ≥ ⌈p·n⌉
    val hist = base.groupBy(col("n_chars")).agg(count(lit(1)).as("_c"))
    val hw = org.apache.spark.sql.expressions.Window.orderBy("n_chars")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val quants = hist
      .withColumn("_cum", sum(col("_c")).over(hw))
      .withColumn("_n", sum(col("_c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .groupBy()
      .agg(
        min(when(col("_cum") >= ceil(col("_n") * lit(0.5)), col("n_chars")))
          .cast("bigint").as("p50_chars"),
        min(when(col("_cum") >= ceil(col("_n") * lit(0.95)), col("n_chars")))
          .cast("bigint").as("p95_chars"))
    scalars.crossJoin(ests).crossJoin(quants)
      .select(col("n_docs"), col("n_sources_approx"), col("n_langs_approx"),
        col("sum_chars"), col("n_unique_texts_approx"),
        col("p50_chars"), col("p95_chars"),
        round(lit(1.0) - col("n_unique_texts_approx").cast("double") / col("n_docs"), 4)
          .as("dup_rate_approx"))
      .orderBy("n_docs")
  }
}
