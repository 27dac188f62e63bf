package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Term-relevance operators over the documents table: TF-IDF corpus
  * keyword extraction and BM25 ranked retrieval (Robertson & Spärck
  * Jones' probabilistic relevance framework; BM25 as in Robertson et
  * al., TREC-3 1994 — public literature, no reference counterpart:
  * north-star extension per SURVEY.md §2.4).
  *
  * Shared tokenizer: lowercase letter runs (`[a-z]+`), identical on the
  * DuckDB oracle side via `string_split_regex`. All scores are single
  * final expressions rounded to 4 dp — every intermediate (tf, df, dl)
  * is an exact integer, so cross-engine floats agree.
  *
  * Scale shape: explode → map-side-combinable hash aggregations keyed
  * by term or doc (vocabulary- and corpus-sized, never pairs), plus
  * one-row corpus constants (N, avgdl) joined in via a broadcast — the
  * single-row build side makes the nested-loop join a constant-time
  * stream pass, PlanShapeSpec-allowlisted.
  */
object Relevance {

  /** One row per (doc_id, lang, term): explode-then-filter keeps the
    * tokenization inside whole-stage codegen (a higher-order array
    * `filter` would drop to interpreted eval).
    */
  private def exploded(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("lang"),
      explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(length(col("term")) > 0)

  /** Top `topPerLang` terms per language by corpus TF-IDF:
    * `tf(lang, term) · ln(N / df(term))` with N = total docs, df =
    * docs containing the term.
    *
    * One explode pass aggregated by (doc_id, lang, term) — the shuffle
    * moves per-doc-DISTINCT tokens, not every token, and map-side
    * combine collapses within-doc repeats before the wire. Both `tf`
    * (sum per lang) and `df` (row count per term) consume that frame;
    * it is PERSISTED through CacheScope because column pruning narrows
    * the df copy and defeats ReuseExchange (verified in the plan) — the
    * same one-producer-many-consumers pattern as the LSH banded tables.
    * The follow-up aggregations are vocabulary-sized.
    */
  def tfidfTopTerms(documents: DataFrame, topPerLang: Int = 5): DataFrame = {
    val perDoc = exploded(documents)
      .groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("doc_tf"))
      .transform(graft.core.CacheScope.persist)
    val tf = perDoc.groupBy("lang", "term").agg(sum("doc_tf").as("tf"))
    val df = perDoc.groupBy("term").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n)) // one corpus-constant row
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topPerLang)
      .select("lang", "rank", "term", "tf", "df", "score")
      .orderBy("lang", "rank")
  }

  /** BM25 constants (the standard Okapi operating point). */
  val K1 = 1.2
  val B = 0.75

  /** Per-row occurrence count of the literal lowercase term under the
    * `[a-z]+` tokenizer: lookarounds forbid letter neighbors, so
    * "scan" never matches inside "scanner" — exactly the
    * explode-then-equals count, without the explode.
    */
  private def termCount(term: String): Column =
    regexp_count(lower(col("text")), lit(s"(?<![a-z])$term(?![a-z])"))
      .cast("bigint")

  /** Top-`k` documents for literal `queryTerms` under BM25 with the
    * `+1` idf form (always positive):
    * `Σ_t ln(1 + (N - df + 0.5)/(df + 0.5)) · tf(k1+1)/(tf + k1(1-b+b·dl/avgdl))`.
    *
    * 100 TB shape: because the query terms are literals, per-doc `tf`
    * is a codegen'd `regexp_count` with token-boundary lookarounds and
    * `dl` a `regexp_count` of the tokenizer itself — both NARROW, so
    * the corpus is never exploded and no per-token rows ever shuffle.
    * All corpus statistics (N, avgdl, df per term) collapse into ONE
    * partial/final aggregate producing a single row, broadcast back
    * over a second narrow scoring pass that ends in
    * TakeOrderedAndProject (per-partition top-k, k-row driver merge).
    * avgdl stays one division of two exact integers — a running double
    * avg would be partition-order-sensitive cross-engine.
    */
  def bm25Search(documents: DataFrame, queryTerms: Seq[String], k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    // terms are interpolated into a regex and into column names: only
    // tokenizer-domain terms are meaningful (anything else could never
    // match a [a-z]+ token anyway), and duplicates would double-count
    require(queryTerms.forall(_.matches("[a-z]+")),
      s"query terms must be lowercase letter runs (the tokenizer domain): $queryTerms")
    require(queryTerms.distinct == queryTerms,
      s"duplicate query terms would double-count: $queryTerms")
    def tfc(t: String) = s"tf_$t"
    val perDoc = documents.select(
      col("doc_id") +:
        regexp_count(lower(col("text")), lit("[a-z]+")).cast("bigint").as("dl") +:
        queryTerms.map(t => termCount(t).as(tfc(t))): _*)
    val statsCols =
      count(lit(1)).as("n_docs") +:
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +:
        queryTerms.map(t => sum(when(col(tfc(t)) > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val consts = perDoc.agg(statsCols.head, statsCols.tail: _*)
    def idf(t: String) = log(lit(1.0) +
      (col("n_docs") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5)))
    def norm(t: String) = col(tfc(t)) * lit(K1 + 1.0) /
      (col(tfc(t)) + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))
    // fixed ASCENDING-term summation order: the dynamic-terms variant
    // sums in the same order (sorted collect_list fold), so the two
    // agree to the last ulp and neither depends on partition order
    val score = queryTerms.sorted
      .map(t => when(col(tfc(t)) > 0, idf(t) * norm(t)).otherwise(lit(0.0)))
      .reduce(_ + _)
    perDoc
      .filter(queryTerms.map(t => col(tfc(t)) > 0).reduce(_ || _))
      .crossJoin(broadcast(consts)) // one corpus-constant row
      .select(col("doc_id"), round(score, 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Unigram language-model quality score — the classic cheap
    * perplexity proxy for corpus filtering: train a unigram LM on the
    * corpus itself (top-`vocabSize` terms by frequency; out-of-vocab
    * tokens get the floor probability 1/total), then score each
    * document by its mean token log-probability. Low scores flag
    * gibberish / rare-token soup; suspiciously high scores flag
    * boilerplate — both standard cut points in LLM data curation
    * (same role as the KenLM pass in CCNet, Wenzek et al. 2020, with
    * the n-gram order dropped to 1 so the model IS the corpus term
    * frequency table this engine already computes).
    *
    * Scale shape: one corpus explode aggregated by term (map-side
    * combine collapses repeats before the wire), vocabulary truncated
    * by a distributed top-k (never collected), then a BROADCAST join
    * back to the exploded tokens — the corpus itself is never
    * shuffled by term for scoring — and one per-doc aggregate. The
    * mean-of-logs is rounded to 4 dp (every input to each `ln` is an
    * exact integer ratio, the label_centroids precedent for
    * cross-engine float agreement).
    */
  def unigramLogProb(documents: DataFrame, vocabSize: Int = 1024): DataFrame = {
    require(vocabSize >= 1, "vocabulary must be non-empty")
    val tk = exploded(documents).select("doc_id", "term")
      .transform(graft.core.CacheScope.persist) // term counts AND scoring consume it
    val counts = tk.groupBy("term").agg(count(lit(1)).as("cnt"))
      .transform(graft.core.CacheScope.persist) // total AND vocab consume it
    val total = counts.agg(sum("cnt").as("total"))
    val vocab = counts.orderBy(col("cnt").desc, col("term")).limit(vocabSize)
    tk.join(broadcast(vocab), Seq("term"), "left")
      .crossJoin(broadcast(total)) // one corpus-constant row
      .select(col("doc_id"), col("cnt"),
        log(coalesce(col("cnt"), lit(1L)).cast("double") / col("total")).as("_lp"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
        round(avg(col("_lp")), 4).as("logprob"))
      .orderBy("doc_id")
  }

  /** Stupid-backoff discount for [[bigramLogProb]] — the α=0.4 of
    * Brants et al. 2007 ("Large Language Models in Machine
    * Translation"), who show the count-ratio + fixed-backoff model
    * matches Kneser-Ney at corpus scale for filtering/ranking purposes.
    */
  val BackoffAlpha = 0.4

  /** Bigram-LM quality score — [[unigramLogProb]] upgraded one n-gram
    * order: the CCNet-style perplexity filter (Wenzek et al. 2020) at
    * usable fidelity. Model = the corpus's own top-`bigramVocab`
    * bigrams with exact count-ratio probabilities and stupid backoff
    * to the unigram model (`P(w₂|w₁) = c(w₁w₂)/c(w₁)` when the bigram
    * is in vocabulary, else `α · P_uni(w₂)` with the unigram OOV floor
    * `1/total`). Per-doc score = mean token log-probability over
    * adjacent pairs; gibberish scores low (novel transitions),
    * boilerplate scores suspiciously high — both standard cut points.
    *
    * Scale shape unchanged from the unigram variant: adjacent pairs
    * are built PER ROW with `transform` (no positional self-join — the
    * corpus never shuffles by (doc, idx)), counts are map-side-combined
    * vocabulary-sized aggregates, both model tables truncate by
    * distributed top-k and BROADCAST back over the pair stream, and
    * the per-doc mean is one aggregate. The corpus is never shuffled
    * by term for scoring. Log-probabilities are logs of exact integer
    * ratios (or α times one), mean rounded at 4 dp — the established
    * cross-engine float contract.
    */
  def bigramLogProb(
      documents: DataFrame,
      vocabSize: Int = 1024,
      bigramVocab: Int = 4096): DataFrame = {
    require(vocabSize >= 1 && bigramVocab >= 1, "vocabularies must be non-empty")
    val wsCol = filter(split(lower(col("text")), "[^a-z]+"), w => length(w) > 0)
    // pinned: bigram counts AND the scoring join both consume the pair
    // stream; the per-row transform would otherwise re-run the regex
    val pairs = graft.core.CacheScope.persist(documents
      .select(col("doc_id"), wsCol.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("ws")) - 1), i =>
          struct(element_at(col("ws"), i).as("w1"),
            element_at(col("ws"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2")))
    val tk = exploded(documents).select("doc_id", "term")
    val counts = graft.core.CacheScope.persist(
      tk.groupBy("term").agg(count(lit(1)).as("cnt")))
    val total = counts.agg(sum("cnt").as("total"))
    val vocab = counts.orderBy(col("cnt").desc, col("term")).limit(vocabSize)
      .select(col("term").as("w2"), col("cnt").as("w2cnt"))
    val bigrams = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("bcnt"))
      .orderBy(col("bcnt").desc, col("w1"), col("w2")).limit(bigramVocab)
      // exact previous-token count joined in BEFORE the broadcast: the
      // ratio's denominator is the model's, not recomputed per row
      .join(counts.select(col("term").as("w1"), col("cnt").as("pcnt")), Seq("w1"))
    val lp = when(col("bcnt").isNotNull,
      log(col("bcnt").cast("double") / col("pcnt")))
      .otherwise(log(lit(BackoffAlpha) *
        coalesce(col("w2cnt"), lit(1L)).cast("double") / col("total")))
    val scored = pairs
      .join(broadcast(bigrams), Seq("w1", "w2"), "left")
      .join(broadcast(vocab), Seq("w2"), "left")
      .crossJoin(broadcast(total)) // one corpus-constant row
      .select(col("doc_id"), lp.as("_lp"),
        when(col("bcnt").isNull, 1L).otherwise(0L).as("_bo"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("_bo").as("n_backoff"),
        round(avg(col("_lp")), 4).as("logprob"))
    documents
      .select(col("doc_id"),
        regexp_count(lower(col("text")), lit("[a-z]+")).cast("bigint").as("n_tokens"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        coalesce(col("logprob"), lit(0.0)).as("logprob"))
      .orderBy("doc_id")
  }

  // --------------------------------------- frozen bigram model (apply)

  /** A trained stupid-backoff bigram LM as driver-resident lookup
    * tables — the model ARTIFACT of train-once-apply-many serving
    * (the BPE-merge-table / PQ-codebook class): size is bounded by
    * configuration (`bigramVocab` pair entries + `vocabSize` unigram
    * entries), never by the corpus, so the collect that builds it is
    * the audited bounded kind and the broadcast that ships it is a
    * few KB per executor.
    */
  case class BigramModelLocal(
      bigramLp: java.util.HashMap[String, java.lang.Double],
      vocabCnt: java.util.HashMap[String, java.lang.Long],
      alpha: Double,
      total: Long)

  /** Train [[BigramModelLocal]] on `documents` — the model half of
    * [[bigramLogProb]] factored out as a parallel API (the declared
    * self-scoring key keeps its one-pass train-and-score plan
    * untouched; RelevanceSpec pins that apply-with-self-trained-model
    * reproduces it row for row). Two corpus aggregates (unigram and
    * bigram counts), both map-side combinable; the only collects are
    * the two vocabulary-capped model tables and the one-row total.
    */
  def bigramModel(
      documents: DataFrame,
      vocabSize: Int = 1024,
      bigramVocab: Int = 4096): BigramModelLocal = {
    require(vocabSize >= 1 && bigramVocab >= 1, "vocabularies must be non-empty")
    val wsCol = filter(split(lower(col("text")), "[^a-z]+"), w => length(w) > 0)
    val pairs = documents
      .select(col("doc_id"), wsCol.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(
        transform(sequence(lit(1), size(col("ws")) - 1), i =>
          struct(element_at(col("ws"), i).as("w1"),
            element_at(col("ws"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // self-managed persist (not CacheScope): training ENDS in actions
    // here, so the lifecycle completes inside this call — three
    // consumers (total, vocab cut, pcnt join), one release
    val counts = exploded(documents)
      .groupBy("term").agg(count(lit(1)).as("cnt")).persist()
    try {
      val total = counts.agg(coalesce(sum("cnt"), lit(0L))).collect()(0).getLong(0)
      // a tokenless training corpus yields total = 0, and every later
      // backoff would compute ln(alpha·c/0) = +Inf — which round4
      // passes through unchanged (as Spark's round does), so every
      // score the model gives would be a silent ±Inf/NaN on the batch
      // and the streaming face alike. Fail HERE, at build time, with
      // the cause named.
      require(total > 0,
        "bigram model training corpus has no [a-z]+ tokens — " +
          "cannot train a backoff distribution (total token count is 0)")
      val vocab = new java.util.HashMap[String, java.lang.Long]()
      counts.orderBy(col("cnt").desc, col("term")).limit(vocabSize)
        .collect().foreach(r => vocab.put(r.getString(0), r.getLong(1)))
      val bigrams = new java.util.HashMap[String, java.lang.Double]()
      pairs.groupBy("w1", "w2").agg(count(lit(1)).as("bcnt"))
        .orderBy(col("bcnt").desc, col("w1"), col("w2")).limit(bigramVocab)
        .join(counts.select(col("term").as("w1"), col("cnt").as("pcnt")), Seq("w1"))
        .collect().foreach { r =>
          bigrams.put(r.getString(0) + " " + r.getString(1),
            math.log(r.getLong(2).toDouble / r.getLong(3).toDouble))
        }
      BigramModelLocal(bigrams, vocab, BackoffAlpha, total)
    } finally counts.unpersist(blocking = false)
  }

  /** Persist a trained [[BigramModelLocal]] as a first-class parquet
    * artifact (the [[graft.ext.Similarity.saveIndex]] precedent): one
    * file, rows `(kind, k, lp, cnt)` — kind 'b' bigram log-probs,
    * 'v' unigram counts, 'm' the (alpha, total) meta row. Doubles and
    * longs round-trip parquet bit-exactly, so a loaded model scores
    * bit-identically (spec-pinned).
    */
  def saveBigramModel(
      spark: org.apache.spark.sql.SparkSession,
      model: BigramModelLocal, path: String): Unit = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val rows =
      model.bigramLp.asScala.toSeq.map { case (k, v) =>
        ("b", k, v.doubleValue, 0L) } ++
      model.vocabCnt.asScala.toSeq.map { case (k, v) =>
        ("v", k, 0.0, v.longValue) } :+
      (("m", "", model.alpha, model.total))
    rows.toDF("kind", "k", "lp", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted bigram model ([[saveBigramModel]]). The collect
    * is the artifact (vocabulary-capped by construction), never data.
    */
  def loadBigramModel(
      spark: org.apache.spark.sql.SparkSession, path: String): BigramModelLocal = {
    val rows = spark.read.parquet(path).collect()
    val bigrams = new java.util.HashMap[String, java.lang.Double]()
    val vocab = new java.util.HashMap[String, java.lang.Long]()
    var alpha = BackoffAlpha
    var total = 0L
    rows.foreach { r =>
      r.getString(0) match {
        case "b" => bigrams.put(r.getString(1), r.getDouble(2))
        case "v" => vocab.put(r.getString(1), r.getLong(3))
        case "m" => alpha = r.getDouble(2); total = r.getLong(3)
        case other => sys.error(
          s"not a saveBigramModel artifact: $path has kind '$other'")
      }
    }
    require(total > 0, s"persisted bigram model at $path has no meta row")
    BigramModelLocal(bigrams, vocab, alpha, total)
  }

  /** Score `documents` under a FROZEN model — [[bigramLogProb]]'s
    * output contract (same columns, same 4-dp score) from ONE narrow
    * codegen'd projection (`functions.BigramScoreExpr`: the model
    * tables ride into generated code as reference objects): text read
    * once, no pair explode, no model join, ZERO shuffles before the
    * final sort. The serving shape a 100 TB apply pass needs — the
    * training corpus paid its aggregation once, at
    * [[bigramModel]]-build time.
    */
  def bigramApply(documents: DataFrame, model: BigramModelLocal): DataFrame = {
    val s = graft.functions.GraftFunctions.bigramScore(
      col("text"), model.bigramLp, model.vocabCnt, model.alpha, model.total)
    documents
      .select(col("doc_id"), s.as("_s"))
      .select(col("doc_id"),
        element_at(col("_s"), 1).cast("bigint").as("n_tokens"),
        coalesce(element_at(col("_s"), 2).cast("bigint"), lit(0L)).as("n_bigrams"),
        coalesce(element_at(col("_s"), 3).cast("bigint"), lit(0L)).as("n_backoff"),
        coalesce(element_at(col("_s"), 4), lit(0.0)).as("logprob"))
      .orderBy("doc_id")
  }

  // ------------------------------------------- CCNet perplexity buckets

  /** CCNet's perplexity bucketing (Wenzek et al. 2019, arXiv:1911.00359
    * §4.3): split each LANGUAGE's documents into head/middle/tail
    * terciles by language-model score — the curation step that lets a
    * pipeline train on "head" web text and discard or down-weight the
    * tail. The LM is the corpus-trained stupid-backoff bigram model
    * ([[bigramLogProb]] — higher mean logprob = lower perplexity =
    * closer to the head, matching the paper's orientation).
    *
    * Bucket rule (deterministic, oracle-replayable): rank docs within
    * a language by (logprob desc, doc_id asc); with k = ⌊n/3⌋, rank ≤ k
    * is `head`, rank > n−k is `tail`, else `middle` (tiny languages
    * degenerate to all-`middle` — k = 0 — rather than erroring).
    *
    * Scale shape — the [[topPctBy]] histogram-classification trick per
    * GROUP: no per-language sort of doc rows (a window partitioned by
    * `lang` would funnel whole languages through single tasks — the
    * exact skew a 100 TB multilingual corpus maximizes). Instead the
    * 4-dp score axis aggregates to a per-(lang, score) histogram
    * (vocabulary-bounded: ≤ langs × distinct-4-dp-scores rows), the
    * tercile cuts classify score strata WHOLESALE against its
    * broadcast, and only the ≤ 2 boundary strata per language pay a
    * per-row rank (ties by doc_id). The scored stream is pinned so the
    * histogram and the classify join consume identical 4-dp values.
    */
  def perplexityBuckets(
      documents: DataFrame,
      vocabSize: Int = 1024,
      bigramVocab: Int = 4096): DataFrame = {
    // NULL lang coalesces to the sentinel language "" instead of
    // silently vanishing through the null-rejecting classify join —
    // unlabeled docs rank among themselves and STAY IN THE OUTPUT
    // (the substringDedup NULL-text lesson, applied before it bites)
    val scored = graft.core.CacheScope.persist(
      bigramLogProb(documents, vocabSize, bigramVocab)
        .select(col("doc_id"), col("logprob"))
        .join(documents.select(col("doc_id"),
          coalesce(col("lang"), lit("")).as("lang")), Seq("doc_id")))
    val hist = scored.groupBy("lang", "logprob").agg(count(lit(1)).as("n"))
    val hw = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(desc("logprob"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val histC = hist.withColumn("above", coalesce(sum("n").over(hw), lit(0L)))
    val nl = scored.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val j = scored.join(broadcast(histC), Seq("lang", "logprob"))
      .join(broadcast(nl), Seq("lang"))
    val kCut = floor(col("n_lang") / 3).cast("long")
    val tailCut = col("n_lang") - kCut
    val fullHead = col("above") + col("n") <= kCut
    val fullMiddle = col("above") >= kCut && col("above") + col("n") <= tailCut
    val fullTail = col("above") >= tailCut
    val whole = j.filter(fullHead || fullMiddle || fullTail)
      .withColumn("bucket",
        when(fullHead, lit("head")).when(fullTail, lit("tail"))
          .otherwise(lit("middle")))
    // boundary strata only: a rank window partitioned by (lang, score)
    // — stratum-sized partitions, never language-sized
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "logprob").orderBy("doc_id")
    val boundary = j.filter(!(fullHead || fullMiddle || fullTail))
      .withColumn("_rk", col("above") + row_number().over(bw))
      .withColumn("bucket",
        when(col("_rk") <= kCut, lit("head"))
          .when(col("_rk") <= tailCut, lit("middle"))
          .otherwise(lit("tail")))
      .drop("_rk")
    whole.unionByName(boundary)
      .select(col("doc_id"), col("lang"), col("logprob"), col("bucket"))
      .orderBy("doc_id")
  }

  /** Export per-language score thresholds from a [[perplexityBuckets]]
    * reference run, for ONLINE classification
    * (`streaming.StreamPerplexity`): headCut = the middle bucket's max
    * logprob (scores strictly above are head-grade), tailCut = its min
    * (strictly below is tail). Every language has a non-empty middle
    * by construction (k = ⌊n/3⌋ < n), so both aggregates are total.
    * The collect is one row per reference language — bounded by the
    * language inventory, not the corpus.
    */
  def perplexityCutoffs(buckets: DataFrame): Map[String, (Double, Double)] =
    buckets.filter(col("bucket") === "middle")
      .groupBy("lang")
      .agg(max("logprob").as("head_cut"), min("logprob").as("tail_cut"))
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap

  // ------------------------------------------------ DSIR data selection

  /** Hashed-feature bucket count for [[dsirSelect]]. A power of two, so
    * `pmod(signed hash64, buckets)` equals the unsigned low bits and
    * the DuckDB oracle's `h % buckets` over the UHUGEINT replica lands
    * in the identical bucket (2⁶⁴ ≡ 0 mod 2ᵏ).
    */
  val DsirBuckets = 1024
  /** Target-distribution membership: docs at/above this 4-dp quality
    * score (the engine's shared scoring column) form the "target" side.
    */
  val DsirTargetMinQuality = 0.9
  /** Fraction of the corpus selected, as an integer percent (exact
    * `n·pct/100` floor arithmetic — no float k to drift cross-engine).
    */
  val DsirSelectPct = 25

  /** DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every document by how much more likely its
    * hashed-n-gram features are under a TARGET distribution than under
    * the RAW corpus distribution, then keep the top `selectPct`% by that
    * importance weight. Here the target is the corpus's own high-quality
    * subset (shared 4-dp quality score ≥ `targetMinQuality`), making the
    * operator self-contained and oracle-checkable; production swaps any
    * target corpus into the same two bucket tables.
    *
    * Model: word unigrams + adjacent bigrams hashed into `buckets`
    * buckets (the paper's hashed bag-of-n-grams), add-1 smoothed
    * multinomials on both sides; per-doc weight = MEAN per-feature
    * log-likelihood ratio (the paper's sum, length-normalized so
    * selection ranks content not length), rounded 4 dp.
    *
    * 100 TB shape: ONE feature pass builds both models (the target is a
    * per-row flag, so raw/target counts are one map-side-combined
    * aggregate to ≤`buckets` rows, broadcast back); scoring re-reads the
    * pinned narrow (doc_id, bucket, flag) stream. Selection reuses the
    * [[Corpus.selectBudget]] histogram trick on the 4-dp weight axis:
    * whole strata classify by two broadcast numbers, only the ONE
    * boundary stratum pays a per-row rank — no global sort of doc rows.
    * Ties resolve by doc_id; output is content-deterministic.
    */
  def dsirSelect(
      documents: DataFrame,
      buckets: Int = DsirBuckets,
      targetMinQuality: Double = DsirTargetMinQuality,
      selectPct: Int = DsirSelectPct): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two for the portable pmod: $buckets")
    require(selectPct >= 0 && selectPct <= 100, s"pct out of range: $selectPct")
    val ws = filter(split(lower(col("text")), "[^a-z]+"), w => length(w) > 0)
    val bigs = when(size(col("ws")) >= 2,
      transform(sequence(lit(1), size(col("ws")) - 1), i =>
        concat(element_at(col("ws"), i), lit(" "), element_at(col("ws"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val isTarget = (TextStats.qualityScoreColumn(col("text")) >= targetMinQuality)
      .cast("long")
    // pinned: the bucket models AND the scoring join both consume the
    // narrow (doc_id, bucket, flag) stream — 17 B/feature, never text
    val feats = graft.core.CacheScope.persist(documents
      .select(col("doc_id"), ws.as("ws"), isTarget.as("t"))
      .select(col("doc_id"), col("t"),
        explode(concat(col("ws"), bigs)).as("feat"))
      .select(col("doc_id"), col("t"),
        pmod(graft.functions.GraftFunctions.hash64(col("feat")), lit(buckets.toLong))
          .as("bucket")))
    val model = feats.groupBy("bucket").agg(
      count(lit(1)).as("cr"), sum(col("t")).as("ct"))
    val totals = model.agg(sum("cr").as("tr"), sum("ct").as("tt"))
    val lr = log((col("ct") + 1).cast("double") / (col("tt") + buckets)) -
      log((col("cr") + 1).cast("double") / (col("tr") + buckets))
    val weights = feats
      .join(broadcast(model.crossJoin(broadcast(totals))
        .select(col("bucket"), lr.as("lr"))), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), round(avg(col("lr")), 4).as("w"))
    val allW = documents.select(col("doc_id"))
      .join(weights, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("w"), lit(0.0)).as("w"))
    topPctBy(allW, "w", selectPct, countFrom = documents)
      .select(col("doc_id"), col("n_feats"), col("w").as("dsir_weight"),
        col("selected"))
      .orderBy("doc_id")
  }

  /** Top-`pct`% selection on a rounded score axis, shared by
    * [[dsirSelect]] and [[classifierSelect]] (pure code motion from the
    * former — its declared plan is unchanged): k by exact integer
    * floor over `countFrom`; score strata classify WHOLESALE against
    * the broadcast histogram, only the one boundary stratum pays a
    * per-row rank (ties by doc_id) — no global sort of doc rows.
    * Appends `selected` (0/1) to `allRows`.
    */
  private def topPctBy(
      allRows: DataFrame,
      scoreCol: String,
      pct: Int,
      countFrom: DataFrame): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct out of range: $pct")
    // pinned: the score histogram AND the three selection branches below
    // all consume allRows — unpinned, each one re-runs the caller's
    // scoring subtree (for classifierSelect that is the full text
    // feature battery: measured ~200 CPU-s/run at sf0.1, 4 recomputes).
    // The pinned frame is narrow (doc_id + score + carry columns), never
    // the text.
    val pinned = graft.core.CacheScope.persist(allRows)
    val kF = countFrom.agg(
      floor(count(lit(1)) * pct / 100).cast("long").as("k"))
    val hw = org.apache.spark.sql.expressions.Window.orderBy(desc(scoreCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val hist = pinned.groupBy(scoreCol).agg(count(lit(1)).as("n"))
      .withColumn("above", coalesce(sum("n").over(hw), lit(0L)))
    val joined = pinned.join(broadcast(hist), Seq(scoreCol))
      .crossJoin(broadcast(kF)) // one corpus-constant row
    val fullIn = joined.filter(col("above") + col("n") <= col("k"))
      .withColumn("selected", lit(1L))
    val fullOut = joined.filter(col("above") >= col("k"))
      .withColumn("selected", lit(0L))
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy(scoreCol).orderBy("doc_id")
    val boundary = joined
      .filter(col("above") < col("k") && col("above") + col("n") > col("k"))
      .withColumn("selected",
        when(col("above") + row_number().over(bw) <= col("k"), 1L).otherwise(0L))
    fullIn.unionByName(fullOut).unionByName(boundary)
  }

  /** BM25 for DYNAMIC query terms (a `term` column, e.g. from query
    * logs) — the inverted-index join shape: explode the corpus once
    * (persisted: tf and df consume it — pruning would otherwise defeat
    * exchange reuse and run the explode twice), semi-filter to
    * query-term postings, derive dl narrowly (no explode, no corpus
    * shuffle), broadcast the (tiny) term stats.
    *
    * Query-log hygiene happens here rather than erroring per-row: terms
    * are lowercased, restricted to the `[a-z]+` tokenizer domain, and
    * deduplicated (the literal [[bm25Search]] rejects such input with
    * `require` because literals are programmer intent, not data).
    * Per-doc scores fold a term-SORTED array, matching the literal
    * variant's ascending-term summation order exactly — the spec
    * asserts score-for-score agreement.
    */
  def bm25SearchTerms(documents: DataFrame, queryTerms: DataFrame, k: Int = 10): DataFrame = {
    val terms = broadcast(
      queryTerms.select(lower(col("term")).as("term"))
        .filter(col("term").rlike("^[a-z]+$")).distinct())
    val hits = exploded(documents)
      .join(terms, Seq("term"), "left_semi")
      .transform(graft.core.CacheScope.persist) // tf AND df consume it
    val tf = hits.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = hits.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val dl = documents.select(col("doc_id"),
      regexp_count(lower(col("text")), lit("[a-z]+")).cast("bigint").as("dl"))
    // corpus constants from the dl frame — the tokenizer regex must not
    // run a second full pass over the text
    val consts = dl.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = col("tf") * lit(K1 + 1.0) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))
    tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(consts)) // one corpus-constant row
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("term"), (idf * norm).as("s"))))
        .as("scores"))
      .select(col("doc_id"),
        round(aggregate(col("scores"), lit(0.0), (acc, x) => acc + x.getField("s")), 4)
          .as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  // ------------------------------------- trained quality classifier

  /** Gradient iterations / learning rate for the trained quality
    * classifier. 3 full-batch steps at η = 2 are enough to separate a
    * hashed-vocabulary signal (the spec's criterion) while keeping the
    * unrolled oracle CTE chain readable; production runs more steps
    * through the identical per-iteration shape.
    */
  val ClfIterations = 3
  val ClfLearningRate = 2.0
  /** Fraction kept by [[classifierSelect]], integer percent (exact
    * `n·pct/100` floor — the [[DsirSelectPct]] contract).
    */
  val ClfSelectPct = 25

  /** The GPT-3/LLaMA-lineage data-filtering step the engine was
    * missing next to [[dsirSelect]]: a DISCRIMINATIVE quality
    * classifier trained ON the cluster — full-batch logistic
    * regression over hashed unigram+bigram bucket frequencies
    * (features shared with DSIR), labels = the corpus's own quality ≥
    * `targetMinQuality` subset (production swaps any curated positive
    * set through the same two inputs). Where DSIR reweights by
    * generative likelihood ratios, this fits discriminative weights —
    * the complementary selector the published pipelines pair.
    *
    * Portable training contract (every step engine-replayable, the
    * Lloyd/BPE recipe applied to SGD): features x = round(count/total,
    * 6) per (doc, bucket); margins z = Σ round(w·x, 6) summed in
    * DECIMAL(16,6) (order-free) + bias; p = round(sigmoid(z), 6); per-
    * bucket gradients Σ round((p−y)·x, 12) in DECIMAL(28,12); update
    * w ← round6(w − η·g/n). The one float knife-edge left is `exp`
    * landing within half an ulp of a 5e-7 boundary — absorbed by the
    * 6-dp rounds on identical inputs otherwise, same tolerance class
    * as the 4-dp LM-score contract.
    *
    * 100 TB shape: the model is ≤`buckets` weights BROADCAST each
    * iteration; the corpus contributes through TWO map-side-combined
    * aggregates per step (per-doc margin, per-bucket gradient) over
    * the pinned narrow (doc_id, bucket, x) stream — text is read once
    * at feature time, never shuffled. Driver state is the weight
    * vector itself (≤buckets+1 doubles — the audited-bounded-collect
    * class, like IVF centroids).
    *
    * Output: (bucket, weight), all `buckets` rows (untouched buckets
    * at 0.0) plus the bias as bucket −1 — fixed cardinality, ordered.
    */
  def trainQualityClassifier(
      documents: DataFrame,
      buckets: Int = DsirBuckets,
      iterations: Int = ClfIterations,
      lrate: Double = ClfLearningRate,
      targetMinQuality: Double = DsirTargetMinQuality): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (w, bias) = trainClassifierModel(
      documents, buckets, iterations, lrate, targetMinQuality)
    ((-1L, bias) +: (0 until buckets).map(b => (b.toLong, w.getOrElse(b.toLong, 0.0))))
      .toDF("bucket", "weight").orderBy("bucket")
  }

  /** The trained model PAIR (sparse touched-bucket weights, bias) —
    * what the scoring kernel and [[saveClassifier]] consume directly.
    * Public so artifact round-trips carry the model's exact SUPPORT
    * (r13 review finding: inferring the support from a dense weight
    * table by dropping zeros mislabels a touched bucket trained to
    * exactly 0.0, shifting `n_buckets`).
    */
  def trainClassifierModel(
      documents: DataFrame,
      buckets: Int = DsirBuckets,
      iterations: Int = ClfIterations,
      lrate: Double = ClfLearningRate,
      targetMinQuality: Double = DsirTargetMinQuality): (Map[Long, Double], Double) = {
    val (feats, labels, nDocs) = clfInputs(documents, buckets, targetMinQuality)
    clfLoop(feats, labels, nDocs, iterations, lrate)
  }

  /** [[trainQualityClassifier]] applied: per-doc classifier score
    * (6-dp sigmoid of the final margin) and top-`selectPct`% selection
    * on the score axis via the shared histogram-classified rank (no
    * global doc sort — [[dsirSelect]]'s tail, one kernel for both).
    */
  def classifierSelect(
      documents: DataFrame,
      buckets: Int = DsirBuckets,
      iterations: Int = ClfIterations,
      lrate: Double = ClfLearningRate,
      targetMinQuality: Double = DsirTargetMinQuality,
      selectPct: Int = ClfSelectPct): DataFrame = {
    val (feats, labels, nDocs) = clfInputs(documents, buckets, targetMinQuality)
    val (w, bias) = clfLoop(feats, labels, nDocs, iterations, lrate)
    val allScored = clfScores(feats, labels, w, bias)
    topPctBy(allScored, "clf_score", selectPct, countFrom = labels)
      .select(col("doc_id"), col("n_buckets"), col("clf_score"), col("selected"))
      .orderBy("doc_id")
  }

  /** Train-once-apply-many for the classifier family — the
    * [[bigramApply]] treatment one shelf over (BPE, LM, and now the
    * discriminative filter all factor into a frozen artifact + a cheap
    * apply): fit the logistic weights on the `trainFilter` slice, then
    * score ONLY the held-out complement under the frozen model — one
    * feature pass and one broadcast join, NO gradient aggregates over
    * the scored corpus. The serving posture a 100 TB pipeline needs:
    * the classifier trains once on a curated reference sample, and the
    * corpus-wide pass is feature-hash → dot-product → sigmoid, text
    * read once.
    *
    * Default split: even `doc_id`s train, odd ones score — the
    * held-out docs genuinely exercise unseen-feature buckets (absent
    * from every gradient) and the empty-feature path (n_buckets = 0 →
    * sigmoid(bias)).
    */
  def classifierApply(
      documents: DataFrame,
      buckets: Int = DsirBuckets,
      iterations: Int = ClfIterations,
      lrate: Double = ClfLearningRate,
      targetMinQuality: Double = DsirTargetMinQuality): DataFrame = {
    val isTrain = col("doc_id") % 2 === 0
    val (trainFeats, trainLabels, nTrain) =
      clfInputs(documents.filter(isTrain), buckets, targetMinQuality)
    val (w, bias) = clfLoop(trainFeats, trainLabels, nTrain, iterations, lrate)
    val held = documents.filter(!isTrain)
    clfScores(clfFeatures(held, buckets), held, w, bias)
      .orderBy("doc_id")
  }

  /** Persist trained classifier weights as a first-class parquet
    * artifact: `(bucket, weight)` rows with the bias at bucket −1 —
    * [[trainQualityClassifier]]'s own output shape. Doubles round-trip
    * parquet bit-exactly, so a loaded model scores bit-identically
    * (spec-pinned).
    */
  def saveClassifier(
      spark: org.apache.spark.sql.SparkSession,
      w: Map[Long, Double], bias: Double, path: String): Unit = {
    import spark.implicits._
    ((-1L, bias) +: w.toSeq.sortBy(_._1)).toDF("bucket", "weight")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load persisted classifier weights ([[saveClassifier]]): the
    * (weights map, bias) pair the scoring kernel consumes. The
    * artifact is SPARSE by construction — [[saveClassifier]] writes
    * exactly the trained support ([[trainClassifierModel]]'s touched
    * buckets), so the load is a verbatim reconstruction and a loaded
    * model scores row-identically including `n_buckets` (spec-pinned;
    * r13 review: do NOT persist [[trainQualityClassifier]]'s dense
    * report table as the artifact — zero-dropping on load would
    * mislabel a touched bucket trained to exactly 0.0). The collect is
    * the artifact (≤ buckets+1 rows), never data.
    */
  def loadClassifier(
      spark: org.apache.spark.sql.SparkSession, path: String): (Map[Long, Double], Double) = {
    val rows = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bias = rows.getOrElse(-1L,
      sys.error(s"persisted classifier at $path has no bias row"))
    (rows - -1L, bias)
  }

  /** Score `documents` under FROZEN classifier weights — the serving
    * face behind [[classifierApply]], public so a loaded artifact
    * ([[loadClassifier]]) can drive it directly.
    */
  def classifierScoreFrozen(
      documents: DataFrame,
      w: Map[Long, Double],
      bias: Double,
      buckets: Int = DsirBuckets): DataFrame =
    clfScores(clfFeatures(documents, buckets), documents, w, bias)
      .orderBy("doc_id")

  /** Frozen-model scoring shared by [[classifierSelect]] and
    * [[classifierApply]] (ONE body — the select key and the apply key
    * compute the identical 6-dp sigmoid of DECIMAL-summed 6-dp margin
    * parts): every doc in `base` keeps a row (LEFT join — a doc with
    * no feature buckets scores sigmoid(bias) with n_buckets 0).
    */
  private def clfScores(
      feats: DataFrame,
      base: DataFrame,
      w: Map[Long, Double],
      bias: Double): DataFrame = {
    val spark = feats.sparkSession
    import spark.implicits._
    val wDf = broadcast(w.toSeq.toDF("bucket", "wt"))
    val scores = feats.join(wDf, Seq("bucket"))
      .groupBy("doc_id")
      .agg(
        sum(round(col("x") * col("wt"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(16, 6))).as("zs"),
        count(lit(1)).as("n_b"))
    base.select(col("doc_id"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_b"), lit(0L)).as("n_buckets"),
        round(lit(1.0) / (lit(1.0) +
          exp(-(coalesce(col("zs").cast("double"), lit(0.0)) + lit(bias)))), 6)
          .as("clf_score"))
  }

  /** Shared feature/label inputs: the DSIR hashed bag-of-n-grams as
    * per-(doc, bucket) FREQUENCIES (round(count/total, 6) — bounded,
    * engine-exact integer-ratio base), labels from the shared 4-dp
    * quality score. Both pinned: every training iteration re-reads
    * them; text is never re-scanned.
    */
  private def clfInputs(
      documents: DataFrame,
      buckets: Int,
      targetMinQuality: Double): (DataFrame, DataFrame, Long) = {
    val y = (TextStats.qualityScoreColumn(col("text")) >= targetMinQuality)
      .cast("long")
    val labels = graft.core.CacheScope.persist(
      documents.select(col("doc_id"), y.as("y")))
    (clfFeatures(documents, buckets), labels, documents.count())
  }

  /** The hashed bag-of-n-grams feature stream alone (per-(doc, bucket)
    * 6-dp frequencies, pinned) — [[clfInputs]] minus the labels, for
    * the apply path that scores docs it never labels.
    */
  private def clfFeatures(documents: DataFrame, buckets: Int): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two for the portable pmod: $buckets")
    val ws = filter(split(lower(col("text")), "[^a-z]+"), w => length(w) > 0)
    val bigs = when(size(col("ws")) >= 2,
      transform(sequence(lit(1), size(col("ws")) - 1), i =>
        concat(element_at(col("ws"), i), lit(" "), element_at(col("ws"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val counts = documents
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), explode(concat(col("ws"), bigs)).as("feat"))
      .select(col("doc_id"),
        pmod(graft.functions.GraftFunctions.hash64(col("feat")),
          lit(buckets.toLong)).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
    val total = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    graft.core.CacheScope.persist(counts
      .select(col("doc_id"), col("bucket"),
        round(col("c").cast("double") / sum("c").over(total), 6).as("x")))
  }

  /** The full-batch gradient loop. Driver state: the weight map (only
    * feature buckets — ≤`buckets` entries) and the bias. Two
    * distributed aggregates per iteration; the gradient collect is
    * bounded by the bucket count.
    */
  private def clfLoop(
      feats: DataFrame,
      labels: DataFrame,
      nDocs: Long,
      iterations: Int,
      lrate: Double): (Map[Long, Double], Double) = {
    val spark = feats.sparkSession
    import spark.implicits._
    val dec16 = org.apache.spark.sql.types.DecimalType(16, 6)
    val dec28 = org.apache.spark.sql.types.DecimalType(28, 12)
    var w = Map.empty[Long, Double]
    var bias = 0.0
    for (_ <- 0 until iterations) {
      val wDf = broadcast(w.toSeq.toDF("bucket", "wt"))
      val margins = feats.join(wDf, Seq("bucket"))
        .groupBy("doc_id")
        .agg(sum(round(col("x") * col("wt"), 6).cast(dec16)).as("zs"))
      val e = labels.join(margins, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (round(lit(1.0) / (lit(1.0) +
            exp(-(coalesce(col("zs").cast("double"), lit(0.0)) + lit(bias)))), 6)
            - col("y").cast("double")).as("e"))
        .persist()
      try {
        // ONE action per iteration: the per-bucket gradient aggregate and
        // the bias gradient (bucket −1) union into a single collect —
        // same sums, same decimal types (the dec16 bias sum widens to
        // dec28 exactly), half the job-launch overhead of the two-collect
        // shape (guide §1.2: per-iteration fixed costs compound)
        val gRows = feats.join(e, Seq("doc_id"))
          .groupBy("bucket")
          .agg(sum(round(col("e") * col("x"), 12).cast(dec28)).as("gs"))
          .unionByName(e.agg(sum(col("e").cast(dec16)).cast(dec28).as("gs"))
            .select(lit(-1L).as("bucket"), col("gs")))
          .collect()
        val grads = gRows.filter(_.getLong(0) >= 0L)
          .map(r => r.getLong(0) -> r.getDecimal(1).doubleValue()).toMap
        val gBias = gRows.find(_.getLong(0) == -1L)
          .map(_.getDecimal(1).doubleValue()).getOrElse(0.0)
        w = (w.keySet ++ grads.keySet).iterator.map { b =>
          b -> graft.functions.VectorOps.round6(
            w.getOrElse(b, 0.0) - lrate * (grads.getOrElse(b, 0.0) / nDocs))
        }.toMap
        bias = graft.functions.VectorOps.round6(bias - lrate * (gBias / nDocs))
      } finally e.unpersist(blocking = false)
    }
    (w, bias)
  }
}
