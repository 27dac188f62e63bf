package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for training-data pipelines: the steps
  * between "deduplicated documents" and "token batches" — deterministic
  * splits, PII scrubbing, chunking, sequence packing.
  *
  * All four are pure narrow/window plans (no joins, no driver loops) and
  * every one is DuckDB-oracle-checkable: the SQL twin is generated from
  * the same constants in [[graft.ExtQueries]].
  */
object Corpus {

  /** Deterministic hash split: keep documents whose md5(text) is
    * lexicographically below `hexThreshold` ("40" ≈ 25%, "1a" ≈ 10%).
    * Content-addressed (stable under re-runs, re-partitioning, and
    * appends — the property train/val splits need; row-number sampling
    * has none of these). One narrow filter, fully pushdown-friendly.
    */
  def sampleByHash(documents: DataFrame, hexThreshold: String = "40"): DataFrame =
    documents
      .filter(md5(encode(col("text"), "UTF-8")) < lit(hexThreshold))
      .orderBy("doc_id")

  /** Deterministic train/val/test assignment: every document gets a
    * split label from cumulative thresholds over the first 8 hex chars
    * of md5(text). Content-addressed like [[sampleByHash]] — a document
    * keeps its split across re-runs, re-partitioning, AND corpus growth
    * (appending new data never flips an old document between train and
    * test, the property that keeps eval sets uncontaminated over time).
    * The last split is the catch-all so threshold rounding can never
    * leave a document unassigned. One narrow projection, zero shuffle
    * at any scale.
    */
  def assignSplits(
      documents: DataFrame,
      splits: Seq[(String, Double)]): DataFrame =
    documents
      .select(col("doc_id"), col("lang"), col("source"),
        splitCascade(col("text"), splits).as("split"))
      .orderBy("doc_id")

  /** The content-addressed split cascade over a text column — shared by
    * [[assignSplits]] and [[assignSplitsClustered]] (and mirrored
    * literally by both oracles) so the two assignment paths can never
    * drift: md5-prefix thresholds from the cumulative fractions, last
    * split as the otherwise-arm.
    */
  private def splitCascade(
      text: org.apache.spark.sql.Column,
      splits: Seq[(String, Double)]): org.apache.spark.sql.Column = {
    require(splits.size >= 2, s"need at least two splits: $splits")
    require(splits.map(_._2).forall(_ > 0), s"non-positive split fraction: $splits")
    require(splits.map(_._1).distinct.size == splits.size,
      s"duplicate split names: ${splits.map(_._1)}")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1: $splits")
    val h = substring(md5(text), 1, 8)
    val cums = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    splits.init.zip(cums).foldRight(lit(splits.last._1)) {
      case (((name, _), cum), rest) => when(h < lit(fracThresholdHex(cum)), name).otherwise(rest)
    }
  }

  /** Leakage-proof train/val/test assignment: near-duplicate documents
    * MUST land in the same split, or eval measures memorization of the
    * training copy (the classic contamination-by-near-dup failure of
    * naive per-doc hashing — `pairs` is exactly what [[Dedup]] already
    * found). Connected components over the near-dup pair graph pick a
    * representative (min doc_id) per cluster; the WHOLE cluster gets
    * the representative's content-addressed split. Singleton docs hash
    * their own text, so on a dedup-clean corpus this degrades to
    * [[assignSplits]] exactly (spec-pinned).
    *
    * Scale shape: CC is the log-round DataFrame loop of
    * [[DedupClusters.clustersDF]]; then two equi-joins keyed on
    * doc_id/cluster_id (shuffle bounded by the doc-id column, never
    * text) — the representative's md5 is computed once per CLUSTER.
    */
  def assignSplitsClustered(
      documents: DataFrame,
      pairs: DataFrame,
      splits: Seq[(String, Double)]): DataFrame = {
    val clusters = DedupClusters.clustersDF(documents, pairs)
    val repSplit = documents.select(
      col("doc_id").as("cluster_id"),
      splitCascade(col("text"), splits).as("split"))
    clusters
      .join(documents.select("doc_id", "lang", "source"), Seq("doc_id"))
      .join(repSplit, Seq("cluster_id"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("cluster_id"), col("split"))
      .orderBy("doc_id")
  }

  /** PII scrub patterns — dialect-portable regexes (no lookaround: Java
    * regex on the Spark side, RE2 in DuckDB).
    */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumberRegex = "[0-9]{6,}"

  /** The redaction as a single Column — shared by the batch projection
    * and the streaming curation face so the patterns can never drift.
    */
  def redactPiiColumn(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(text, EmailRegex, "<EMAIL>"),
      LongNumberRegex, "<NUM>")

  /** Redact emails and long digit runs; keeps everything else intact.
    * One narrow projection.
    */
  def redactPii(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), redactPiiColumn(col("text")).as("clean_text"))
      .orderBy("doc_id")

  /** Fixed-size word-window chunking with overlap: one output row per
    * chunk, `chunk_idx` derived arithmetically from the start offset
    * (no ordinality dependence). Short/empty docs yield one chunk.
    * Narrow: explode of a per-row computed array, no shuffle.
    */
  def chunkDocuments(
      documents: DataFrame,
      chunkWords: Int = 50,
      overlapWords: Int = 10): DataFrame = {
    require(overlapWords < chunkWords, "overlap must be smaller than the chunk")
    val step = chunkWords - overlapWords
    val words = split(TextStats.normText(col("text")), " ")
    val starts = sequence(lit(1), greatest(size(words), lit(1)), lit(step))
    documents
      .select(col("doc_id"), explode(starts).as("start"), words.as("w"))
      .select(
        col("doc_id"),
        (((col("start") - 1) / step) + 1).cast("bigint").as("chunk_idx"),
        concat_ws(" ", slice(col("w"), col("start"), lit(chunkWords))).as("chunk_text"),
        least(size(col("w")) - col("start") + 1, lit(chunkWords))
          .cast("bigint").as("n_words"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** End-to-end curation pipeline — the composition a real corpus prep
    * runs: PII-redact → quality filter (TextStats score on the original
    * text) → exact-dedup on the redacted text (keep lowest doc_id) →
    * content-addressed sample. Every stage is one of this engine's
    * oracle-verified operators, so the COMPOSITION is oracle-checkable
    * too. Plan: two broadcast-friendly id joins + the dedup key
    * aggregation — no stage materializes to the driver.
    */
  def curate(
      documents: DataFrame,
      minQuality: Double = 0.5,
      sampleHexThreshold: String = "80"): DataFrame = {
    val redacted = redactPii(documents)
    val quality = TextStats.qualityScore(documents)
      .select(col("doc_id"), col("quality_score"))
    val joined = documents.select(col("doc_id"), col("lang"))
      .join(redacted, Seq("doc_id"))
      .join(quality, Seq("doc_id"))
      .filter(col("quality_score") >= minQuality)
    val key = md5(TextStats.normText(col("clean_text")))
    val winners = joined
      .select(key.as("k"), col("doc_id"))
      .groupBy("k").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    joined
      .join(winners, Seq("doc_id"), "left_semi")
      .filter(md5(encode(col("clean_text"), "UTF-8")) < lit(sampleHexThreshold))
      .select("doc_id", "lang", "clean_text", "quality_score")
      .orderBy("doc_id")
  }

  /** The COMPLETE curation pipeline: redact → quality-filter →
    * exact-dedup (clean text) → benchmark decontamination → per-source
    * quota. Every stage is one of this engine's oracle-verified
    * operators and the composition itself is oracle-checked end-to-end
    * — the strongest single correctness signal a pipeline can give
    * (stage-local tests can't catch inter-stage contract breaks).
    */
  def curateFull(
      documents: DataFrame,
      benchmark: DataFrame,
      minQuality: Double = 0.5,
      contaminationN: Int = 8,
      maxPerSource: Int = 50): DataFrame = {
    val redacted = redactPii(documents)
    val quality = TextStats.qualityScore(documents)
      .select(col("doc_id"), col("quality_score"))
    val joined = documents.select(col("doc_id"), col("lang"), col("source"))
      .join(redacted, Seq("doc_id"))
      .join(quality, Seq("doc_id"))
      .filter(col("quality_score") >= minQuality)
    val key = md5(TextStats.normText(col("clean_text")))
    val winners = joined
      .select(key.as("k"), col("doc_id"))
      .groupBy("k").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val deduped = joined.join(winners, Seq("doc_id"), "left_semi")
    val decontaminated = decontaminate(
      deduped.withColumnRenamed("clean_text", "text"), benchmark, contaminationN)
      .withColumnRenamed("text", "clean_text")
    capPerSource(decontaminated, maxPerSource)
      .select("doc_id", "lang", "source", "clean_text", "quality_score")
      .orderBy("doc_id")
  }

  /** Stratified content-addressed sample: within each stratum (default
    * `lang`), keep the first `⌈frac·n⌉` documents by (md5(text), doc_id)
    * order. Proportional representation per stratum regardless of how
    * skewed the stratum sizes are — the balance-preserving sample a
    * multilingual corpus needs (a flat hash split under-represents small
    * languages by sampling noise).
    *
    * Scale shape: a stratum column with ~5 values would funnel ~1/5 of
    * the corpus through ONE window task if ranked directly (and a
    * non-constant rank bound defeats Spark's WindowGroupLimit pushdown).
    * Instead the ⌈frac·n⌉-th (md5, doc_id) order statistic per stratum is
    * found by bucket refinement — exact, and no task ever owns a stratum:
    *
    *   1. histogram pass: counts per (stratum, first-`bucketHexLen`-hex
    *      md5 prefix) — ≤ 16^len rows per stratum, a map-side-combined
    *      aggregate whose output is corpus-size-independent;
    *   2. cumulative counts over that TINY frame (triangular self-join,
    *      not a corpus window) locate the single bucket containing the
    *      target rank, and the residual rank within it;
    *   3. rank pass: row_number over ONLY the picked bucket's rows
    *      (≈ stratum/16^len of the data), partitioned by
    *      (stratum, bucket) — never the stratum alone — yields the
    *      per-stratum threshold pair;
    *   4. one narrow broadcast-join filter `(md5, doc_id) ≤ threshold`
    *      over the corpus emits exactly the first ⌈frac·n⌉ rows.
    *
    * Same result as the direct window rank (the DuckDB oracle keeps the
    * straightforward SQL), different physics: three narrow corpus passes,
    * zero corpus-wide shuffles, and the only window's partition count
    * grows 16^len× faster than the stratum cardinality.
    */
  def sampleStratified(
      documents: DataFrame,
      frac: Double = 0.2,
      strataCol: String = "lang",
      bucketHexLen: Int = 2): DataFrame = {
    require(frac > 0 && frac <= 1, "frac must be in (0,1]")
    // target rank k = ⌈n·frac⌉ — the same double product the oracle's
    // ceil(n * frac) computes, so the boundary row agrees bit-for-bit
    keepFirstKPerStratum(documents, strataCol, bucketHexLen,
      hist => hist.groupBy("_s")
        .agg(ceil(sum("_c") * lit(frac)).cast("long").as("_target")))
  }

  /** Temperature-based multilingual rebalancing (Lample & Conneau 2019,
    * arXiv:1901.07291 §3.1, α = 0.5; XLM-R/mT5 tune the same knob):
    * per-language sampling rates q_l ∝ p_l^α flatten the corpus's
    * language skew so high-resource languages stop drowning the tail.
    * With α = ½ the weights are square roots, realized here as
    * ⌊√n_l⌋ — IEEE sqrt is correctly rounded in every engine, so the
    * integer weight (and therefore every quota) is exactly portable,
    * unlike pow(x, 0.3)'s libm-dependent last ulp. Quotas are
    * all-integer: B = (N·budgetPct) div 100 total docs, language l gets
    * k_l = min(n_l, (B·⌊√n_l⌋) div Σ⌊√n_l⌋) — truncation leaves a few
    * docs unspent rather than ever overshooting the budget.
    *
    * Selection within a language is content-addressed ((md5(text),
    * doc_id) order — the [[sampleStratified]] rule), so the sample is
    * stable under re-partitioning and incremental corpus growth only
    * shifts the boundary. Same skew-safe bucket-refinement kernel: no
    * task ever owns a whole language.
    */
  def sampleTemperature(
      documents: DataFrame,
      budgetPct: Int = 50,
      strataCol: String = "lang",
      bucketHexLen: Int = 2): DataFrame = {
    require(budgetPct >= 1 && budgetPct <= 100,
      s"budgetPct out of range: $budgetPct")
    keepFirstKPerStratum(documents, strataCol, bucketHexLen, hist => {
      val perS = hist.groupBy("_s").agg(sum("_c").as("_n"))
        .withColumn("_w", floor(sqrt(col("_n"))).cast("long"))
      // corpus constants (N, W) ride a broadcast single-row cross join;
      // BIGINT div keeps every quota exact at any corpus size (the
      // double-division floor would wobble past 2^53)
      val tot = perS.agg(sum("_n").cast("long").as("_nn"),
        sum("_w").cast("long").as("_ww"))
      perS.crossJoin(broadcast(tot))
        .withColumn("_target",
          least(col("_n"), expr(s"(((_nn * $budgetPct) div 100) * _w) div _ww")))
        .select("_s", "_target")
    })
  }

  /** Skew-safe "first k docs per stratum by (md5(text), doc_id)" kernel
    * shared by [[sampleStratified]] and [[sampleTemperature]] (pure
    * code motion from the former — its declared plan is unchanged).
    * `targetsOf` maps the (stratum, bucket) histogram to per-stratum
    * target ranks `(_s, _target)`; a stratum with target 0 (or absent)
    * contributes nothing.
    */
  private def keepFirstKPerStratum(
      documents: DataFrame,
      strataCol: String,
      bucketHexLen: Int,
      targetsOf: DataFrame => DataFrame): DataFrame = {
    require(bucketHexLen >= 1 && bucketHexLen <= 8,
      s"bucket prefix must be 1-8 hex chars, got $bucketHexLen")
    // NULL handling must not silently drop rows the window version
    // sampled: a NULL text keys as '' (sorts before any hex digest —
    // the nulls-first order of the replaced window), and NULL strata
    // flow through null-safe joins below as their own stratum
    val key = coalesce(md5(encode(col("text"), "UTF-8")), lit(""))
    val keyed = documents.select(
      col(strataCol).as("_s"), key.as("_k"), col("doc_id").as("_id"),
      substring(key, 1, bucketHexLen).as("_b"))
    val hist = graft.core.CacheScope.persist(
      keyed.groupBy("_s", "_b").agg(count(lit(1)).as("_c")))
    val targets = targetsOf(hist)
    val h2 = hist.select(
      col("_s").as("_s2"), col("_b").as("_b2"), col("_c").as("_c2"))
    val cum = hist.join(h2, col("_s") <=> col("_s2") && col("_b2") <= col("_b"))
      .groupBy(col("_s"), col("_b"))
      .agg(sum("_c2").as("_cum"),
        sum(when(col("_b2") < col("_b"), col("_c2")).otherwise(lit(0L)))
          .as("_before"))
    val tjoin = targets.select(col("_s").as("_st"), col("_target"))
    val pick = cum.join(tjoin, col("_s") <=> col("_st"))
      .filter(col("_before") < col("_target") && col("_cum") >= col("_target"))
      .select(col("_s"), col("_b"),
        (col("_target") - col("_before")).as("_residual"))
    val wb = Window.partitionBy("_s", "_b").orderBy(col("_k"), col("_id"))
    val pickJ = pick.select(
      col("_s").as("_ps"), col("_b").as("_pb"), col("_residual"))
    val thresholds = keyed
      .join(broadcast(pickJ),
        col("_s") <=> col("_ps") && col("_b") <=> col("_pb"))
      .withColumn("_rn", row_number().over(wb))
      .filter(col("_rn") === col("_residual"))
      .select(col("_s"), col("_k").as("_tk"), col("_id").as("_tid"))
    documents
      .join(broadcast(thresholds), documents(strataCol) <=> col("_s"))
      .filter(key < col("_tk") || (key === col("_tk") && col("doc_id") <= col("_tid")))
      .select(documents.columns.map(documents(_)).toSeq: _*)
      .orderBy("doc_id")
  }

  /** Global segment-level deduplication — the C4-style "remove
    * duplicated lines across the corpus" rule (Raffel et al., JMLR
    * 2020), adapted to fixed-width word segments because this corpus
    * has no line structure: the text is cut into consecutive
    * `segWords`-word segments, every segment that occurs anywhere else
    * in the corpus keeps only its FIRST occurrence (lowest
    * `(doc_id, seg_idx)`), and documents are reassembled from their
    * surviving segments in order. A document whose every segment is
    * seen earlier disappears entirely — exact-duplicate docs collapse
    * to the first copy as a special case.
    *
    * Scale shape: keep-first is a `min(struct(doc_id, seg_idx))`
    * aggregation per segment — partial aggregation collapses the
    * copies of a viral boilerplate segment map-side, so a
    * billion-copy segment never funnels one reducer (a window rank
    * over the segment key would). The survivors join back by segment
    * (AQE skew-safe), and reassembly is a per-doc aggregate whose
    * groups are bounded by document length.
    */
  /** One row per `segWords`-word segment of the normalized text, with
    * `carry` columns kept: `(carry..., seg_idx, seg)`. THE segment
    * cut — shared by [[segmentDedup]] and
    * [[graft.ext.TextStats.sourceOverlap]] so "segment granularity"
    * means one formula, not two parallel ones. Empty/NULL text yields
    * one '' segment (callers that must not count it filter it).
    */
  private[ext] def docSegments(
      documents: DataFrame,
      segWords: Int,
      carry: Seq[String]): DataFrame = {
    require(segWords >= 1, "segment width must be positive")
    val words = split(TextStats.normText(col("text")), " ")
    val starts = sequence(lit(1), greatest(size(words), lit(1)), lit(segWords))
    documents
      .select(carry.map(col) ++ Seq(
        explode(starts).as("_start"), words.as("_w")): _*)
      .select(carry.map(col) ++ Seq(
        ((col("_start") - 1) / segWords).cast("bigint").as("seg_idx"),
        concat_ws(" ", slice(col("_w"), col("_start"), lit(segWords))).as("seg")): _*)
  }

  def segmentDedup(documents: DataFrame, segWords: Int = 10): DataFrame = {
    val segs = docSegments(documents, segWords, Seq("doc_id", "lang", "source"))
      .transform(graft.core.CacheScope.persist) // first-occurrence agg + join-back
    val firsts = segs
      .groupBy("seg")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("_f"))
      .select(col("seg"), col("_f.doc_id").as("_fd"), col("_f.seg_idx").as("_fi"))
    segs
      .join(firsts, Seq("seg"))
      .filter(col("doc_id") === col("_fd") && col("seg_idx") === col("_fi"))
      .groupBy("doc_id")
      .agg(
        first("lang").as("lang"), first("source").as("source"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            x => x.getField("seg"))).as("text"),
        count(lit(1)).as("n_segs_kept"))
      .orderBy("doc_id")
  }

  /** Per-source document quota: keep at most `maxDocs` documents per
    * source (lowest doc_ids win — deterministic). The standard domain-cap
    * step that stops one crawler domain from dominating a corpus. One
    * window shuffle on the source key; at 100 TB the same plan shape
    * partitions by (source) and never funnels.
    */
  def capPerSource(
      documents: DataFrame,
      maxDocs: Int = 50,
      srcCol: String = "source"): DataFrame = {
    val w = Window.partitionBy(srcCol).orderBy("doc_id")
    documents
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxDocs)
      .drop("_rn")
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: drop every corpus document sharing at
    * least one word-`n`-gram with the benchmark corpus (the exact
    * containment rule used to keep eval sets out of training data;
    * n = 8 is the common published choice). Plan: the benchmark's
    * distinct gram set (small by construction — eval sets are tiny next
    * to the corpus) semi-joins the corpus posting list; AQE broadcasts
    * it, so the corpus is ONE narrow pass + one anti-join, never
    * shuffled by gram.
    */
  def decontaminate(
      documents: DataFrame,
      benchmark: DataFrame,
      n: Int = 8): DataFrame = {
    val bGrams = benchmark
      .select(explode(
        graft.functions.GraftFunctions.ngramHashes(col("text"), n)).as("gram"))
      .distinct()
    val hits = documents
      .select(col("doc_id"),
        explode(
          graft.functions.GraftFunctions.ngramHashes(col("text"), n)).as("gram"))
      .join(bGrams, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
    documents.join(hits, Seq("doc_id"), "left_anti").orderBy("doc_id")
  }

  /** The benchmark's n-gram Bloom bitmap, built by a distributed
    * OR-fold: gram positions → (bit-word index, bit) → `bit_or`
    * aggregate — the shuffle carries at most mBits/64 rows and the
    * driver collect is bounded by CONFIGURATION, never by bench size.
    * Shifts and masks stay in [0, mBits), so ANSI arithmetic can never
    * overflow. Shared by [[decontaminateBloom]] and the streaming face
    * (`StreamDecontaminate`) — one builder, one position function.
    */
  /** The frozen contamination artifact: the bitmap BUNDLED with the
    * parameters it was built under. A probe with a different gram
    * width, hash count, or bitmap size than the build silently loses
    * the no-false-negative guarantee (contaminated docs stream through
    * flagged clean) — so the builder returns the whole tuple and the
    * consumers ([[decontaminateBloom]]'s confirm,
    * [[graft.streaming.StreamDecontaminate.filterStream]]) take the
    * artifact, never loose (bits, mBits, nHashes, n) that could drift.
    */
  final case class BloomArtifact(
      bits: Array[Long], mBits: Int, nHashes: Int, n: Int) {
    require(bits.length.toLong * 64 == mBits.toLong,
      s"bitmap length ${bits.length} does not match mBits=$mBits")
  }

  /** Build the frozen [[BloomArtifact]] for a benchmark corpus — the
    * bundled form of [[bloomBitmap]]; all probe sites should consume
    * this, not a bare bitmap.
    */
  def bloomArtifact(
      benchmark: DataFrame,
      n: Int = 8,
      mBits: Int = 1 << 20,
      nHashes: Int = 2): BloomArtifact =
    BloomArtifact(bloomBitmap(benchmark, n, mBits, nHashes), mBits, nHashes, n)

  def bloomBitmap(
      benchmark: DataFrame,
      n: Int = 8,
      mBits: Int = 1 << 20,
      nHashes: Int = 2): Array[Long] = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two >= 64: $mBits")
    require(nHashes >= 1 && nHashes <= 8, s"nHashes out of range: $nHashes")
    import graft.functions.GraftFunctions.{bloomPositions, ngramHashes}
    val words = benchmark
      .select(explode(bloomPositions(
        ngramHashes(col("text"), n), nHashes, mBits)).as("p"))
      .select(shiftright(col("p"), 6).as("widx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("bit"))
      .groupBy("widx").agg(bit_or(col("bit")).as("word"))
      .collect()
    val bits = new Array[Long](mBits / 64)
    words.foreach(r => bits(r.getLong(0).toInt) = r.getLong(1))
    bits
  }

  /** [[decontaminate]] with a Bloom-filter pre-pass — identical output
    * (Bloom filters have no false negatives; a false positive only
    * costs a wasted confirm), different physics at 100 TB. The exact
    * plan explodes EVERY corpus doc into n-grams and joins the lot;
    * here the bench set compiles once into an `mBits`-bit bitmap
    * (built by a distributed OR-fold over ≤ mBits/64 bit-words — the
    * driver collect is bounded by CONFIGURATION, never by bench size)
    * and the corpus pays ONE narrow codegen'd probe pass: only the
    * suspicious sliver re-explodes for the exact confirm join. When
    * the contamination set outgrows broadcast range (every eval suite
    * + blocklists — billions of grams), the bitmap still broadcasts at
    * fixed size and the confirm join carries only suspicious grams.
    *
    * FP sizing: at bench-gram count g, FP rate per gram ≈
    * (1−e^(−k·g/m))^k — size mBits ≥ ~10× expected grams for the
    * default k=2 to keep the confirm sliver near the true hit set.
    */
  def decontaminateBloom(
      documents: DataFrame,
      benchmark: DataFrame,
      n: Int = 8,
      mBits: Int = 1 << 20,
      nHashes: Int = 2): DataFrame = {
    import graft.functions.GraftFunctions.{bloomAny, ngramHashes}
    val art = bloomArtifact(benchmark, n, mBits, nHashes)
    // probe: one narrow pass marks the suspicious sliver; clean docs
    // never explode, never join. Probe parameters come off the bundled
    // artifact — they CANNOT drift from the build's. The sliver is
    // pinned WITH its gram arrays — without the pin, the confirm's
    // scan re-evaluates the filter and the corpus pays the gram-hash
    // pass TWICE (measured 1.4× the exact plan at sf10 before this
    // pin; the sliver is small by construction, so pinning it is
    // bytes, not a corpus cache)
    val suspicious = graft.core.CacheScope.persist(
      documents
        .select(col("doc_id"), ngramHashes(col("text"), art.n).as("_g"))
        .filter(bloomAny(col("_g"), art.bits, art.nHashes, art.mBits)))
    val bGrams = benchmark
      .select(explode(ngramHashes(col("text"), art.n)).as("gram"))
      .distinct()
    val hits = suspicious
      .select(col("doc_id"), explode(col("_g")).as("gram"))
      .join(bGrams, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
    documents.join(hits, Seq("doc_id"), "left_anti").orderBy("doc_id")
  }

  /** Per-document contamination SCORE — the graded companion to
    * [[decontaminate]]'s hard filter: for each doc, how many of its
    * distinct word-`n`-grams appear anywhere in the benchmark, and the
    * fraction they represent. Pipelines that tier their response to
    * leakage (drop above one threshold, down-weight above another,
    * audit the tail) need the number, not just the verdict.
    *
    * Plan: benchmark grams are tiny by definition (eval sets, not
    * corpora) → built once, deduped, BROADCAST; the corpus's exploded
    * grams take the hit-flag from a broadcast left join (never
    * shuffled by gram), and the per-doc rollup ships one partial row
    * per doc. Same gram construction as [[decontaminate]] (distinct
    * 64-bit hashes via [[graft.functions.GraftFunctions.ngramHashes]];
    * short docs collapse to one whole-text gram).
    */
  def contaminationScore(
      documents: DataFrame,
      benchmark: DataFrame,
      n: Int = 8): DataFrame = {
    val bGrams = benchmark
      .select(explode(
        graft.functions.GraftFunctions.ngramHashes(col("text"), n)).as("gram"))
      .distinct()
      .withColumn("_hit", lit(1L))
    // n_grams/n_hits are HASH-approximate counts (distinct 64-bit gram
    // hashes, not distinct gram strings): an in-doc collision would
    // shift both by one (~2^-64 per gram pair). Unlike decontaminate's
    // boolean verdict this query EXPOSES the raw counts, so on real
    // 100 TB data treat them as approximate; the synthetic-corpus
    // oracle compare is collision-free in practice.
    documents
      .select(col("doc_id"),
        explode(
          graft.functions.GraftFunctions.ngramHashes(col("text"), n)).as("gram"))
      .join(broadcast(bGrams), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_grams"), 4)
          .as("contamination"))
      .orderBy("doc_id")
  }

  /** Quality-weighted importance sampling: each document survives with
    * probability equal to its [0,1] quality score — the "soft filter"
    * between keep-everything and a hard threshold (high-quality text is
    * kept almost surely, junk almost never, the middle proportionally).
    * Deterministic and content-addressed like [[sampleByHash]]: the
    * uniform draw is the first 8 md5 hex chars compared against a
    * PER-ROW hex threshold rendered from the score — so the decision
    * is stable under re-partitioning, re-runs, and engine choice.
    * FLOOR before the integer cast is load-bearing: Spark's double→long
    * cast truncates while DuckDB's CAST rounds — an explicit floor
    * makes both engines compute the identical threshold. Zero shuffle.
    */
  def sampleByQuality(documents: DataFrame): DataFrame = {
    val q = TextStats.qualityScoreColumn(col("text"))
    val thr = format_string("%08x",
      least(floor(q * lit(4294967296.0)).cast("long"), lit(0xffffffffL)))
    documents
      .withColumn("quality_score", q)
      .filter(substring(md5(col("text")), 1, 8) < thr)
      .select("doc_id", "lang", "source", "quality_score")
      .orderBy("doc_id")
  }

  /** Packing-efficiency report over [[packGreedy]]'s output: per
    * stratum, how many bins the packing produced, the token mass, and
    * the fill rate against the bin budget — the number a training run
    * reads to decide whether the sequence budget wastes compute
    * (fill < ~90% means padding dominates; > 1.0 in a stratum means
    * single docs overflow the budget and need chunking first).
    *
    * Plan: the packing's window output collapses through TWO bounded
    * aggregates — (lang, pack_id) partials, then the per-lang rollup —
    * so the report's shuffle volume is bins, then strata, never docs.
    */
  def packEfficiency(
      documents: DataFrame,
      budgetTokens: Int = 512,
      shardsPerStratum: Int = 8): DataFrame = {
    val packed = packGreedy(documents, budgetTokens, shardsPerStratum)
    packed
      .groupBy("lang", "pack_id")
      .agg(sum("n_tokens").as("_bin_tokens"), count(lit(1)).as("_bin_docs"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_bins"),
        sum(col("_bin_docs")).as("n_docs"),
        sum(col("_bin_tokens")).as("total_tokens"),
        max(col("_bin_tokens")).as("max_bin_tokens"))
      .select(col("lang"), col("n_bins"), col("n_docs"), col("total_tokens"),
        col("max_bin_tokens"),
        round(col("total_tokens").cast("double") /
          (col("n_bins") * lit(budgetTokens.toLong)).cast("double"), 4)
          .as("fill_rate"))
      .orderBy("lang")
  }

  /** 8-hex-digit threshold encoding the fractional part of a mixture
    * weight: a doc gets the extra copy iff the first 8 hex chars of
    * md5(text) sort below it — content-addressed, so the decision is
    * engine-portable and stable under reshuffling/re-partitioning.
    */
  def fracThresholdHex(frac: Double): String =
    f"${math.min((frac * 4294967296L).toLong, 0xffffffffL)}%08x"

  /** Mixture sampling — the per-source "epoch weights" step of LLM data
    * curation: weight w means every doc of that source appears
    * ⌊w⌋ times plus one more with probability frac(w) (deterministic,
    * content-addressed); w = 0 drops the source, unlisted sources get
    * `defaultWeight`. Output carries `copy_idx` (0-based) so downstream
    * packing sees distinct rows.
    *
    * Narrow plan: a literal per-source cascade + explode — no shuffle
    * at any corpus size; upsampling multiplies rows by design.
    */
  def sampleMixture(
      documents: DataFrame,
      weights: Seq[(String, Double)],
      defaultWeight: Double = 1.0): DataFrame = {
    require(weights.map(_._2).forall(_ >= 0), s"negative mixture weight: $weights")
    require(defaultWeight >= 0, s"negative default mixture weight: $defaultWeight")
    // a duplicated source would resolve last-wins here but first-wins in
    // a generated SQL CASE — reject instead of silently diverging
    require(weights.map(_._1).distinct.size == weights.size,
      s"duplicate sources in mixture weights: ${weights.map(_._1)}")
    def cascade[T](f: Double => T, lift: T => org.apache.spark.sql.Column) =
      weights.foldLeft(lift(f(defaultWeight))) { case (acc, (s, w)) =>
        when(col("source") === s, lift(f(w))).otherwise(acc)
      }
    val base = cascade[Int](w => math.floor(w).toInt, lit(_))
    val thr = cascade[String](w => fracThresholdHex(w - math.floor(w)), lit(_))
    val copies = base +
      when(substring(md5(col("text")), 1, 8) < thr, 1).otherwise(0)
    documents
      .select(col("doc_id"), col("source"), copies.as("copies"))
      .filter(col("copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0), col("copies") - 1)).as("ci"))
      .select(col("doc_id"), col("source"), col("ci").cast("bigint").as("copy_idx"))
      .orderBy("doc_id", "copy_idx")
  }

  /** Sequence packing: assign documents to fixed-token-budget packs by
    * cumulative whitespace-token count in doc_id order WITHIN each
    * (lang, shard) slice, where `shard = doc_id mod shardsPerStratum`.
    * This is the standard distributed approximation of greedy packing —
    * contiguous fill per shard, one window shuffle, no sequential
    * driver loop. `pack_id = lang#shard#bin`.
    *
    * Scale note: sequential fill is inherent to packing, so the ONLY
    * scale lever is the shard key. A lang-only key (~5 values) would
    * funnel ~1/5 of the corpus through one window task; the composite
    * key bounds every task at corpus/(|lang|·shardsPerStratum) and the
    * shard count is a free parameter — raise it with the data instead
    * of hitting a metadata-cardinality ceiling. The cost is at most one
    * partial tail pack per extra shard, the usual trade.
    */
  def packGreedy(
      documents: DataFrame,
      budgetTokens: Int = 512,
      shardsPerStratum: Int = 8): DataFrame = {
    require(shardsPerStratum >= 1, "need at least one shard per stratum")
    val toks = TextStats.wsTokenCount(col("text"))
    val w = Window.partitionBy("lang", "_shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("lang"), toks.cast("bigint").as("n_tokens"),
        pmod(col("doc_id"), lit(shardsPerStratum.toLong)).as("_shard"))
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        concat(col("lang"), lit("#"), col("_shard").cast("string"), lit("#"),
          floor((col("cum") - col("n_tokens")) / budgetTokens).cast("string"))
          .as("pack_id"))
      .orderBy("doc_id")
  }

  /** Deterministic data-mixing SCHEDULE over the packed shards — the
    * consumption-side answer to per-source weights (DoReMi/LLaMA-style
    * mixture ratios): in what ORDER does the trainer draw packs so
    * every prefix of training sees languages in proportion to their
    * weights? Classic stride (virtual-time / weighted-fair-queueing)
    * scheduling: the pack at within-(lang, shard) index `seq` gets
    * virtual time (2·seq+1)·S / (2·w_lang) — higher-weight languages
    * place packs more densely on the time axis, so any schedule prefix
    * holds the w-proportions to within one pack per stream. `ORDER BY
    * rand()`-style mixing has the proportions only in expectation;
    * this has them by construction, reproducibly.
    *
    * Scale shape: ZERO operators beyond [[packGreedy]]'s own — `seq`
    * is parsed back from the pack_id (one narrow projection), the
    * weight rides a broadcast literal map, and the schedule order IS
    * the declared total sort. The key is one exact double division
    * ((2·seq+1)·S exact in long; w·2 exact for literal weights) —
    * engine-portable, correctly-rounded single op. Weight-0 languages
    * drop (the MixtureWeights drop contract). Per-(lang, shard) pack
    * streams each get w/S of the axis; S streams per language sum
    * back to w.
    */
  def mixtureSchedule(
      documents: DataFrame,
      weights: Seq[(String, Double)],
      defaultWeight: Double = 1.0,
      budgetTokens: Int = 512,
      shardsPerStratum: Int = 8): DataFrame = {
    require(weights.map(_._2).forall(_ >= 0), s"negative weight: $weights")
    require(weights.map(_._1).distinct.size == weights.size,
      s"duplicate language in weights: ${weights.map(_._1)} — toMap is " +
        "last-wins here but first-wins in a generated SQL CASE")
    require(defaultWeight >= 0, s"negative default weight: $defaultWeight")
    val packs = packGreedy(documents, budgetTokens, shardsPerStratum)
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    val wMap = typedLit(weights.toMap)
    packs
      // the LAST '#'-field is always seq, whatever characters lang holds
      .withColumn("_seq", element_at(split(col("pack_id"), "#"), -1).cast("long"))
      .withColumn("_w", coalesce(element_at(wMap, col("lang")), lit(defaultWeight)))
      .filter(col("_w") > 0)
      .withColumn("sched_key",
        (col("_seq") * 2 + 1) * lit(shardsPerStratum.toLong) / (col("_w") * 2))
      .select(col("sched_key"), col("lang"), col("pack_id"),
        col("n_docs"), col("n_tokens"))
      .orderBy("sched_key", "lang", "pack_id")
  }

  /** Default token budget for [[selectBudget]]: sized so the sf0.001+
    * corpora all have a real boundary stratum (partially taken), i.e.
    * the interesting branch is always exercised.
    */
  val SelectBudgetTokens = 10000L

  /** Token-budget corpus selection: the "best B tokens" curation step —
    * greedily take documents by quality score (descending) until the
    * token budget is spent; within the boundary score, take by doc_id
    * ascending while the running total is still under budget (the first
    * overflowing document is included iff strictly under budget before
    * it — the classic greedy prefix).
    *
    * 100 TB shape: NO global sort of raw rows. Scores are 4-dp discrete
    * (≤10⁴+1 values), so the score axis aggregates to a tiny
    * (score → token-sum) histogram; every stratum is then classified by
    * broadcast-joining two numbers (tokens above it, tokens through it):
    * fully-funded strata keep ALL their rows with no window, defunded
    * strata drop wholesale, and only the ONE boundary stratum pays a
    * per-row running sum — a window over that stratum's rows alone, not
    * the corpus. Selection is content-deterministic given (corpus,
    * budget): stable under re-partitioning and re-runs.
    */
  def selectBudget(
      documents: DataFrame,
      budgetTokens: Long = SelectBudgetTokens): DataFrame = {
    // pinned: the regex-heavy scoring pass (stopword LIKE battery +
    // punctuation scrub over text) runs ONCE — histogram, whole-strata
    // and boundary branches all reread the narrow (id, score, tokens)
    // projection instead of re-scanning text three times
    val scored = graft.core.CacheScope.persist(documents.select(
      col("doc_id"), col("lang"), col("source"),
      TextStats.qualityScoreColumn(col("text")).as("quality_score"),
      TextStats.wsTokenCount(col("text")).as("n_tokens")))
    budgetSelect(scored, budgetTokens)
  }

  /** Default budget for [[selectBudgetBpe]]: the [[SelectBudgetTokens]]
    * fraction of the corpus (~37%) restated in BPE symbols (the 8-merge
    * table leaves ~4.6 BPE tokens per word on the synthetic corpus), so
    * the boundary-stratum branch carries weight exactly like the ws key.
    */
  val SelectBudgetBpeTokens = 46000L

  /** [[selectBudget]] with TOKENIZER-TRUE costs: the per-doc token
    * count is the trained BPE encode ([[Bpe.bpeEncode]] — the corpus's
    * own merge table applied), not the whitespace proxy. This is the
    * end-to-end demonstration that the tokenizer artifact feeds the
    * selection math: budgets are spent in the same units the training
    * run will pay. Same histogram-classified selection kernel
    * ([[budgetSelect]]) — a selection fix lands on both keys at once.
    */
  def selectBudgetBpe(
      documents: DataFrame,
      budgetTokens: Long = SelectBudgetBpeTokens): DataFrame = {
    val bpe = Bpe.bpeEncode(documents)
      .select(col("doc_id"), col("bpe_tokens").as("n_tokens"))
    val scored = graft.core.CacheScope.persist(documents.select(
      col("doc_id"), col("lang"), col("source"),
      TextStats.qualityScoreColumn(col("text")).as("quality_score"))
      .join(bpe, Seq("doc_id")))
    budgetSelect(scored, budgetTokens)
  }

  /** The histogram-classified greedy-prefix selection shared by
    * [[selectBudget]] and [[selectBudgetBpe]]; `scored` carries
    * `(doc_id, lang, source, quality_score, n_tokens)`.
    */
  private def budgetSelect(scored: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budget must be >= 0: $budgetTokens")
    // (score → Σtokens) histogram; tokens strictly ABOVE each score
    val hw = Window.orderBy(desc("quality_score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = scored.groupBy("quality_score")
      .agg(sum("n_tokens").as("_t"))
      .withColumn("_above", coalesce(sum("_t").over(hw), lit(0L)))
    val joined = scored.join(broadcast(hist), Seq("quality_score"))
    // stratum STRICTLY inside the budget → keep, no per-row state.
    // A stratum ending EXACTLY at the budget goes through the boundary
    // window instead: a zero-token doc sorting after the stratum's full
    // token mass has cum-before == budget and the per-row greedy rule
    // ("cum-before < budget") excludes it — wholesale keeping would not
    val whole = joined.filter(
      col("_above") < budgetTokens && col("_above") + col("_t") < budgetTokens)
    // the boundary stratum (starts under budget, reaches/crosses it)
    // pays the only per-row running sum — partitioned BY the stratum,
    // so state never exceeds one score-group
    val bw = Window.partitionBy("quality_score").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined
      .filter(col("_above") < budgetTokens && col("_above") + col("_t") >= budgetTokens)
      .withColumn("_cum", sum("n_tokens").over(bw))
      .filter(col("_above") + col("_cum") - col("n_tokens") < budgetTokens)
    whole.select(col("doc_id"), col("lang"), col("source"),
        col("quality_score"), col("n_tokens"))
      .unionByName(boundary.select(col("doc_id"), col("lang"), col("source"),
        col("quality_score"), col("n_tokens")))
      .orderBy("doc_id")
  }

  // ------------------------------------------------- shard materializer

  /** The pipeline TERMINAL: materialize a packed corpus
    * ([[packGreedy]]'s assignment) as one storage partition per pack
    * plus a manifest the trainer — and any resume or audit job — can
    * trust without re-reading the data. Layout under `outDir`:
    * `shards/pack_id=<id>/…parquet` (partition-pruned reads: a trainer
    * node fetches ITS packs by directory, never scanning neighbors)
    * and `manifest/` with one row per pack: `(pack_id, n_docs,
    * n_tokens, checksum)`.
    *
    * The manifest is computed from a READ-BACK of the written files,
    * not from the input plan, so it attests what is ON DISK — write
    * faults, partial overwrites and later tampering all surface as a
    * checksum mismatch instead of a silent training-data gap. The
    * checksum is order-independent (a DECIMAL sum of per-row
    * `hash64(doc_id ⧺ text)`), so it is stable under partition count
    * and row order — re-running the writer over the same corpus is
    * manifest-idempotent (spec-pinned). The cost is one extra columnar
    * read of the shards; at full scale an operator can trade that
    * audit for speed by manifesting from the input — this
    * implementation deliberately keeps the audit default.
    *
    * Returns the manifest (as re-read from `outDir/manifest` — the
    * caller holds exactly what a later job will see).
    */
  def writeShards(
      documents: DataFrame,
      packed: DataFrame,
      outDir: String): DataFrame = {
    val spark = documents.sparkSession
    // pinned STATIC overwrite for the shard root: under a session-wide
    // dynamic mode, a re-run producing FEWER packs would leave the
    // vanished packs' directories on disk — and the read-back manifest
    // would then attest stale data as valid. The terminal's contract is
    // "the shard root IS the packed corpus", which is exactly static
    // overwrite. A writer option, not the session conf: flipping the
    // shared session's mode would race any concurrent writer on it.
    documents.select("doc_id", "text", "lang")
      .join(packed.select("doc_id", "n_tokens", "pack_id"), Seq("doc_id"))
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("pack_id")
      .parquet(s"$outDir/shards")
    spark.read.parquet(s"$outDir/shards")
      .groupBy("pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        shardChecksum.as("checksum"))
      .write.mode("overwrite").parquet(s"$outDir/manifest")
    spark.read.parquet(s"$outDir/manifest").orderBy("pack_id")
  }

  /** The shard checksum TERM: order-independent per-row
    * hash64(doc_id ⧺ text) summed exactly in DECIMAL — ONE definition
    * consumed by both the writer ([[writeShards]]' manifest) and the
    * audit ([[verifyShards]]' recompute), so they can never drift
    * (r13 review: the formula was previously duplicated). Text
    * coalesced: a NULL-text row must still contribute its doc_id to
    * the checksum (concat-with-NULL hashes to NULL and the sum would
    * silently skip the row).
    */
  private def shardChecksum: org.apache.spark.sql.Column =
    sum(graft.functions.GraftFunctions.hash64(
      concat(col("doc_id").cast("string"), lit(" "),
        coalesce(col("text"), lit(""))))
      .cast("decimal(38,0)"))

  /** The manifest's AUDIT CONSUMER — what a resuming trainer (or an
    * integrity sweep) runs before trusting a shard root: recompute
    * every pack's (n_docs, n_tokens, checksum) from the files on disk
    * and diff against the stored manifest. One row per DISAGREEING
    * pack, `pack_id, status, …`: `missing` (manifest row with no data
    * on disk), `unexpected` (data with no manifest row), `mismatch`
    * (counts or checksum differ — a partial write, an overwrite, or
    * tampering). An EMPTY result is the pass verdict. Same
    * order-independent checksum as [[writeShards]] — one shared
    * formula, so the audit can never drift from the writer.
    *
    * Scale: one columnar read of the shards (the price [[writeShards]]
    * already pays for its read-back manifest) + a pack-keyed aggregate
    * and a manifest-sized join — no driver data.
    */
  def verifyShards(
      spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame = {
    // a wiped/absent shards root is squarely the audit's use case —
    // "trust before resume" must return a VERDICT (every manifest pack
    // `missing`), not propagate a path-not-found read error (r13 advice)
    val shardsRaw =
      try spark.read.parquet(s"$outDir/shards")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getErrorClass == "PATH_NOT_FOUND" ||
               e.getMessage.contains("Path does not exist") ||
               e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
          import spark.implicits._
          spark.emptyDataset[(Long, String, String, Long, String)]
            .toDF("doc_id", "text", "lang", "n_tokens", "pack_id")
      }
    val recomputed = shardsRaw
      .groupBy("pack_id")
      .agg(
        count(lit(1)).as("a_docs"),
        sum("n_tokens").as("a_tokens"),
        shardChecksum.as("a_checksum"))
    val manifest = spark.read.parquet(s"$outDir/manifest")
      .select(col("pack_id"), col("n_docs").as("m_docs"),
        col("n_tokens").as("m_tokens"), col("checksum").as("m_checksum"))
    manifest.join(recomputed, Seq("pack_id"), "full_outer")
      .withColumn("status",
        when(col("a_docs").isNull, lit("missing"))
          .when(col("m_docs").isNull, lit("unexpected"))
          .when(col("m_docs") === col("a_docs") &&
            col("m_tokens") === col("a_tokens") &&
            col("m_checksum") === col("a_checksum"), lit("ok"))
          .otherwise(lit("mismatch")))
      .filter(col("status") =!= "ok")
      .select(col("pack_id"), col("status"),
        col("m_docs"), col("a_docs"), col("m_tokens"), col("a_tokens"))
      .orderBy("pack_id")
  }

  /** Default training-block length for [[packSequences]] — small enough
    * that the sf0.001+ fixtures produce many full blocks AND multi-block
    * docs (both branches always exercised).
    */
  val PackBlockTokens = 512

  /** Fixed-length training-sequence packing — the GPT-lineage
    * concat-and-chunk step (Brown et al. 2020 arXiv:2005.14165 §2.3
    * pack documents into full 2048-token contexts; T5 arXiv:1910.10683
    * does the same at 512): the corpus's trained-BPE token stream is
    * laid end-to-end in doc_id order and cut into exact
    * `blockTokens`-token blocks, documents SPLITTING across block
    * boundaries (zero padding waste — the property [[packGreedy]]'s
    * whole-doc bins cannot have). Output is the pack MAP, one row per
    * (document, block) segment: `doc_id, block_id, off_in_block,
    * n_tokens` — with [[graft.ext.Bpe.bpeTokens]]'s stream it fully
    * determines every training sequence. Docs with zero letter-run
    * tokens occupy no space and emit no rows.
    *
    * Scale shape — the global prefix sum is a two-level distributed
    * scan, NOT a one-task window: per-doc token counts range-partition
    * by doc_id (persisted, so the layout is computed once), each
    * partition cum-sums locally under a window partitioned by the
    * physical partition id, and the per-partition totals — bounded by
    * the configured partition count, the audited-bounded-collect class
    * — prefix-sum on the driver and broadcast back as each partition's
    * base offset. The result is a pure function of (corpus, blockTokens):
    * partition boundaries shift WHERE the local scans cut, never what
    * any doc's global offset is (spec-pinned under a different input
    * layout). A doc spanning b blocks emits b rows via an explicit
    * `sequence` explode — bounded by doc length / blockTokens, a
    * per-doc quantity.
    */
  /** Deterministic training-order shuffle of the packed sequence
    * blocks — the step between [[packSequences]] and [[writeShards]] a
    * trainer actually needs: SGD wants the fixed-length blocks in an
    * order DECORRELATED from document order (consecutive blocks share
    * a document's tail/head), and the order must be reproducible for
    * restarts and data-ablation reruns. `ORDER BY rand()` is neither;
    * the engine's answer is the content-addressed permutation every
    * graft sample uses: order key = hash64("blk:" ⧺ block_id) masked
    * non-negative, shard = key mod nShards, position = dense 0-based
    * (key, block_id) rank within the shard.
    *
    * Scale shape: the dense per-shard rank would funnel 1/nShards of
    * all blocks through one window task (nShards is CONFIG — it does
    * NOT grow with the corpus, unlike `lang` or `centroid_id`
    * partitions). Realized instead by bucket refinement, the
    * [[sampleStratified]] argument applied to full ranking: the 4096
    * key buckets (top 12 VARYING bits — the mask clears bit 63, so the
    * shift is 51) ascend with the key, a (shard, bucket) histogram
    * (≤ nShards·4096 rows — corpus-size-independent) yields base
    * offsets via a window over the TINY frame, and the only corpus
    * window partitions by (shard, bucket) — 4096× the shard
    * parallelism. The oracle keeps the straightforward per-shard
    * window rank; the two forms are equal because bucket order
    * prefixes key order.
    */
  /** The hash salt for epoch `e`'s permutation. Epoch 0 keeps the
    * historical `blk:` salt BIT-COMPATIBLE with the declared keys and
    * the committed bench anchors; later epochs prefix the epoch number
    * — same hash, different permutation, identical block set (the
    * per-epoch reshuffle SGD training loops expect, reproducible for
    * restarts because the salt is pure content+epoch).
    */
  def epochSalt(epoch: Long): String =
    if (epoch == 0L) "blk:" else s"blk:e$epoch:"

  def shuffleBlocks(
      documents: DataFrame,
      nShards: Int = 8,
      blockTokens: Int = PackBlockTokens,
      merges: Int = Bpe.DefaultMerges,
      maxWordTypes: Int = Bpe.DefaultMaxWordTypes,
      epoch: Long = 0L): DataFrame = {
    require(nShards >= 1, s"need a positive shard count: $nShards")
    val blocks = packSequences(documents, blockTokens, merges, maxWordTypes)
      .groupBy("block_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    val keyed = graft.core.CacheScope.persist(
      blocks
        .withColumn("_k",
          graft.functions.GraftFunctions.hash64(
            concat(lit(epochSalt(epoch)), col("block_id").cast("string")))
            .bitwiseAND(lit(Long.MaxValue)))
        .withColumn("shard", col("_k") % lit(nShards.toLong))
        .withColumn("_b", shiftright(col("_k"), 51)))
    val hw = Window.partitionBy("_hs").orderBy("_hb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = keyed.groupBy(col("shard").as("_hs"), col("_b").as("_hb"))
      .agg(count(lit(1)).as("_hc"))
      .withColumn("_base", coalesce(sum("_hc").over(hw), lit(0L)))
      .select(col("_hs"), col("_hb"), col("_base"))
    val rw = Window.partitionBy("shard", "_b").orderBy("_k", "block_id")
    keyed
      .join(broadcast(bases),
        col("shard") === col("_hs") && col("_b") === col("_hb"))
      .withColumn("pos", col("_base") + row_number().over(rw) - 1)
      .select(col("block_id"), col("n_docs"), col("n_tokens"),
        col("shard"), col("pos"))
      .orderBy("block_id")
  }

  /** The composed trainer terminal — the exact order a training job
    * reads the corpus, as ONE declared relation: [[packSequences]]
    * (block tiling of the trained-BPE token stream) →
    * [[shuffleBlocks]] (content-addressed permutation into `nShards`
    * per-shard streams, each in `pos` order) → the
    * [[mixtureSchedule]] stride/WFQ key applied ACROSS the shard
    * streams, with each stream's weight ∝ its block count, so every
    * training prefix draws shards in proportion to their size and all
    * streams exhaust at the same virtual time. Each stage is
    * individually oracle-green; this key pins their END-TO-END
    * composition (the `curate_full` precedent): one row per block,
    * `(sched_key, shard, pos, block_id, n_docs, n_tokens)`, total
    * ORDER BY (sched_key, shard, pos) = the trainer's read order.
    *
    * sched_key = (2·pos+1)/(2·c_shard): numerator and denominator are
    * exact in long, one correctly-rounded double division — portable
    * across engines, the [[mixtureSchedule]] convention.
    *
    * Scale shape: nothing beyond [[shuffleBlocks]]'s own operators — a
    * shard-count aggregate (≤ nShards rows, CONFIG-bounded) broadcast
    * back, one narrow key projection, and the declared total sort. No
    * global row-number, no new corpus shuffle.
    */
  def trainerOrder(
      documents: DataFrame,
      nShards: Int = 8,
      blockTokens: Int = PackBlockTokens,
      merges: Int = Bpe.DefaultMerges,
      maxWordTypes: Int = Bpe.DefaultMaxWordTypes,
      epoch: Long = 0L): DataFrame = {
    // pinned: the block frame feeds BOTH the shard-count aggregate and
    // the schedule join — unpinned, the rank windows downstream of
    // shuffleBlocks' own persist recompute per consumer (measured
    // 6.7 s vs 4.4 s for shuffle_blocks alone at sf0.1)
    val blocks = graft.core.CacheScope.persist(
      shuffleBlocks(documents, nShards, blockTokens, merges, maxWordTypes, epoch))
    val counts = blocks.groupBy("shard").agg(count(lit(1)).as("_c"))
    blocks.join(broadcast(counts), Seq("shard"))
      .withColumn("sched_key", (col("pos") * 2 + 1) / (col("_c") * 2))
      .select(col("sched_key"), col("shard"), col("pos"),
        col("block_id"), col("n_docs"), col("n_tokens"))
      .orderBy("sched_key", "shard", "pos")
  }

  /** CURRICULUM ordering of the trainer terminal (Bengio et al. 2009,
    * "Curriculum Learning"; practiced as quality-ordered pre-training
    * schedules): [[trainerOrder]] with the content-hash permutation
    * WITHIN each shard replaced by a quality order — every shard
    * stream presents its highest-quality (easiest) blocks first, and
    * the stride/WFQ schedule still interleaves shards in proportion to
    * their size, so every training prefix is the best remaining slice
    * of the whole corpus. Shard ASSIGNMENT stays content-hashed
    * (balance and determinism are the hash's job; only the read order
    * inside a stream is the curriculum's).
    *
    * Block difficulty is the token-weighted mean of the per-document
    * [[TextStats.qualityScoreColumn]]: `q_mass = Σ round(q·10⁴)·
    * n_tokens` is an exact BIGINT (order-free, portable), and the
    * ordering key `q_mass / n_tokens` is one correctly-rounded double
    * division of exact longs — the `sched_key` portability convention.
    *
    * Scale shape: [[shuffleBlocks]]'s own machinery with the quality
    * key in place of the hash key — the per-shard position is computed
    * with the same two-level base trick (buckets = ⌊mean quality⌋, ≤
    * 10⁴+1 of them), so no window ever sees more than one (shard,
    * bucket) slice; the only additions are a doc-keyed quality join
    * before the block aggregate and one extra exact SUM inside it.
    */
  def curriculumOrder(
      documents: DataFrame,
      nShards: Int = 8,
      blockTokens: Int = PackBlockTokens,
      merges: Int = Bpe.DefaultMerges,
      maxWordTypes: Int = Bpe.DefaultMaxWordTypes): DataFrame = {
    require(nShards >= 1, s"need a positive shard count: $nShards")
    val docQ = documents.select(col("doc_id"),
      round(TextStats.qualityScoreColumn(col("text")) * 10000, 0)
        .cast("long").as("_q"))
    val blocks = graft.core.CacheScope.persist(
      packSequences(documents, blockTokens, merges, maxWordTypes)
        .join(docQ, Seq("doc_id"))
        .groupBy("block_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
          sum(col("_q") * col("n_tokens")).as("q_mass"))
        .withColumn("_k",
          graft.functions.GraftFunctions.hash64(
            concat(lit(epochSalt(0L)), col("block_id").cast("string")))
            .bitwiseAND(lit(Long.MaxValue)))
        .withColumn("shard", col("_k") % lit(nShards.toLong))
        .withColumn("_mq", col("q_mass").cast("double") / col("n_tokens"))
        .withColumn("_b", floor(col("_mq")).cast("long")))
    // per-shard curriculum position via the shuffleBlocks base trick:
    // buckets ordered DESC (easy first), exact ordering inside each
    val hw = Window.partitionBy("_hs").orderBy(col("_hb").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = blocks.groupBy(col("shard").as("_hs"), col("_b").as("_hb"))
      .agg(count(lit(1)).as("_hc"))
      .withColumn("_base", coalesce(sum("_hc").over(hw), lit(0L)))
      .select(col("_hs"), col("_hb"), col("_base"))
    val rw = Window.partitionBy("shard", "_b")
      .orderBy(col("_mq").desc, col("block_id"))
    val sb = blocks
      .join(broadcast(bases),
        col("shard") === col("_hs") && col("_b") === col("_hb"))
      .withColumn("pos", col("_base") + row_number().over(rw) - 1)
    val counts = sb.groupBy("shard").agg(count(lit(1)).as("_c"))
    sb.join(broadcast(counts), Seq("shard"))
      .withColumn("sched_key", (col("pos") * 2 + 1) / (col("_c") * 2))
      .select(col("sched_key"), col("shard"), col("pos"), col("block_id"),
        col("n_docs"), col("n_tokens"), col("q_mass"))
      .orderBy("sched_key", "shard", "pos")
  }

  /** The raw-corpus → training-order contract END TO END, as one
    * relation (r13 verdict #5): [[curateFull]]'s survivor set — redact
    * → quality → dedup → decontaminate → per-source cap — fed straight
    * into [[trainerOrder]]'s pack → shuffle → stride/WFQ schedule. The
    * tokenizer trains on the CURATED text (the redacted survivors), so
    * block boundaries are in the units the training run will actually
    * see — the composition a stage-local test cannot check: a contract
    * break between curation's output and packing's input (a renamed
    * column, a changed redaction, a survivor-set drift) moves block
    * boundaries and fails the end-to-end oracle.
    *
    * Scale: the curation stages and the trainer stages each keep their
    * own declared shapes; composition adds NO new shuffle — curation's
    * survivor frame flows into the BPE/pack scans exactly where the
    * raw corpus did.
    */
  def corpusToTrainer(
      documents: DataFrame,
      benchmark: DataFrame,
      nShards: Int = 8,
      blockTokens: Int = PackBlockTokens,
      merges: Int = Bpe.DefaultMerges,
      maxWordTypes: Int = Bpe.DefaultMaxWordTypes): DataFrame = {
    // pinned: the BPE train + encode + pack stages scan their corpus
    // several times — with the raw table those are cheap parquet
    // re-reads, but here each scan would RE-RUN the whole curation
    // chain (quality joins + dedup + the 8-gram decontamination join);
    // the survivor frame is capped (≤ maxPerSource·|sources| rows), so
    // pinning it is the oracle's MATERIALIZED ctt on the Spark side
    // (unpinned measured 9.4 s vs curate_full 1.9 + trainer_order 3.8
    // at sf0.1).
    // localCheckpoint, not persist (r18): the trainer stages submit
    // ~46 actions whose plans would each re-ANALYZE the full curation
    // subtree (the cache substitutes physical scans, not logical
    // analysis); the checkpoint's LogicalRDD leaf cuts that per-action
    // driver cost too. Capped frame, so local blocks are bounded; a
    // lost-executor retry re-runs the key (same posture as the graph
    // folds).
    val curated = graft.core.CacheScope.track(
      curateFull(documents, benchmark)
        .select(col("doc_id"), col("clean_text").as("text"))
        .localCheckpoint(true))
    trainerOrder(curated, nShards, blockTokens, merges, maxWordTypes)
  }

  /** [[corpusToTrainer]] with the CURRICULUM read order: the curated
    * survivor set through [[curriculumOrder]] instead of the hash
    * shuffle — block difficulty is scored on the CURATED (redacted)
    * text, the units the training run actually sees, so a redaction or
    * survivor-set change moves both block boundaries AND difficulty
    * scores and fails the end-to-end oracle. Same composition rule as
    * the base contract: the curation chain is the shared fragment, the
    * trainer stages keep their own declared shapes, and the
    * composition adds NO new shuffle.
    */
  def corpusToTrainerCurriculum(
      documents: DataFrame,
      benchmark: DataFrame,
      nShards: Int = 8,
      blockTokens: Int = PackBlockTokens,
      merges: Int = Bpe.DefaultMerges,
      maxWordTypes: Int = Bpe.DefaultMaxWordTypes): DataFrame = {
    // pinned for the same reason as corpusToTrainer: the BPE train +
    // encode + pack + quality scans would each re-run the curation
    // chain unpinned (localCheckpoint rather than persist — same
    // plan-depth rationale as corpusToTrainer)
    val curated = graft.core.CacheScope.track(
      curateFull(documents, benchmark)
        .select(col("doc_id"), col("clean_text").as("text"))
        .localCheckpoint(true))
    curriculumOrder(curated, nShards, blockTokens, merges, maxWordTypes)
  }

  /** Per-block SOURCE attribution of the packed training stream — the
    * data-card / provenance relation a training run needs at 100 TB
    * (which sources fed block X; audit trail when a source turns out
    * contaminated or licence-revoked, and the mixture check at block
    * granularity): one row per (block_id, source) with the token and
    * doc-segment counts that source contributed, plus the source's
    * token share of the block as one correctly-rounded double division
    * of exact longs (the sched_key portability convention).
    *
    * Scale: [[packSequences]]' own stages plus one doc-keyed join to
    * the (doc_id, source) projection, one map-side-combinable
    * (block, source) aggregate, and a block-keyed window over that
    * AGGREGATE's output (≤ |blocks|·|sources| rows — never the corpus)
    * for the share denominator. No new shuffle class.
    */
  def blockProvenance(
      documents: DataFrame,
      blockTokens: Int = PackBlockTokens,
      merges: Int = Bpe.DefaultMerges,
      maxWordTypes: Int = Bpe.DefaultMaxWordTypes): DataFrame = {
    val pack = packSequences(documents, blockTokens, merges, maxWordTypes)
    val totals = Window.partitionBy("block_id")
    pack
      .join(documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("block_id", "source")
      .agg(count(lit(1)).as("n_segments"), sum("n_tokens").as("n_tokens"))
      .withColumn("token_share",
        col("n_tokens") / sum("n_tokens").over(totals))
      .orderBy("block_id", "source")
  }

  def packSequences(
      documents: DataFrame,
      blockTokens: Int = PackBlockTokens,
      merges: Int = Bpe.DefaultMerges,
      maxWordTypes: Int = Bpe.DefaultMaxWordTypes): DataFrame = {
    require(blockTokens >= 1, s"need a positive block length: $blockTokens")
    val spark = documents.sparkSession
    import spark.implicits._
    val counts = Bpe.bpeEncode(documents, merges, maxWordTypes)
      .filter(col("bpe_tokens") > 0)
      .select(col("doc_id"), col("bpe_tokens").as("c"))
    // persist pins ONE physical layout: the totals collect and the
    // per-row scan below must see the same partition ids
    val parted = graft.core.CacheScope.persist(
      counts.repartitionByRange(col("doc_id"))
        .withColumn("_pid", spark_partition_id()))
    val totals = parted.groupBy("_pid").agg(sum("c").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val bases = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, t)) =>
      (pid, acc + t)
    }.tail.zip(totals).map { case ((pid, cumThrough), (_, t)) =>
      (pid, cumThrough - t)
    }
    val baseDf = bases.toSeq.toDF("_pid", "_base")
    val w = Window.partitionBy("_pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val L = lit(blockTokens.toLong)
    parted
      .withColumn("_local", coalesce(sum("c").over(w), lit(0L)))
      .join(broadcast(baseDf), Seq("_pid"))
      .withColumn("off", col("_base") + col("_local"))
      .withColumn("block_id",
        explode(sequence(
          floor(col("off") / L).cast("bigint"),
          floor((col("off") + col("c") - 1) / L).cast("bigint"))))
      .withColumn("seg_start", greatest(col("off"), col("block_id") * L))
      .withColumn("seg_end", least(col("off") + col("c"), (col("block_id") + lit(1L)) * L))
      .select(col("doc_id"), col("block_id"),
        (col("seg_start") - col("block_id") * L).cast("bigint").as("off_in_block"),
        (col("seg_end") - col("seg_start")).cast("bigint").as("n_tokens"))
      .orderBy("doc_id", "block_id")
  }
}
