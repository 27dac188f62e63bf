package graft

import graft.ext._
import graft.io.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** North-star extension queries (SURVEY.md §2.4 extension table +
  * training-data-pipeline operators) and their DuckDB oracles.
  *
  * Oracle SQL is generated from the SAME constants (marker words, score
  * weights, normalization regexes) as the Spark implementations, so the
  * two sides cannot drift independently.
  */
object ExtQueries {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String) = Sources.table(s, dir, "documents")
  private def embs(s: SparkSession, dir: String) = Sources.table(s, dir, "embeddings")

  // Shared SQL fragments (DuckDB dialect; 'g' flag = replace-all, which
  // is Spark's regexp_replace default)
  private val NormSql = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""

  /** BM25 demo query — terms present in the synthetic corpus at
    * distinct frequencies; shared verbatim by the oracle SQL.
    */
  val Bm25QueryTerms: Seq[String] = Seq("merge", "window", "scan")

  /** Raw "query log" rows for the dynamic-terms BM25 variant —
    * deliberately dirty (mixed case, a duplicate after folding, a term
    * outside the `[a-z]+` tokenizer domain) so the declared query
    * exercises [[graft.ext.Relevance.bm25SearchTerms]]'s hygiene path;
    * effective terms after fold/filter/dedup: spark, query, scan.
    * Shared verbatim by the oracle's VALUES CTE.
    */
  val Bm25DynamicRawTerms: Seq[String] =
    Seq("Spark", "query", "QUERY", "scan", "stream-7")

  /** Shard count for the declared packing query — shared by the Spark
    * call site and the oracle SQL so they can never drift.
    */
  val PackShards: Int = 8

  /** Temperature-sampling budget (percent of the corpus) — interpolated
    * into BOTH the engine call and the oracle so they cannot drift.
    */
  val TemperatureBudgetPct: Int = 50

  /** Order-price threshold for the dormant-customer anti-join — shared
    * by the Spark call site and the oracle SQL (at sf0.01 it leaves
    * ~200 of 1500 customers dormant, so both join paths carry weight).
    */
  val DormantMinPrice: Double = 400000.0

  /** Vocabulary size for the declared unigram-LM query — shared by the
    * Spark call site and the oracle SQL. Deliberately BELOW the
    * synthetic corpus's 31 distinct terms so the out-of-vocab floor
    * path carries real weight in the oracle comparison.
    */
  val UnigramVocabSize: Int = 24

  /** Bigram-table size for the declared bigram-LM query — below the
    * corpus's ~916 distinct bigrams (sf0.01) so the stupid-backoff
    * path carries real weight alongside the count-ratio path.
    */
  val BigramVocabSize: Int = 512

  /** Probe selection for the declared batch kNN-join key — shared by
    * the Spark call site and the oracle SQL. Every `vec_id % 97 == 0`
    * corpus vector is a probe candidate, capped at the first
    * [[KnnProbeLimit]] by vec_id: the key measures the operator's
    * SERVING contract (a bounded probe batch against a growing corpus
    * — cost linear in the corpus), not a fixture artifact where probes
    * scale with the data (probes ∝ n AND corpus ∝ n is quadratic by
    * construction: measured 73× at 10× data before the cap; SCALE.md).
    * At the verify SF the modulus yields 6 probes, under the cap — the
    * declared result is unchanged by it.
    */
  val KnnProbeModulus: Int = 97
  val KnnProbeLimit: Int = 16

  /** Edges per vertex in the declared kNN-graph key — ONE constant,
    * interpolated into the engine call and the oracle's rank cut.
    */
  val KnnGraphK: Int = 4

  /** Rounds for the iterated-propagation key: deep enough that labels
    * actually move across rounds on the fixture, shallow enough that
    * the unrolled-CTE oracle stays readable.
    */
  val LabelPropRounds: Int = 3

  /** Rounds for the iterated NN-Descent key: round 2 is where the
    * two-hop frontier first reaches past the initial approximate
    * graph's probed cells (round 1 is the plain refine key); each
    * round costs a full candidate re-score, so the declared depth
    * stays at the knee.
    */
  val RefineRounds: Int = 2

  /** Epoch pinned by the per-epoch trainer-order key (any non-zero
    * epoch exercises the salted permutation; 0 is the base key).
    */
  val TrainerEpoch: Long = 1L

  /** Beam width / walk depth for the declared graph-walk retrieval
    * key: beam 10 matches the family's serving k, and 3 hops reach
    * past the entry landmarks' own neighborhoods while keeping the
    * unrolled-CTE oracle readable — the [[RefineRounds]] knee logic
    * applied to the search side.
    */
  val GraphSearchBeam: Int = 10
  val GraphSearchRounds: Int = 3

  /** HNSW hierarchy of the declared descent key: 2 upper layers at a
    * geometric 1/4 ratio (the deterministic `vec_id % 4^l == 0` rule),
    * each upper layer walked 2 hops at beam 4 — wide enough to hand
    * the base layer an in-neighborhood entry set, small enough that
    * the per-layer CTE blocks stay readable in the unrolled oracle.
    */
  val HnswLevels: Int = 2
  val HnswRatio: Int = 4
  val HnswUpperBeam: Int = 4
  val HnswUpperRounds: Int = 2

  /** THE capped probe batch of the serving-contract keys (kNN join /
    * PQ join / recall gates / negative mining / classification) — one
    * definition, so a probe-contract change cannot land in some keys
    * and not others. `withLabel` carries the anchor's label as
    * `probe_label` for the label-aware faces.
    */
  private def probeBatch(
      e: org.apache.spark.sql.DataFrame,
      withLabel: Boolean = false): org.apache.spark.sql.DataFrame = {
    val base = e.filter(col("vec_id") % KnnProbeModulus === 0)
      .orderBy("vec_id").limit(KnnProbeLimit)
    if (withLabel)
      base.select(col("vec_id").as("probe_id"), col("embedding"),
        col("label").as("probe_label"))
    else
      base.select(col("vec_id").as("probe_id"), col("embedding"))
  }

  /** Output dimensionality for the declared Johnson–Lindenstrauss
    * projection key — shared by the Spark call site and the oracle SQL.
    * 16 of 64 dims: a real 4× cut (not a no-op), and √16 is exact in
    * double so the ±1/√kOut weights are bit-identical cross-engine.
    */
  val RpOutDims: Int = 16

  /** Pair threshold for the declared sketch-quality key — shared by the
    * Spark call site and the oracle SQL (with Hashing.MinHashK /
    * Dedup.Bands) so retuning the sketch cannot desync the one key
    * that measures it.
    */
  val MinHashQualityThreshold: Double = 0.2

  // Shared declared-query parameters, interpolated into BOTH the Spark
  // call site and the oracle SQL (the DormantMinPrice pattern): a
  // default changed in one place cannot silently desync the other.
  /** Trailing-window width (months, inclusive) for revenue_trend. */
  val RevenueTrendWindow: Int = 3
  /** Quantity fraction of the per-part mean for small_lot_revenue (Q17's 0.2). */
  val SmallLotFrac: Double = 0.2
  /** Stratified-sample fraction for sample_stratified. */
  val StratifiedFrac: Double = 0.2
  /** RFM recency horizon (days) for customer_segments. */
  val SegmentActiveDays: Int = 365
  /** RFM monetary split for customer_segments. */
  val SegmentBigSpend: Double = 1500000.0
  /** Token budget per packed bin for pack_greedy / pack_efficiency. */
  val PackBudgetTokens: Int = 512
  /** Minimum containing-document count for boilerplate_ngrams. */
  val BoilerplateMinDocs: Int = 3
  /** Report size for boilerplate_ngrams. */
  val BoilerplateTopN: Int = 25
  /** Minimum shared winnowing fingerprints for a dedup_winnow pair.
    * At density 2/(w+1) ≈ 0.22, 12 fingerprints ≈ 50+ positions of
    * shared normalized text — sustained passage overlap, above the
    * template noise floor of the synthetic corpus (the n_shared
    * histogram cliffs from 6k pairs at ≥8 to 578 at ≥12 at sf0.001).
    */
  val WinnowMinShared: Int = 12

  /** Split fractions for the declared train/val/test assignment — the
    * oracle's CASE cascade is generated from the same Seq (and the same
    * [[Corpus.fracThresholdHex]] thresholds), so the two sides cannot
    * drift.
    */
  val SplitFracs: Seq[(String, Double)] =
    Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  /** Mixture weights for the declared epoch-weighting query: an
    * upsample (2.5×), a fractional upsample, a downsample, a full drop;
    * every other source rides the default 1.0. Shared by the oracle.
    */
  val MixtureWeights: Seq[(String, Double)] =
    Seq("src0" -> 2.5, "src1" -> 1.25, "src2" -> 0.5, "src3" -> 0.0)
  val MixtureDefaultWeight: Double = 1.0

  /** Per-LANGUAGE mixture weights for the declared schedule key: an
    * upsample, a downsample, a fractional upsample, a full drop; `en`
    * is deliberately absent and rides the 1.0 default. Shared by the
    * oracle's CASE.
    */
  val ScheduleWeights: Seq[(String, Double)] =
    Seq("zh" -> 2.0, "de" -> 0.5, "fr" -> 1.25, "es" -> 0.0)

  /** DuckDB mirror of [[Relevance]]'s tokenizer: one row per non-empty
    * lowercase letter-run token, with the given extra columns carried.
    */
  /** Word-token stream over `src` (default `documents` — with the
    * default every emitted oracle stays byte-identical; the composed
    * corpus→trainer key re-points it at the curated CTE).
    */
  private def tokSql(carry: String, src: String = "documents") =
    s"""SELECT $carry, term FROM (
       |  SELECT $carry, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
       |  FROM $src) WHERE term <> ''""".stripMargin
  private val WsToksSql =
    """CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END"""

  /** Shared BPE training CTE chain (word-type counts top-V-truncated
    * like the engine's bounded collect, then `m` unrolled merge
    * stages): `bp_w`, `bp_v1..{m+1}`, and per-stage winners
    * `bp_b1..m` — consumed by BOTH the vocab and encode oracles, so
    * the trained table can never drift between them. Per stage:
    * overlapping adjacent-pair counts weighted by word count, argmax
    * by (count DESC, left, right) — binary collation == Java String
    * order on this [a-z</w>]* symbol domain — then the greedy
    * left-to-right merge as a string fold: appending `r` WITHOUT the
    * chr(31) separator fuses it onto the trailing `l`, and a fused
    * symbol can never immediately re-merge because that would need
    * `l || r = l` (an empty r). Engine loop in Bpe.mergeLoop is the
    * identical algorithm; a stage with no pairs left yields no row on
    * either side.
    */
  private def bpeTrainCtes(m: Int, src: String = "documents"): String = {
    def stage(i: Int): String =
      s"""bp_p$i AS (SELECT p['l'] AS l, p['r'] AS r, sum(cnt)::BIGINT AS c FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |      j -> struct_pack(l := syms[j], r := syms[j + 1]))) AS p
         |    FROM bp_v$i WHERE len(syms) >= 2) GROUP BY 1, 2),
         |bp_b$i AS (SELECT l, r, c FROM bp_p$i ORDER BY c DESC, l, r LIMIT 1),
         |bp_v${i + 1} AS (SELECT word, cnt, string_split(list_reduce(syms,
         |      (acc, x) -> CASE WHEN (acc = b.l OR ends_with(acc, chr(31) || b.l))
         |          AND x = b.r
         |        THEN acc || b.r ELSE acc || chr(31) || x END), chr(31)) AS syms
         |    FROM bp_v$i CROSS JOIN bp_b$i b)""".stripMargin
    s"""bp_w AS (SELECT word, cnt FROM (
       |    SELECT term AS word, count(*)::BIGINT AS cnt
       |    FROM (${tokSql("doc_id", src)}) GROUP BY 1)
       |  ORDER BY cnt DESC, word LIMIT ${Bpe.DefaultMaxWordTypes}),
       |bp_v1 AS (SELECT word, cnt,
       |  list_append(string_split(word, ''), '${Bpe.EndOfWord}') AS syms FROM bp_w),
       |${(1 to m).map(stage).mkString(",\n")}""".stripMargin
  }

  /** [[bpeTrainCtes]] extended with the ENCODE chain: per-(doc, word)
    * counts `en_c`, the parallel `ap_v1..{m+1}` greedy-fold chain over
    * ALL word types (the top-V bound limits training memory, not
    * encode coverage; a LEFT JOIN ON TRUE keeps types alive through an
    * exhausted merge stage), and the per-doc totals
    * `en_t(doc_id, n_words, bpe_tokens)` — shared by the encode oracle
    * and every tokenizer-true consumer (curate_bpe).
    */
  private def bpeEncodeCtes(m: Int, src: String = "documents"): String = {
    def applyStage(i: Int): String =
      s"""ap_v${i + 1} AS (SELECT word, CASE WHEN b.l IS NULL THEN syms
         |    ELSE string_split(list_reduce(syms,
         |      (acc, x) -> CASE WHEN (acc = b.l OR ends_with(acc, chr(31) || b.l))
         |          AND x = b.r
         |        THEN acc || b.r ELSE acc || chr(31) || x END), chr(31)) END AS syms
         |    FROM ap_v$i LEFT JOIN bp_b$i b ON TRUE)""".stripMargin
    s"""${bpeTrainCtes(m, src)},
       |en_c AS (SELECT doc_id, term AS word, count(*)::BIGINT AS cnt
       |  FROM (${tokSql("doc_id", src)}) GROUP BY 1, 2),
       |ap_v1 AS (SELECT word,
       |  list_append(string_split(word, ''), '${Bpe.EndOfWord}') AS syms
       |  FROM (SELECT DISTINCT word FROM en_c)),
       |${(1 to m).map(applyStage).mkString(",\n")},
       |en_t AS (SELECT d.doc_id AS doc_id,
       |    coalesce(sum(c.cnt), 0)::BIGINT AS n_words,
       |    coalesce(sum(c.cnt * len(t.syms)), 0)::BIGINT AS bpe_tokens
       |  FROM $src d
       |  LEFT JOIN en_c c ON d.doc_id = c.doc_id
       |  LEFT JOIN ap_v${m + 1} t ON c.word = t.word
       |  GROUP BY d.doc_id)""".stripMargin
  }

  private def likeScoreSql(words: Seq[String]): String =
    words.map(w => s"(CASE WHEN ' ' || lower(text) || ' ' LIKE '% $w %' THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** ONE definition of the quality-score oracle fragments for every
    * site that replicates [[TextStats.qualityScoreColumn]] (8 keys):
    * the signal columns (len/toks/punct/stops over `text`) and the
    * 4-dp score expression. A formula tweak lands everywhere at once —
    * per-key drift against the Spark engine becomes impossible.
    */
  private lazy val QualitySignalsSql: String = {
    val stops = likeScoreSql(TextStats.LangMarkers.flatMap(_._2).distinct)
    s"GREATEST(length(text)::DOUBLE, 1.0) AS len, " +
      s"GREATEST(($WsToksSql)::DOUBLE, 1.0) AS toks, " +
      "length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE AS punct, " +
      s"($stops)::DOUBLE AS stops"
  }

  private val QualityScoreSql: String =
    "round(LEAST(1.0, GREATEST(0.0, 0.4 * LEAST(stops / toks * 10.0, 1.0) + " +
      "0.3 * (CASE WHEN len / toks BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END) + " +
      "0.3 * (CASE WHEN punct / len < 0.1 THEN 1.0 ELSE 0.0 END))), 4)"

  /** DuckDB SQL for the seeded hyperplane sign-bit sketch over a 64-dim
    * float-list column `c` — the plane matrix is the SAME
    * [[graft.functions.VectorOps.planesFor]] constants the codegen'd
    * kernel uses, emitted as double literals (Scala's shortest-roundtrip
    * repr parses back to the identical double), so the two engines
    * compute the identical bit pattern. Mirrors `VectorOps.sketch`:
    * per-plane dot accumulated left-to-right in double, bit set iff
    * strictly positive.
    */
  private def sketchSql(c: String, dim: Int, planes: Int): String = {
    val ps = graft.functions.VectorOps.planesFor(dim, planes)
    (0 until planes).map { p =>
      val dot = (0 until dim)
        .map(i => s"$c[${i + 1}]::DOUBLE * ${ps(p)(i)}").mkString(" + ")
      s"(CASE WHEN ($dot) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** CTE chain replicating [[Similarity.pqCodebooks]]/[[Similarity.pqEncode]]/
    * [[Similarity.pqTopK]]'s scoring state: `pq_p` (probe), `pq_cb`
    * (seed sub-codebooks as the first ksub vectors), `pq_enc`
    * (per-subspace 6-dp L2 argmin, ties by code), `pq_dt` (probe ADC
    * table, 6-dp parts), `pq_s(vec_id, label, dots, sqs)` (DECIMAL
    * per-vector sums) and `pq_q(qn)`. `list_sum(list_transform(range(
    * ...)))` accumulates in index order — the same left-to-right double
    * summation as the JVM loops (the cosSql contract).
    */
  private val PqProbeCte: String =
    "pq_p AS (SELECT embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 1)"

  private def pqScoreCtes(src: String): String = {
    val m = Similarity.PqSubspaces
    val ksub = Similarity.PqSubCentroids
    val dsub = 64 / m
    s"""pq_cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
       |    embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $ksub)),
       |pq_a AS (SELECT e.vec_id, e.label, t.j, c.code,
       |    round(list_sum(list_transform(range(t.j * $dsub + 1, t.j * $dsub + ${dsub + 1}),
       |      i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)
       |         * (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE))), 6) AS d
       |  FROM $src e CROSS JOIN range(0, $m) t(j) CROSS JOIN pq_cb c),
       |pq_enc AS (SELECT vec_id, label, j, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
       |    FROM pq_a) WHERE rn = 1),
       |pq_dt AS (SELECT t.j, c.code,
       |    round(list_sum(list_transform(range(t.j * $dsub + 1, t.j * $dsub + ${dsub + 1}),
       |      i -> c.cvec[i]::DOUBLE * pp.pe[i]::DOUBLE)), 6) AS dot6,
       |    round(list_sum(list_transform(range(t.j * $dsub + 1, t.j * $dsub + ${dsub + 1}),
       |      i -> c.cvec[i]::DOUBLE * c.cvec[i]::DOUBLE)), 6) AS sq6
       |  FROM pq_cb c CROSS JOIN range(0, $m) t(j) CROSS JOIN pq_p pp),
       |pq_s AS (SELECT e.vec_id, e.label,
       |    sum(CAST(d.dot6 AS DECIMAL(16,6))) AS dots,
       |    sum(CAST(d.sq6 AS DECIMAL(16,6))) AS sqs
       |  FROM pq_enc e JOIN pq_dt d ON d.j = e.j AND d.code = e.code
       |  GROUP BY 1, 2),
       |pq_q AS (SELECT sqrt(list_sum(list_transform(pe, x -> x::DOUBLE * x::DOUBLE))) AS qn
       |  FROM pq_p)""".stripMargin
  }

  /** The stupid-backoff bigram-LM CTE chain (`bl_l` … `bl_agg`:
    * per-doc 4-dp mean logprob), shared by the `bigram_logprob`,
    * `perplexity_buckets` and `bigram_apply` oracles so neither the
    * bucketing LM nor the frozen-model scorer can drift from the
    * declared LM key. Model tables train over `modelWhere` rows, the
    * scored pairs come from `scoreWhere` rows — both TRUE reproduces
    * the self-scoring chain; an even/odd split is the
    * train-once-apply-many oracle.
    */
  private def bigramLmCtes(
      modelWhere: String = "TRUE", scoreWhere: String = "TRUE"): String = {
    val alpha = Relevance.BackoffAlpha
    // identical predicates (the self-scoring keys): the score-side
    // CTEs ALIAS the model side instead of re-deriving them, so the
    // oracle pays the regex scan + pair explode once, not twice
    val scoreSide =
      if (scoreWhere == modelWhere)
        """bl_l AS (SELECT * FROM bl_ml),
          |bl_pairs AS (SELECT * FROM bl_mpairs),""".stripMargin
      else
        s"""bl_l AS (SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
           |  FROM documents WHERE $scoreWhere),
           |bl_pairs AS (SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM (
           |    SELECT doc_id, unnest(list_transform(range(1, len(l)),
           |      i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS p
           |    FROM bl_l WHERE len(l) >= 2)),""".stripMargin
    s"""bl_ml AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
       |  FROM documents WHERE $modelWhere),
       |bl_mpairs AS (SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(l)),
       |      i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS p
       |    FROM bl_ml WHERE len(l) >= 2)),
       |$scoreSide
       |bl_tok AS (SELECT unnest(l) AS term FROM bl_ml),
       |bl_cnt AS (SELECT term, count(*)::BIGINT AS cnt FROM bl_tok GROUP BY 1),
       |bl_tot AS (SELECT sum(cnt)::BIGINT AS total FROM bl_cnt),
       |bl_voc AS (SELECT term, cnt FROM (
       |    SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rn
       |    FROM bl_cnt) WHERE rn <= $UnigramVocabSize),
       |bl_big AS (SELECT w1, w2, bcnt FROM (
       |    SELECT w1, w2, count(*)::BIGINT AS bcnt,
       |      row_number() OVER (ORDER BY count(*) DESC, w1, w2) AS rn
       |    FROM bl_mpairs GROUP BY w1, w2) WHERE rn <= $BigramVocabSize),
       |bl_bigp AS (SELECT b.w1, b.w2, b.bcnt, c.cnt AS pcnt
       |    FROM bl_big b JOIN bl_cnt c ON c.term = b.w1),
       |bl_sc AS (SELECT p.doc_id,
       |      CASE WHEN bp.w1 IS NOT NULL THEN ln(bp.bcnt::DOUBLE / bp.pcnt)
       |           ELSE ln($alpha * COALESCE(v.cnt, 1)::DOUBLE / t.total) END AS lp,
       |      CASE WHEN bp.w1 IS NULL THEN 1 ELSE 0 END AS bo
       |    FROM bl_pairs p
       |    LEFT JOIN bl_bigp bp ON bp.w1 = p.w1 AND bp.w2 = p.w2
       |    LEFT JOIN bl_voc v ON v.term = p.w2 CROSS JOIN bl_tot t),
       |bl_agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |      sum(bo)::BIGINT AS n_backoff, round(avg(lp), 4) AS logprob
       |    FROM bl_sc GROUP BY doc_id)""".stripMargin
  }

  /** The batch-kNN-through-IVF-PQ CTE chain (`kp` probes …
    * `kfin` exact-re-ranked shortlist rows), shared by the
    * `similarity_knn_join_pq` and `similarity_knn_join_recall` oracles
    * so the production retrieval stack and its recall gate can never
    * drift: PQ codes once per candidate over the union-of-probed-cells
    * restriction (the engine's cached `assigned`), 6-dp ADC parts per
    * (probe, j, code), DECIMAL(16,6) per-(probe, vec) sums, per-probe
    * shortlist windows with the family's id tie-breaks.
    */
  /** The shared kNN quantizer core (`kcent` seed centroids, `kasg`
    * flat portable assignment, `kpr` per-probe probed-cell ranking) —
    * ONE text for every knn_join-family oracle; assumes a preceding
    * `kp(probe_id, pe, …)` CTE supplies the probe table (the one thing
    * the family members legitimately vary). A rounding or tie-break
    * fix lands here exactly once (the CurateFullCtes rule applied to
    * this chain — it had grown to 8 verbatim copies, r14 review).
    */
  private lazy val knnCoreCtes: String =
    s"""kcent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
       |    ORDER BY vec_id LIMIT 16),
       |kasg AS (SELECT vec_id, label, embedding, cid FROM (
       |    SELECT e.vec_id, e.label, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${cosSql("e.embedding", "c.cvec", 64)}, 6) DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN kcent c) WHERE rn = 1),
       |kpr AS (SELECT probe_id, cid FROM (
       |    SELECT p.probe_id, c.cid,
       |      row_number() OVER (PARTITION BY p.probe_id
       |        ORDER BY round(${cosSql("c.cvec", "p.pe", 64)}, 6) DESC, c.cid) AS rn
       |    FROM kcent c CROSS JOIN kp p) WHERE rn <= 4)""".stripMargin

  /** The full kNN-GRAPH chain (`kp` = the whole corpus, the
    * [[knnCoreCtes]] quantizer core, `kc` self-excluded candidate
    * edges, `kg` the per-vertex top-[[KnnGraphK]] cut) — ONE text for
    * the graph-family oracles (knn_graph, refine, label propagation
    * one-round and iterated), so the edge semantics those keys share
    * with the engine's one [[Similarity.knnGraph]] kernel also live in
    * ONE oracle fragment.
    */
  private lazy val knnGraphCtes: String =
    s"""kp AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings),
       |$knnCoreCtes,
       |kc AS (SELECT pr.probe_id, a.vec_id, a.label,
       |      round(${cosSql("a.embedding", "p.pe", 64)}, 6) AS cosine
       |    FROM kasg a JOIN kpr pr ON a.cid = pr.cid
       |                JOIN kp p ON p.probe_id = pr.probe_id
       |    WHERE a.vec_id <> pr.probe_id),
       |kg AS (SELECT probe_id, vec_id, label, cosine FROM (
       |    SELECT kc.*, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cosine DESC, vec_id) AS rn FROM kc)
       |  WHERE rn <= $KnnGraphK)""".stripMargin

  /** One unrolled NN-Descent round as oracle CTEs: `g<cur>` = the
    * exact-re-scored per-vertex top-[[KnnGraphK]] over candidates
    * (previous edges ∪ two-hop over them, self excluded) — ONE text
    * for the one-round and fixed-depth refine oracles, mirroring the
    * engine's shared `refineRound` kernel.
    */
  private def refineRoundCtes(prev: String, cur: String): String =
    s"""kh2$cur AS (SELECT a.probe_id, b.vec_id
       |  FROM $prev a JOIN $prev b ON a.vec_id = b.probe_id
       |  WHERE b.vec_id <> a.probe_id),
       |kcand$cur AS (SELECT DISTINCT probe_id, vec_id FROM (
       |  SELECT probe_id, vec_id FROM $prev
       |  UNION ALL SELECT probe_id, vec_id FROM kh2$cur)),
       |kref$cur AS (SELECT c.probe_id, c.vec_id, e2.label,
       |    round(${cosSql("e2.embedding", "e1.embedding", 64)}, 6) AS cosine
       |  FROM kcand$cur c JOIN embeddings e1 ON e1.vec_id = c.probe_id
       |               JOIN embeddings e2 ON e2.vec_id = c.vec_id),
       |g$cur AS (SELECT probe_id, vec_id, label, cosine FROM (
       |  SELECT kref$cur.*, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, vec_id) AS rn FROM kref$cur)
       |  WHERE rn <= $KnnGraphK)""".stripMargin

  /** [[knnGraphCtes]] parameterized for HNSW layer `m = ratio^l`: the
    * layer's vertex subset under the hash rule
    * `(hash64('v:'⧺id) & Long.Max) % m == 0` (the engine's
    * [[graft.ext.Similarity.hnswLayerPredicate]], via the shared
    * `hash64Ctes` cross-hash contract), the subset's own graph chain
    * (lowest-16-id seed quantizer, nProbe 4, per-vertex
    * top-[[KnnGraphK]]), the layer's LANDMARK STAR (`${p}mesh`: every
    * layer vertex → each of the 16 quantizer seeds — HNSW's long-range
    * links, without which a beam entering at the wrong cluster could
    * never leave it), and the union edge table `${p}kgm` the descent
    * actually walks.
    */
  private def knnGraphCtesFor(p: String, m: Long): String =
    s"""${p}ids AS (SELECT vec_id, 'v:' || vec_id::VARCHAR AS s FROM embeddings),
       |${hash64Ctes(s"${p}lh", s"${p}ids", "s")},
       |${p}src AS (SELECT e.vec_id, e.label, e.embedding FROM embeddings e
       |  JOIN ${p}ids i ON i.vec_id = e.vec_id
       |  JOIN ${p}lh_h64 hh ON hh.s = i.s
       |  WHERE ((hh.h % 9223372036854775808::UHUGEINT)::BIGINT % $m) = 0),
       |${p}kp AS (SELECT vec_id AS probe_id, embedding AS pe FROM ${p}src),
       |${p}kcent AS (SELECT vec_id AS cid, embedding AS cvec FROM ${p}src
       |    ORDER BY vec_id LIMIT 16),
       |${p}kasg AS (SELECT vec_id, label, embedding, cid FROM (
       |    SELECT e.vec_id, e.label, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${cosSql("e.embedding", "c.cvec", 64)}, 6) DESC, c.cid) AS rn
       |    FROM ${p}src e CROSS JOIN ${p}kcent c) WHERE rn = 1),
       |${p}kpr AS (SELECT probe_id, cid FROM (
       |    SELECT p.probe_id, c.cid,
       |      row_number() OVER (PARTITION BY p.probe_id
       |        ORDER BY round(${cosSql("c.cvec", "p.pe", 64)}, 6) DESC, c.cid) AS rn
       |    FROM ${p}kcent c CROSS JOIN ${p}kp p) WHERE rn <= 4),
       |${p}kc AS (SELECT pr.probe_id, a.vec_id, a.label,
       |      round(${cosSql("a.embedding", "p.pe", 64)}, 6) AS cosine
       |    FROM ${p}kasg a JOIN ${p}kpr pr ON a.cid = pr.cid
       |                JOIN ${p}kp p ON p.probe_id = pr.probe_id
       |    WHERE a.vec_id <> pr.probe_id),
       |${p}kg AS (SELECT probe_id, vec_id, label, cosine FROM (
       |    SELECT ${p}kc.*, row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cosine DESC, vec_id) AS rn FROM ${p}kc)
       |  WHERE rn <= $KnnGraphK),
       |${p}mesh AS (SELECT s.vec_id AS probe_id, c.cid AS vec_id, eb.label,
       |    round(${cosSql("eb.embedding", "s.embedding", 64)}, 6) AS cosine
       |  FROM ${p}src s JOIN ${p}kcent c ON c.cid <> s.vec_id
       |  JOIN embeddings eb ON eb.vec_id = c.cid),
       |${p}kgm AS (SELECT DISTINCT probe_id, vec_id, label, cosine FROM (
       |  SELECT probe_id, vec_id, label, cosine FROM ${p}kg
       |  UNION ALL SELECT probe_id, vec_id, label, cosine FROM ${p}mesh))""".stripMargin

  /** The exact-substring-dedup oracle (Lee et al. ExactSubstr as SQL:
    * gram-text grouping finds duplicated ≥k-grams, first occurrence by
    * (doc_id, pos), covered positions removed, survivors re-joined in
    * order) — ONE text for the single-sort key AND the hash-range
    * ranged key, which must be bit-identical by construction.
    */
  private lazy val substrDedupOracle: String = {
    val k = Dedup.SubstrK
    s"""WITH sd_d AS (SELECT doc_id, $NormSql AS norm FROM documents),
       |sd_i AS (SELECT doc_id, norm,
       |    unnest(range(0, greatest(0, len(norm) - ${k - 1}))) AS pos FROM sd_d),
       |sd_g AS (SELECT doc_id, pos, substr(norm, (pos + 1)::INTEGER, $k) AS gram
       |    FROM sd_i),
       |sd_k1 AS (SELECT gram, min(doc_id) AS kdoc FROM sd_g
       |    GROUP BY gram HAVING count(*) >= 2),
       |sd_k AS (SELECT g.gram, k1.kdoc, min(g.pos) AS kpos
       |    FROM sd_k1 k1 JOIN sd_g g ON g.gram = k1.gram AND g.doc_id = k1.kdoc
       |    GROUP BY 1, 2),
       |sd_cut AS (SELECT g.doc_id, g.pos FROM sd_g g JOIN sd_k k ON g.gram = k.gram
       |    WHERE NOT (g.doc_id = k.kdoc AND g.pos = k.kpos)),
       |sd_c AS (SELECT doc_id, norm, unnest(range(0, len(norm))) AS p FROM sd_d),
       |sd_cov AS (SELECT DISTINCT c.doc_id, c.p FROM sd_c c JOIN sd_cut s
       |    ON s.doc_id = c.doc_id AND c.p >= s.pos AND c.p < s.pos + $k),
       |sd_kept AS (SELECT c.doc_id,
       |      string_agg(substr(c.norm, (c.p + 1)::INTEGER, 1), '' ORDER BY c.p)
       |        AS text_kept
       |    FROM sd_c c LEFT JOIN sd_cov v ON v.doc_id = c.doc_id AND v.p = c.p
       |    WHERE v.doc_id IS NULL GROUP BY c.doc_id)
       |SELECT d.doc_id, len(d.norm)::BIGINT AS n_chars,
       |       len(coalesce(kp.text_kept, ''))::BIGINT AS n_kept_chars,
       |       coalesce(kp.text_kept, '') AS text_kept
       |FROM sd_d d LEFT JOIN sd_kept kp USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** One beam-search STAGE (entry scoring + `rounds` unrolled hops) as
    * prefixed CTEs over edge table `edge`, seeded from `entryCte`
    * (`probe_id`, `vec_id` rows) — the oracle text of
    * [[Similarity.beamSearchFrom]]; the final beam is `${p}gs$rounds`.
    * Assumes the probe CTE `gp` precedes it.
    */
  private def beamStageCtes(p: String, edge: String, entryCte: String,
      beam: Int, rounds: Int): String = {
    def stage(cand: String, r: Int): String =
      s"""${p}gx$r AS (SELECT c.probe_id, c.vec_id, e.label,
         |    round(${cosSql("e.embedding", "g.gpe", 64)}, 6) AS cosine
         |  FROM $cand c JOIN embeddings e ON e.vec_id = c.vec_id
         |              JOIN gp g ON g.probe_id = c.probe_id),
         |${p}gs$r AS (SELECT probe_id, vec_id, label, cosine FROM (
         |  SELECT ${p}gx$r.*, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cosine DESC, vec_id) AS rn FROM ${p}gx$r)
         |  WHERE rn <= $beam)""".stripMargin
    def hop(prev: String, r: Int): String =
      s"""${p}gh$r AS (SELECT s.probe_id, $edge.vec_id
         |  FROM $prev s JOIN $edge ON $edge.probe_id = s.vec_id),
         |${p}gc$r AS (SELECT DISTINCT probe_id, vec_id FROM (
         |  SELECT probe_id, vec_id FROM $prev
         |  UNION ALL SELECT probe_id, vec_id FROM ${p}gh$r)),
         |${stage(s"${p}gc$r", r)}""".stripMargin
    (stage(entryCte, 0) +:
      (1 to rounds).map(r => hop(s"${p}gs${r - 1}", r))).mkString(",\n")
  }

  /** The graph-walk retrieval oracle (beam search unrolled as CTE
    * stages — the trajectory recipe): `edge` names the edge CTE the
    * hops expand over (`kg` for the full walk, `kgr` for the
    * cell-restricted serving face), `extraCtes` injects the
    * restriction CTEs after the shared graph chain. ONE text for both
    * declared walks: [[Similarity.graphSearch]]'s kernel, and
    * [[Similarity.graphSearchClustered]]'s gathered walk, which keeps
    * that kernel's contract row for row.
    */
  private def graphSearchOracle(edge: String, extraCtes: String): String = {
    def searchRound(prev: String, r: Int): String =
      s"""gh$r AS (SELECT s.probe_id, $edge.vec_id
         |  FROM $prev s JOIN $edge ON $edge.probe_id = s.vec_id),
         |gc$r AS (SELECT DISTINCT probe_id, vec_id FROM (
         |  SELECT probe_id, vec_id FROM $prev
         |  UNION ALL SELECT probe_id, vec_id FROM gh$r)),
         |gx$r AS (SELECT c.probe_id, c.vec_id, e.label,
         |    round(${cosSql("e.embedding", "g.gpe", 64)}, 6) AS cosine
         |  FROM gc$r c JOIN embeddings e ON e.vec_id = c.vec_id
         |              JOIN gp g ON g.probe_id = c.probe_id),
         |gs$r AS (SELECT probe_id, vec_id, label, cosine FROM (
         |  SELECT gx$r.*, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cosine DESC, vec_id) AS rn FROM gx$r)
         |  WHERE rn <= $GraphSearchBeam)""".stripMargin
    val rounds = (1 to GraphSearchRounds)
      .map(r => searchRound(if (r == 1) "gs0" else s"gs${r - 1}", r))
      .mkString(",\n")
    s"""WITH gp AS (SELECT vec_id AS probe_id, embedding AS gpe FROM embeddings
       |    WHERE vec_id % $KnnProbeModulus = 0
       |    ORDER BY vec_id LIMIT $KnnProbeLimit),
       |$knnGraphCtes$extraCtes,
       |gx0 AS (SELECT g.probe_id, c.cid AS vec_id, e.label,
       |    round(${cosSql("e.embedding", "g.gpe", 64)}, 6) AS cosine
       |  FROM gp g CROSS JOIN kcent c JOIN embeddings e ON e.vec_id = c.cid),
       |gs0 AS (SELECT probe_id, vec_id, label, cosine FROM (
       |  SELECT gx0.*, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, vec_id) AS rn FROM gx0)
       |  WHERE rn <= $GraphSearchBeam),
       |$rounds
       |SELECT probe_id, vec_id, label, cosine FROM gs$GraphSearchRounds
       |ORDER BY probe_id, cosine DESC, vec_id""".stripMargin
  }

  /** The curriculum trainer tail (quality join → exact q_mass block
    * aggregate → content-hashed shard + quality-DESC per-shard position
    * → the stride/WFQ schedule) — ONE text for the raw and
    * curated-composed curriculum keys; `qualitySrc` is the relation
    * difficulty is scored on (the one thing the two legitimately
    * vary). Assumes the [[packCtes]] `ps_s` chain precedes it.
    */
  private def curriculumTail(L: Int, S: Int, qualitySrc: String): String =
    s"""cq_b AS (SELECT doc_id, $QualitySignalsSql FROM $qualitySrc),
       |cq AS (SELECT doc_id,
       |    CAST(round(($QualityScoreSql) * 10000) AS BIGINT) AS q FROM cq_b),
       |sb_r AS (SELECT doc_id, block_id::BIGINT AS block_id,
       |    (least(off + c, (block_id + 1) * $L)
       |      - greatest(off, block_id * $L))::BIGINT AS n_tokens
       |  FROM ps_s),
       |sb_blk AS (SELECT block_id, count(*)::BIGINT AS n_docs,
       |    sum(r.n_tokens)::BIGINT AS n_tokens,
       |    sum(cq.q * r.n_tokens)::BIGINT AS q_mass
       |  FROM sb_r r JOIN cq USING (doc_id) GROUP BY block_id),
       |sb_s AS (SELECT DISTINCT 'blk:' || block_id::VARCHAR AS s FROM sb_blk),
       |${hash64Ctes("sbk", "sb_s", "s")},
       |sb_k AS (SELECT b.block_id, b.n_docs, b.n_tokens, b.q_mass,
       |    (h % 9223372036854775808::UHUGEINT)::BIGINT AS k
       |  FROM sb_blk b JOIN sbk_h64 ON sbk_h64.s = 'blk:' || b.block_id::VARCHAR),
       |to_sb AS (SELECT block_id, n_docs, n_tokens, q_mass,
       |    (k % $S)::BIGINT AS shard,
       |    (row_number() OVER (PARTITION BY k % $S
       |        ORDER BY q_mass::DOUBLE / n_tokens DESC, block_id)
       |      - 1)::BIGINT AS pos
       |  FROM sb_k),
       |to_c AS (SELECT shard, count(*)::BIGINT AS c FROM to_sb GROUP BY shard)
       |SELECT (pos * 2 + 1) / (c * 2) AS sched_key, shard, pos,
       |  block_id, n_docs, n_tokens, q_mass
       |FROM to_sb JOIN to_c USING (shard)
       |ORDER BY sched_key, shard, pos""".stripMargin

  private lazy val knnPqCtes: String = {
    val m = Similarity.PqSubspaces
    val ksub = Similarity.PqSubCentroids
    val dsub = 64 / m
    s"""kp AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
       |    WHERE vec_id % $KnnProbeModulus = 0
       |    ORDER BY vec_id LIMIT $KnnProbeLimit),
       |$knnCoreCtes,
       |kcand AS (SELECT vec_id, embedding FROM kasg
       |    WHERE cid IN (SELECT cid FROM kpr)),
       |pq_cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
       |    embedding AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $ksub)),
       |kenc AS (SELECT vec_id, j, code FROM (
       |    SELECT e.vec_id, t.j, c.code,
       |      row_number() OVER (PARTITION BY e.vec_id, t.j ORDER BY
       |        round(list_sum(list_transform(range(t.j * $dsub + 1, t.j * $dsub + ${dsub + 1}),
       |          i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)
       |             * (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE))), 6), c.code) AS rn
       |    FROM kcand e CROSS JOIN range(0, $m) t(j) CROSS JOIN pq_cb c) WHERE rn = 1),
       |kdt AS (SELECT p.probe_id, t.j, c.code,
       |    round(list_sum(list_transform(range(t.j * $dsub + 1, t.j * $dsub + ${dsub + 1}),
       |      i -> c.cvec[i]::DOUBLE * p.pe[i]::DOUBLE)), 6) AS dot6,
       |    round(list_sum(list_transform(range(t.j * $dsub + 1, t.j * $dsub + ${dsub + 1}),
       |      i -> c.cvec[i]::DOUBLE * c.cvec[i]::DOUBLE)), 6) AS sq6
       |  FROM pq_cb c CROSS JOIN range(0, $m) t(j) CROSS JOIN kp p),
       |kq AS (SELECT probe_id,
       |    sqrt(list_sum(list_transform(pe, x -> x::DOUBLE * x::DOUBLE))) AS qn
       |  FROM kp),
       |kpairs AS (SELECT pr.probe_id, a.vec_id
       |    FROM kasg a JOIN kpr pr ON a.cid = pr.cid),
       |ks AS (SELECT kpairs.probe_id, kpairs.vec_id,
       |    sum(CAST(d.dot6 AS DECIMAL(16,6))) AS dots,
       |    sum(CAST(d.sq6 AS DECIMAL(16,6))) AS sqs
       |  FROM kpairs
       |    JOIN kenc e ON e.vec_id = kpairs.vec_id
       |    JOIN kdt d ON d.probe_id = kpairs.probe_id
       |              AND d.j = e.j AND d.code = e.code
       |  GROUP BY 1, 2),
       |kshort AS (SELECT probe_id, vec_id FROM (
       |    SELECT s.probe_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.probe_id ORDER BY
       |        CASE WHEN s.sqs = 0 OR q.qn = 0 THEN 0.0
       |          ELSE round(s.dots::DOUBLE / (q.qn * sqrt(s.sqs::DOUBLE)), 6)
       |        END DESC, s.vec_id) AS rn
       |    FROM ks s JOIN kq q ON q.probe_id = s.probe_id)
       |  WHERE rn <= ${Similarity.IvfPqShortlist}),
       |kfin AS (SELECT sh.probe_id, e.vec_id, e.label,
       |      round(${cosSql("e.embedding", "p.pe", 64)}, 6) AS cosine
       |    FROM embeddings e JOIN kshort sh ON sh.vec_id = e.vec_id
       |      JOIN kp p ON p.probe_id = sh.probe_id)""".stripMargin
  }

  /** The JL-projection CTE chain (`rp_keys` … `rp_out(vec_id, j,
    * proj)`), shared by the `embedding_project` and
    * `embedding_project_recall` oracles so the projection and its
    * recall gate can never drift: the ±1/√kOut sign matrix regenerated
    * through the hash64 replica over the engine's 'rp:j:i' key
    * strings, parts rounded to 6 dp, summed in DECIMAL
    * (order-independent — the engine's exact micro-unit accumulation).
    */
  private lazy val rpProjCtes: String = {
    val w = s"1.0 / sqrt(${RpOutDims}.0)"
    s"""rp_keys AS (SELECT j, i, 'rp:' || j || ':' || (i - 1) AS k
       |    FROM range(0, $RpOutDims) t(j) CROSS JOIN range(1, 65) u(i)),
       |${hash64Ctes("rpk", "rp_keys", "k")},
       |rp_sgn AS (SELECT kk.j, kk.i,
       |      CASE WHEN h.h % 2 = 1 THEN $w ELSE -($w) END AS wgt
       |    FROM rp_keys kk JOIN rpk_h64 h ON h.k = kk.k),
       |rp_parts AS (SELECT e.vec_id, sg.j,
       |      CAST(round(e.embedding[sg.i]::DOUBLE * sg.wgt, 6)
       |        AS DECIMAL(16,6)) AS part
       |    FROM embeddings e CROSS JOIN rp_sgn sg),
       |rp_out AS (SELECT vec_id, j, round(sum(part)::DOUBLE, 6) AS proj
       |    FROM rp_parts GROUP BY 1, 2)""".stripMargin
  }

  /** Pairwise cosine fragments (DuckDB): dot/norms accumulated per
    * element in double, mirroring `VectorOps.cosine`.
    */
  private def cosSql(a: String, b: String, dim: Int): String = {
    val dp = s"list_sum(list_transform(range(1, ${dim + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"
    val na = s"list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE))"
    val nb = s"list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE))"
    s"(CASE WHEN $na = 0 OR $nb = 0 THEN 0 ELSE $dp / sqrt($na * $nb) END)"
  }

  /** CTE chain producing `j(doc_id_a, doc_id_b, exact_jaccard)` — the
    * exact inverted-index n-gram pair set of [[Dedup.ngramJaccardPairsExact]]
    * (same ShingleN / MaxBucket constants). Shared by the pair query and
    * the transitive-closure cluster oracle so they cannot drift.
    */
  /** Shared CTEs `d/w/g/e`: normalized text → word n-gram sets →
    * exploded (doc_id, gram) postings.
    */
  private val NgramBaseCtes: String = {
    val n = graft.functions.Hashing.ShingleN
    s"""d AS (SELECT doc_id, $NormSql AS norm FROM documents),
       |w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM d),
       |g AS (SELECT doc_id,
       |  CASE WHEN len(words) < $n THEN [array_to_string(words, ' ')]
       |       ELSE list_distinct(list_transform(range(1, len(words) - ${n - 2}),
       |            i -> array_to_string(words[i:i+${n - 1}], ' '))) END AS grams
       |  FROM w),
       |e AS (SELECT doc_id, unnest(grams) AS gram FROM g)""".stripMargin
  }

  /** Exact Jaccard over candidate CTE `c(doc_id_a, doc_id_b)` → `j`. */
  private val NgramVerifyCte: String =
    """j AS (SELECT doc_id_a, doc_id_b,
      |  round(len(list_intersect(ga.grams, gb.grams))::DOUBLE /
      |        (len(ga.grams) + len(gb.grams)
      |         - len(list_intersect(ga.grams, gb.grams))), 6) AS exact_jaccard
      |  FROM c JOIN g ga ON ga.doc_id = c.doc_id_a
      |         JOIN g gb ON gb.doc_id = c.doc_id_b)""".stripMargin

  private val NgramPairCtes: String = {
    val cap = Dedup.MaxBucket
    s"""$NgramBaseCtes,
       |big AS (SELECT gram FROM e GROUP BY gram HAVING count(*) > $cap),
       |ee AS (SELECT doc_id, gram FROM e WHERE gram NOT IN (SELECT gram FROM big)),
       |c AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
       |      FROM ee a JOIN ee b ON a.gram = b.gram AND a.doc_id < b.doc_id),
       |$NgramVerifyCte""".stripMargin
  }

  /** Oracle for the prefix-filtered operator: the prefix principle is
    * recall-complete, so ground truth is simply ALL shared-gram pairs
    * with exact J ≥ t — no cap, no prefix structure to replicate
    * (whatever global order the engine prefixes by, the verified result
    * is the same set).
    */
  private val NgramAllPairsCtes: String =
    s"""$NgramBaseCtes,
       |c AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
       |      FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id),
       |$NgramVerifyCte""".stripMargin

  /** [[graft.functions.Hashing.hash64]] (FNV-1a roll + splitmix64
    * finalizer, the kernel under every graft sketch) replicated in
    * DuckDB SQL: the per-character roll is a `list_reduce` and every
    * multiply runs in UHUGEINT with an explicit mod-2^64 — JVM wrap
    * semantics, engine-exact (validated character-for-character against
    * the JVM kernel). `col` must be a VARCHAR expression; the result
    * CTE column is the UNSIGNED 64-bit value.
    *
    * Cost note: these CTEs are evaluated per DISTINCT gram/word, never
    * per posting — the reduce is O(total distinct-gram characters).
    *
    * BMP-ONLY: the JVM kernel rolls UTF-16 code units (`charAt`) while
    * this replica rolls Unicode code points (`unicode(c)`); the two
    * agree exactly on Basic-Multilingual-Plane text and DESYNC on any
    * supplementary-plane character (emoji, rare CJK), where Java sees
    * two surrogates per character. The synthetic corpus is ASCII, so
    * the limit is latent here; HashingSpec pins the boundary with a
    * non-BMP case. Expanding the replica to surrogate pairs would need
    * a per-code-point split into UTF-16 units in SQL.
    */
  private def hash64Ctes(prefix: String, src: String, col: String): String =
    s"""${prefix}_h0 AS (SELECT $col, list_reduce(
       |    list_prepend(14695981039346656037::UHUGEINT,
       |      CASE WHEN $col = '' THEN [] ELSE list_transform(
       |        string_split($col, ''), c -> unicode(c)::UHUGEINT) END),
       |    (a, c) -> ((xor(a::UHUGEINT, c::UHUGEINT) * 1099511628211::UHUGEINT)
       |               % 18446744073709551616::UHUGEINT)) AS h FROM $src),
       |${prefix}_h1 AS (SELECT $col, (xor(h, h // 1073741824) * 13787848793156543929::UHUGEINT)
       |               % 18446744073709551616::UHUGEINT AS h FROM ${prefix}_h0),
       |${prefix}_h2 AS (SELECT $col, (xor(h, h // 134217728) * 10723151780598845931::UHUGEINT)
       |               % 18446744073709551616::UHUGEINT AS h FROM ${prefix}_h1),
       |${prefix}_h64 AS (SELECT $col, xor(h, h // 2147483648) AS h FROM ${prefix}_h2)""".stripMargin

  /** The split cascade as a SQL CASE over a `text` column — generated
    * from the SAME SplitFracs constants and fracThresholdHex conversion
    * as [[Corpus.assignSplits]]' Column cascade; shared by the plain and
    * clustered split oracles.
    */
  private lazy val SplitCascadeSql: String = {
    val cums = SplitFracs.map(_._2).scanLeft(0.0)(_ + _).tail
    val arms = SplitFracs.init.zip(cums).map { case ((name, _), cum) =>
      s"WHEN substr(md5(text), 1, 8) < '${Corpus.fracThresholdHex(cum)}' THEN '$name'"
    }.mkString(" ")
    s"CASE $arms ELSE '${SplitFracs.last._1}' END"
  }

  /** CTE chain replicating [[Dedup.winnowPairs]] end-to-end, producing
    * `wn_pairs(doc_id_a, doc_id_b, n_shared)` (minShared applied by the
    * caller). Same kernel as the JVM side: hash64 per distinct k-char
    * gram of the normalized text (signed-64 reinterpretation BEFORE the
    * window min, so min agrees with JVM signed Long ordering), window
    * `min` over w consecutive positions, VALUE-set selection (distinct
    * window minima per doc — no tie rule to replicate), MaxBucket
    * degenerate-fingerprint cap, inverted-index self-join.
    */
  private def winnowPairCtes(k: Int, w: Int): String = {
    val cap = Dedup.MaxBucket
    s"""wn_d AS (SELECT doc_id, $NormSql AS norm FROM documents),
       |wn_i AS (SELECT doc_id, norm,
       |      unnest(range(1, greatest(1, len(norm) - ${k - 1}) + 1)) AS i FROM wn_d),
       |wn_g AS (SELECT doc_id, i,
       |      CASE WHEN len(norm) < $k THEN norm ELSE substr(norm, i::INTEGER, $k) END AS gram
       |    FROM wn_i),
       |wn_dg AS (SELECT DISTINCT gram FROM wn_g),
       |${hash64Ctes("wn", "wn_dg", "gram")},
       |wn_sh AS (SELECT gram,
       |      (h::HUGEINT - CASE WHEN h >= 9223372036854775808::UHUGEINT
       |        THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS h
       |    FROM wn_h64),
       |wn_p AS (SELECT g.doc_id, g.i,
       |      min(s.h) OVER (PARTITION BY g.doc_id ORDER BY g.i
       |        ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS wmin,
       |      count(*) OVER (PARTITION BY g.doc_id) AS m
       |    FROM wn_g g JOIN wn_sh s USING (gram)),
       |wn_s AS (SELECT DISTINCT doc_id, wmin AS fp FROM wn_p
       |    WHERE i >= least($w, m)),
       |wn_big AS (SELECT fp FROM wn_s GROUP BY fp HAVING count(*) > $cap),
       |wn_cap AS (SELECT s.* FROM wn_s s WHERE NOT EXISTS (
       |      SELECT 1 FROM wn_big o WHERE o.fp = s.fp)),
       |wn_pairs AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |      count(*)::BIGINT AS n_shared
       |    FROM wn_cap a JOIN wn_cap b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2)""".stripMargin
  }

  /** CTE chain replicating [[Dedup.minHashPairs]] end-to-end, producing
    * `mh_j(doc_id_a, doc_id_b, est_jaccard)` (threshold applied by the
    * caller). Signatures use the SAME constants as the codegen'd
    * [[graft.functions.MinHashSigExpr]] kernel: hash64 per distinct
    * shingle (31-bit masked), the seeded affine permutation table
    * emitted as literals from [[graft.functions.Hashing.perms]], min
    * per permutation. Banding keys on the signature SLICE rather than
    * Hashing.bandKey — bucket collision sets are identical short of
    * 2^-64 band-key hash collisions (the repo's established
    * hash-approximation tolerance), and slices ORDER the oracle toward
    * readability over kernel mimicry.
    */
  /** Unrolled CTE chain replaying [[Relevance.trainQualityClassifier]]
    * gradient-for-gradient (the Lloyd/BPE unrolled-stage recipe applied
    * to SGD): hashed features → 6-dp frequencies → per-iteration
    * margin (DECIMAL(16,6) sums of 6-dp parts) → 6-dp sigmoid →
    * DECIMAL(28,12) gradient sums → 6-dp weight update. Ends with
    * `clf_w{T}` / `clf_b{T}` (the trained weights/bias) plus the
    * shared feature CTEs (`clf_x`, `clf_q`, `clf_nd`) for the apply
    * key. Iteration 1 starts from an EMPTY weight table (w = 0, the
    * engine's init) via the WHERE-false seed CTE.
    */
  private def clfTrainCtes(
      buckets: Int, iterations: Int, lrate: Double, minQ: Double,
      trainWhere: String = "TRUE"): String = {
    val base =
      s"""clf_l AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
         |  FROM documents),
         |clf_qs AS (SELECT doc_id, $QualitySignalsSql FROM documents
         |  WHERE $trainWhere),
         |clf_q AS (SELECT doc_id,
         |    (CASE WHEN $QualityScoreSql >= $minQ THEN 1 ELSE 0 END)::BIGINT AS y
         |  FROM clf_qs),
         |clf_f AS (
         |  SELECT doc_id, unnest(l) AS feat FROM clf_l
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(range(1, len(l)),
         |      i -> l[i] || ' ' || l[i + 1])) AS feat
         |  FROM clf_l WHERE len(l) >= 2),
         |clf_dfeat AS (SELECT DISTINCT feat FROM clf_f),
         |${hash64Ctes("clf", "clf_dfeat", "feat")},
         |clf_bk AS (SELECT feat, (h % $buckets)::BIGINT AS bucket FROM clf_h64),
         |clf_cnt AS (SELECT doc_id, bucket, count(*)::BIGINT AS c
         |  FROM clf_f JOIN clf_bk USING (feat) GROUP BY 1, 2),
         |clf_x AS (SELECT doc_id, bucket,
         |    round(c::DOUBLE / sum(c) OVER (PARTITION BY doc_id), 6) AS x
         |  FROM clf_cnt),
         |clf_nd AS (SELECT count(*)::BIGINT AS n FROM documents
         |  WHERE $trainWhere),
         |clf_w0 AS (SELECT NULL::BIGINT AS bucket, NULL::DOUBLE AS wt WHERE false),
         |clf_b0 AS (SELECT 0.0 AS bias)""".stripMargin
    val steps = (1 to iterations).map { i =>
      val p = i - 1
      s"""clf_z$i AS (SELECT x.doc_id,
         |    sum(CAST(round(x.x * w.wt, 6) AS DECIMAL(16,6))) AS zs
         |  FROM clf_x x JOIN clf_w$p w USING (bucket) GROUP BY 1),
         |clf_e$i AS (SELECT q.doc_id,
         |    (round(1.0 / (1.0 + exp(-(coalesce(z.zs::DOUBLE, 0.0)
         |        + (SELECT bias FROM clf_b$p)))), 6) - q.y::DOUBLE) AS e
         |  FROM clf_q q LEFT JOIN clf_z$i z USING (doc_id)),
         |clf_g$i AS (SELECT x.bucket,
         |    sum(CAST(round(ee.e * x.x, 12) AS DECIMAL(28,12))) AS gs
         |  FROM clf_x x JOIN clf_e$i ee USING (doc_id) GROUP BY 1),
         |clf_w$i AS (SELECT g.bucket,
         |    round(coalesce(w.wt, 0.0)
         |      - $lrate * (g.gs::DOUBLE / (SELECT n FROM clf_nd)), 6) AS wt
         |  FROM clf_g$i g LEFT JOIN clf_w$p w USING (bucket)),
         |clf_b$i AS (SELECT round((SELECT bias FROM clf_b$p)
         |      - $lrate * ((sum(CAST(ee.e AS DECIMAL(16,6)))::DOUBLE)
         |        / (SELECT n FROM clf_nd)), 6) AS bias
         |  FROM clf_e$i ee)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** Banding arrays for the hamming-pair media oracles — the engine's
    * [[graft.ext.Multimodal.hammingPairs]] combo enumeration mirrored
    * symbol for symbol: (comboList, comboKeys) SQL array literals
    * where combo index ↔ the same lexicographic `combinations(arity)`
    * order the engine explodes, and the composite key is the same
    * shift-or fold over the combo's band values (each band read from
    * the lo/hi 32-bit half that holds it — bitsPer divides 32, so no
    * band straddles the halves).
    */
  private def hammingComboArrays(bands: Int, arity: Int): (String, String) = {
    val bitsPer = 64 / bands
    val mask = (1L << bitsPer) - 1
    def keyExpr(i: Int): String = {
      val (half, sh) = if (i * bitsPer < 32) ("lo", i * bitsPer)
        else ("hi", i * bitsPer - 32)
      s"(($half >> $sh) & $mask)"
    }
    val combos = (0 until bands).combinations(arity).toSeq
    val comboKeys = combos.map(_.map(keyExpr).reduceLeft((a, b) =>
      s"(($a << $bitsPer) | $b)")).mkString("[", ", ", "]")
    (combos.indices.mkString("[", ", ", "]"), comboKeys)
  }

  private def minhashPairCtes(k: Int, bands: Int): String = {
    val r = k / bands
    val cap = Dedup.MaxBucket
    val n = graft.functions.Hashing.ShingleN
    val permRows = graft.functions.Hashing.perms.take(k).zipWithIndex
      .map { case ((a, b), p) => s"($p, $a, $b)" }.mkString(", ")
    val bandList = (0 until bands).mkString("[", ", ", "]")
    s"""mh_d AS (SELECT doc_id, $NormSql AS norm FROM documents),
       |mh_w AS (SELECT doc_id, string_split(norm, ' ') AS ws FROM mh_d),
       |mh_g AS (SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(1, len(ws) - ${n - 1}) + 1),
       |    i -> array_to_string(ws[i:i+${n - 1}], ' '))) AS gram FROM mh_w),
       |mh_dg AS (SELECT DISTINCT gram FROM mh_g),
       |${hash64Ctes("mh", "mh_dg", "gram")},
       |mh_gh AS (SELECT gram, (h % 2147483648::UHUGEINT)::BIGINT AS h31 FROM mh_h64),
       |mh_perms(p, pa, pb) AS (VALUES $permRows),
       |mh_sv AS (SELECT g.doc_id, pm.p, min((pm.pa * hh.h31 + pm.pb) % 2147483647) AS v
       |      FROM mh_g g JOIN mh_gh hh USING (gram)
       |      CROSS JOIN mh_perms pm GROUP BY g.doc_id, pm.p),
       |mh_sig AS (SELECT doc_id, list(v ORDER BY p) AS sig FROM mh_sv GROUP BY doc_id),
       |mh_b AS (SELECT doc_id, sig, unnest($bandList) AS band FROM mh_sig),
       |mh_bk AS (SELECT doc_id, sig, band,
       |      (sig[band*$r+1 : band*$r+$r])::VARCHAR AS bkey FROM mh_b),
       |mh_big AS (SELECT band, bkey FROM mh_bk
       |      GROUP BY band, bkey HAVING count(*) > $cap),
       |mh_cap AS (SELECT b.* FROM mh_bk b WHERE NOT EXISTS (
       |      SELECT 1 FROM mh_big o WHERE o.band = b.band AND o.bkey = b.bkey)),
       |mh_pairs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |        a.sig AS sig_a, b.sig AS sig_b
       |      FROM mh_cap a JOIN mh_cap b ON a.band = b.band AND a.bkey = b.bkey
       |                                 AND a.doc_id < b.doc_id),
       |mh_j AS (SELECT doc_id_a, doc_id_b,
       |        len(list_filter(range(1, ${k + 1}),
       |          i -> sig_a[i] = sig_b[i]))::DOUBLE / $k AS est_jaccard
       |      FROM mh_pairs)""".stripMargin
  }

  /** CTE chain replicating [[Dedup.simHashPairs]] (maxHamming 3 →
    * 4×16-bit pigeonhole bands), producing `sh_j(doc_id_a, doc_id_b,
    * hamming)`. Word hashes are full 64-bit hash64 over the DISTINCT
    * words of the normalized text; per-bit ±1 votes, sign → bit.
    * Hamming runs on the SIGNED reinterpretation (bit_count has no
    * UHUGEINT overload) — XOR bit counts are representation-invariant.
    */
  private def simhashPairCtes(maxHamming: Int): String = {
    val cap = Dedup.MaxBucket
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val chunkDiv = (0 until chunks)
      .map(i => s"WHEN $i THEN ${java.lang.Long.toUnsignedString(1L << (i * bitsPer))}::UHUGEINT")
      .mkString(" ")
    s"""sh_d AS (SELECT doc_id, $NormSql AS norm FROM documents),
       |sh_w AS (SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS word FROM sh_d),
       |sh_dw AS (SELECT DISTINCT word FROM sh_w),
       |${hash64Ctes("sh", "sh_dw", "word")},
       |sh_bits(bit) AS (SELECT unnest(range(0, 64))),
       |sh_votes AS (SELECT w.doc_id, b.bit,
       |      sum(CASE WHEN (h.h // (1::UHUGEINT << b.bit::UHUGEINT)) % 2 = 1
       |               THEN 1 ELSE -1 END) AS votes
       |    FROM sh_w w JOIN sh_h64 h USING (word) CROSS JOIN sh_bits b
       |    GROUP BY w.doc_id, b.bit),
       |sh_sig AS (SELECT doc_id,
       |      sum(CASE WHEN votes > 0 THEN 1::HUGEINT << bit::HUGEINT
       |               ELSE 0::HUGEINT END)::UHUGEINT AS shu
       |    FROM sh_votes GROUP BY doc_id),
       |sh_b AS (SELECT doc_id, shu, unnest(${(0 until chunks).mkString("[", ", ", "]")}) AS band
       |    FROM sh_sig),
       |sh_bk AS (SELECT doc_id, shu, band,
       |      (shu // (CASE band $chunkDiv END)) % ${1L << bitsPer} AS bkey FROM sh_b),
       |sh_big AS (SELECT band, bkey FROM sh_bk
       |      GROUP BY band, bkey HAVING count(*) > $cap),
       |sh_cap AS (SELECT b.* FROM sh_bk b WHERE NOT EXISTS (
       |      SELECT 1 FROM sh_big o WHERE o.band = b.band AND o.bkey = b.bkey)),
       |sh_pairs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |        a.shu AS shu_a, b.shu AS shu_b
       |      FROM sh_cap a JOIN sh_cap b ON a.band = b.band AND a.bkey = b.bkey
       |                                 AND a.doc_id < b.doc_id),
       |sh_signed AS (SELECT doc_id_a, doc_id_b,
       |      (shu_a::HUGEINT - CASE WHEN shu_a >= 9223372036854775808::UHUGEINT
       |        THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS sa,
       |      (shu_b::HUGEINT - CASE WHEN shu_b >= 9223372036854775808::UHUGEINT
       |        THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT AS sb
       |    FROM sh_pairs),
       |sh_j AS (SELECT doc_id_a, doc_id_b,
       |      bit_count(xor(sa, sb))::INTEGER AS hamming FROM sh_signed)""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    // -- text analysis --
    "text_stats_documents" -> ((s: SparkSession, dir: String) =>
      TextStats.textStats(docs(s, dir))),
    "token_count_documents" -> ((s: SparkSession, dir: String) =>
      TextStats.tokenCounts(docs(s, dir))),
    "lang_id_documents" -> ((s: SparkSession, dir: String) =>
      TextStats.langId(docs(s, dir))),
    "quality_score_documents" -> ((s: SparkSession, dir: String) =>
      TextStats.qualityScore(docs(s, dir))),
    "gopher_rules_documents" -> ((s: SparkSession, dir: String) =>
      // the five word-level Gopher document heuristics (Rae et al.
      // 2021) at their published thresholds: signals + per-rule flags
      TextStats.gopherRules(docs(s, dir))),
    "dsir_select_documents" -> ((s: SparkSession, dir: String) =>
      // DSIR importance-weighted data selection (Xie et al. 2023):
      // hashed unigram+bigram bucket models, target = the corpus's own
      // high-quality subset; top-pct selection via the histogram trick
      Relevance.dsirSelect(docs(s, dir))),
    "quality_classifier_documents" -> ((s: SparkSession, dir: String) =>
      // the trained DISCRIMINATIVE quality filter (the GPT-3/LLaMA
      // pipeline's classifier step): full-batch logistic regression on
      // the DSIR hashed features under the portable 6-dp/DECIMAL
      // contract; the oracle replays every gradient step as unrolled
      // CTE stages (the Lloyd/BPE recipe applied to SGD)
      Relevance.trainQualityClassifier(docs(s, dir))),
    "classifier_apply_documents" -> ((s: SparkSession, dir: String) => {
      // train-once-apply-many for the discriminative filter: weights
      // fit on even doc_ids, the frozen model scores the held-out odds
      // (unseen buckets + the empty-feature sigmoid(bias) path carry
      // real weight) — one feature pass + one broadcast join, no
      // gradient aggregates over the scored corpus. The weights
      // ROUND-TRIP a parquet artifact between train and score (the
      // similarity_ivf_trained precedent), so the oracle hash covers
      // the persistence path too
      val d = docs(s, dir)
      val (wT, biasT) = Relevance.trainClassifierModel(
        d.filter(col("doc_id") % 2 === 0))
      val path = s"${sys.props("java.io.tmpdir")}/graft-${s.sparkContext.applicationId}/clf_weights"
      Relevance.saveClassifier(s, wT, biasT, path)
      val (w, bias) = Relevance.loadClassifier(s, path)
      Relevance.classifierScoreFrozen(d.filter(col("doc_id") % 2 === 1), w, bias)
    }),
    "classifier_select_documents" -> ((s: SparkSession, dir: String) =>
      // the trained classifier APPLIED: per-doc 6-dp sigmoid score +
      // top-pct selection via the shared histogram-classified rank
      Relevance.classifierSelect(docs(s, dir))),
    "fingerprint_documents" -> ((s: SparkSession, dir: String) =>
      TextStats.fingerprint(docs(s, dir))),
    "token_freq_documents" -> ((s: SparkSession, dir: String) =>
      TextStats.tokenFreq(docs(s, dir))),
    "repetition_score_documents" -> ((s: SparkSession, dir: String) =>
      TextStats.repetitionScore(docs(s, dir))),
    "bigram_freq_documents" -> ((s: SparkSession, dir: String) =>
      // BPE-style first merge: top adjacent-token pairs, built per-row
      TextStats.bigramFreq(docs(s, dir))),
    "bpe_vocab_documents" -> ((s: SparkSession, dir: String) =>
      // the real BPE merge table (Sennrich et al. 2016): one corpus
      // pass to word-type counts (top-V-truncated BEFORE the bounded
      // driver collect), then the m-round driver-side merge loop over
      // the vocabulary — oracle unrolls the stages as CTEs
      Bpe.bpeVocab(docs(s, dir))),
    "bpe_encode_documents" -> ((s: SparkSession, dir: String) => {
      // the trained merge table APPLIED: per-doc tokenizer-true BPE
      // token counts — the greedy fold runs once per word TYPE, then
      // joins back to per-(doc, word) counts; the corpus text is never
      // re-scanned per merge. The merges ROUND-TRIP a parquet artifact
      // between train and apply (the tokenizer a real pipeline ships;
      // the similarity_ivf_trained precedent), so the oracle hash
      // covers persistence too — the train and apply passes each scan
      // the text once, the offline posture by design
      val d = docs(s, dir)
      val path = s"${sys.props("java.io.tmpdir")}/graft-${s.sparkContext.applicationId}/bpe_merges"
      Bpe.saveMerges(s, Bpe.trainMerges(d), path)
      Bpe.bpeEncodeFrozen(d, Bpe.loadMerges(s, path))
    }),
    "bpe_tokens_documents" -> ((s: SparkSession, dir: String) =>
      // the exported token STREAM (what a trainer consumes): ordered
      // BPE symbols per doc, one row per token — the sequence kernel
      // shares one JVM body with the count kernel, and the apply still
      // runs once per word TYPE
      Bpe.bpeTokens(docs(s, dir))),
    "tokenizer_fertility_documents" -> ((s: SparkSession, dir: String) =>
      // per-language fertility (BPE tokens/word) + chars/token of the
      // trained tokenizer — the audit before budgets trust its counts
      Bpe.tokenizerFertility(docs(s, dir))),
    "boilerplate_ngrams_documents" -> ((s: SparkSession, dir: String) =>
      // cross-doc shared n-grams (templated-text detector): per-doc
      // distinct grams → doc-frequency rank, vocabulary-bounded shuffle
      TextStats.sharedNgrams(docs(s, dir),
        minDocs = BoilerplateMinDocs, topN = BoilerplateTopN)),
    "source_dup_stats_documents" -> ((s: SparkSession, dir: String) =>
      // per-source duplicate-rate report (which domains need dedup)
      TextStats.sourceDupStats(docs(s, dir))),
    "source_overlap_documents" -> ((s: SparkSession, dir: String) =>
      // pairwise source containment at segment granularity: which
      // sources duplicate WHICH — the drop/down-weight signal mixture
      // fitting needs before weights double-count mirrored content
      TextStats.sourceOverlap(docs(s, dir))),
    "corpus_summary_documents" -> ((s: SparkSession, dir: String) =>
      TextStats.corpusSummary(docs(s, dir))),
    "corpus_summary_approx_documents" -> ((s: SparkSession, dir: String) =>
      // sketch form of the health report: HLL++ distincts + quantile
      // sketch — fixed-size aggregate state at any corpus size (the
      // exact key's countDistinct(fp) shuffle is O(distinct texts));
      // golden-pinned, error-bounded vs the exact key in TextStatsSpec
      TextStats.corpusSummaryApprox(docs(s, dir))),
    "profile_documents" -> ((s: SparkSession, dir: String) =>
      // per-column null/cardinality/range profile in ONE scan (multi-
      // distinct Expand + two-stage agg); the ingest trust check
      Profile.profileTable(docs(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    "length_histogram_documents" -> ((s: SparkSession, dir: String) =>
      // sequence-length planning view: 32-token buckets, overflow at 15
      TextStats.lengthHistogram(docs(s, dir))),
    "length_quantiles_documents" -> ((s: SparkSession, dir: String) =>
      // exact per-lang discrete length percentiles off a (lang, n_chars)
      // histogram — no raw-row stratum window
      TextStats.lengthQuantiles(docs(s, dir))),
    // -- term relevance (TF-IDF / BM25) --
    "tfidf_top_terms_documents" -> ((s: SparkSession, dir: String) =>
      Relevance.tfidfTopTerms(docs(s, dir))),
    "bm25_search_documents" -> ((s: SparkSession, dir: String) =>
      Relevance.bm25Search(docs(s, dir), Bm25QueryTerms)),
    "bm25_search_terms_documents" -> ((s: SparkSession, dir: String) => {
      // dynamic-terms variant: the query terms arrive as DATA (a term
      // column), not literals — inverted-index join shape
      import s.implicits._
      Relevance.bm25SearchTerms(docs(s, dir), Bm25DynamicRawTerms.toDF("term"))
    }),
    "unigram_logprob_documents" -> ((s: SparkSession, dir: String) =>
      // unigram-LM quality proxy: corpus-trained top-24 vocab (the
      // synthetic corpus has 31 distinct terms, so the OOV floor path
      // carries real weight in the oracle check), mean log-prob per doc
      Relevance.unigramLogProb(docs(s, dir), vocabSize = UnigramVocabSize)),
    "bigram_logprob_documents" -> ((s: SparkSession, dir: String) =>
      // bigram-LM with stupid backoff: top-512 bigrams of ~916 distinct
      // in the corpus, unigram vocab 24 of 31 — hit, backoff-to-vocab
      // and backoff-to-floor paths all carry weight in the oracle check
      Relevance.bigramLogProb(docs(s, dir),
        vocabSize = UnigramVocabSize, bigramVocab = BigramVocabSize)),
    "perplexity_buckets_documents" -> ((s: SparkSession, dir: String) =>
      // CCNet's head/middle/tail split (Wenzek et al. 2019): per-lang
      // perplexity terciles under the trained bigram LM, via the
      // per-group histogram classification (no per-language doc sort
      // — multilingual skew is the 100 TB failure mode here)
      Relevance.perplexityBuckets(docs(s, dir),
        vocabSize = UnigramVocabSize, bigramVocab = BigramVocabSize)),
    "bigram_apply_documents" -> ((s: SparkSession, dir: String) => {
      // train-once-apply-many made real for the LM family (the BPE
      // treatment): the model trains on the EVEN doc_ids only and
      // scores the held-out ODD docs through the frozen-model
      // expression — one narrow codegen'd projection, zero shuffles
      // before the final sort (vs the self-scoring key's in-plan
      // train-and-score). OOV words and unseen bigrams genuinely
      // exercise the backoff paths: the halves share most vocabulary
      // but not all of it
      val d = docs(s, dir)
      val trained = Relevance.bigramModel(d.filter(col("doc_id") % 2 === 0),
        vocabSize = UnigramVocabSize, bigramVocab = BigramVocabSize)
      // artifact round-trip IN the declared key (the
      // similarity_ivf_trained precedent): the scored model is the
      // LOADED one, so the oracle hash covers persistence too
      val path = s"${sys.props("java.io.tmpdir")}/graft-${s.sparkContext.applicationId}/bigram_model"
      Relevance.saveBigramModel(s, trained, path)
      Relevance.bigramApply(d.filter(col("doc_id") % 2 === 1),
        Relevance.loadBigramModel(s, path))
    }),
    // -- dedup --
    "dedup_exact_documents" -> ((s: SparkSession, dir: String) =>
      Dedup.exact(docs(s, dir))),
    "dedup_exact_keep_longest_documents" -> ((s: SparkSession, dir: String) =>
      Dedup.exactKeepLongest(docs(s, dir))),
    "dedup_incremental_documents" -> ((s: SparkSession, dir: String) => {
      // recurring-crawl scenario, derived deterministically: the corpus
      // already holds the even doc_ids; the new snapshot re-crawls every
      // 3rd doc and fetches every 9th one TWICE (second copy under a
      // synthetic id ≥ 10^9, same content). Survivors must lose the
      // re-fetched copies within the batch AND everything the corpus
      // already has — both by content fingerprint, not id.
      val d = docs(s, dir)
      val batch = d.filter(col("doc_id") % 3 === 0)
        .unionByName(d.filter(col("doc_id") % 9 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000000L)))
      Dedup.incrementalExact(batch, d.filter(col("doc_id") % 2 === 0))
    }),
    "dedup_minhash_documents" -> ((s: SparkSession, dir: String) =>
      Dedup.minHashDedup(docs(s, dir))),
    "dedup_minhash_incremental_documents" -> ((s: SparkSession, dir: String) => {
      // rolling-corpus NEAR-dup maintenance (incrementalExact's sketch
      // sibling): the corpus holds doc_id % 3 != 0; the new snapshot
      // (every 3rd doc) drops members near-duplicating the corpus OR an
      // earlier batch doc — one banded index, corpus-wins drop policy
      val d = docs(s, dir)
      Dedup.incrementalMinHash(
        d.filter(col("doc_id") % 3 === 0), d.filter(col("doc_id") % 3 =!= 0))
    }),
    "dedup_minhash_pairs_documents" -> ((s: SparkSession, dir: String) =>
      Dedup.minHashPairs(docs(s, dir), threshold = 0.2)),
    "dedup_minhash_pairs_k128_documents" -> ((s: SparkSession, dir: String) =>
      // the production operating point (K=128, b=32: sharp S-curve at
      // ~0.5) — declared so its cost is MEASURED in the bench, not just
      // claimed to be a config knob
      Dedup.minHashPairs(docs(s, dir), threshold = 0.5, k = 128, bands = 32)),
    "dedup_simhash_pairs_documents" -> ((s: SparkSession, dir: String) =>
      Dedup.simHashPairs(docs(s, dir))),
    "dedup_ngram_pairs_documents" -> ((s: SparkSession, dir: String) =>
      // exact inverted-index variant: no sketch → DuckDB-oracle-checkable
      Dedup.ngramJaccardPairsExact(docs(s, dir), threshold = 0.1)),
    "dedup_ngram_lsh_pairs_documents" -> ((s: SparkSession, dir: String) =>
      // LSH-candidate variant (MinHash banding prunes the pair space)
      Dedup.ngramJaccardPairs(docs(s, dir),
        candidateThreshold = 0.1, threshold = 0.1)),
    "dedup_ngram_prefix_pairs_documents" -> ((s: SparkSession, dir: String) =>
      // ALL-PAIRS/PPJoin prefix filtering: recall-COMPLETE exact pairs
      // at J ≥ 0.6 with a prefix-only inverted index (no frequency-cap
      // recall loss, no sketch)
      Dedup.ngramJaccardPairsPrefix(docs(s, dir), threshold = 0.6)),
    "dup_size_histogram_documents" -> ((s: SparkSession, dir: String) =>
      // exact-dup cluster-size distribution (keep-one vs drop-all view)
      Dedup.dupSizeHistogram(docs(s, dir))),
    "doc_vector_join_documents" -> ((s: SparkSession, dir: String) =>
      // cross-modal enrichment: text quality + vector health in one row
      Similarity.docVectorJoin(docs(s, dir), embs(s, dir))),
    "dedup_cluster_documents" -> ((s: SparkSession, dir: String) =>
      // transitive near-dup clusters (GraphX connected components)
      DedupClusters.minHashClusters(docs(s, dir), threshold = 0.8)),
    "dedup_cluster_exact_documents" -> ((s: SparkSession, dir: String) =>
      // connected components over the exact (sketch-free) n-gram pair
      // set → oracle-checkable via WITH RECURSIVE transitive closure.
      // DataFrame-native hash-to-min CC (Tungsten-resident; the GraphX
      // variant serves dedup_cluster_documents) — spec-proven equal
      DedupClusters.clustersDF(docs(s, dir),
        Dedup.ngramJaccardPairsExact(docs(s, dir), threshold = 0.1))),
    "dedup_cluster_keep_quality_documents" -> ((s: SparkSession, dir: String) =>
      // the production keep policy: per near-dup cluster keep the
      // highest-quality member (ties to smallest id), not the first
      // crawled — same exact pair set as dedup_cluster_exact
      DedupClusters.dedupByClustersKeepQuality(docs(s, dir),
        Dedup.ngramJaccardPairsExact(docs(s, dir), threshold = 0.1))),
    "dedup_embedding_pairs_embeddings" -> ((s: SparkSession, dir: String) =>
      // synthetic embeddings have no true near-dups (max pairwise cosine
      // ≈0.48 at sf0.001); 0.3 exercises the LSH-candidate + verify path
      Dedup.embeddingPairs(embs(s, dir), threshold = 0.3)),
    "dedup_winnow_pairs_documents" -> ((s: SparkSession, dir: String) =>
      // LOCAL fingerprinting (MOSS winnowing): shared-passage pairs the
      // whole-doc sketches miss (a pasted header in unrelated docs)
      Dedup.winnowPairs(docs(s, dir), minShared = WinnowMinShared)),
    "dedup_substring_documents" -> ((s: SparkSession, dir: String) =>
      // exact duplicated-span REMOVAL (Lee et al. 2021): cuts every
      // ≥SubstrK-char span whose text occurs earlier in the corpus,
      // keeping the first occurrence — the surviving text is rebuilt
      Dedup.substringDedup(docs(s, dir))),
    "dedup_substring_ranged_documents" -> ((s: SparkSession, dir: String) =>
      // the hash-range REMEDY (r16 verdict #5) as its own declared key:
      // the duplicated-gram position sort split into 4 sequential
      // hash-range passes, each sorting ~1/4 of the position stream
      // (scratch ÷ passes — the single-box execution of the N-node
      // posture); the oracle is the single-sort key's text VERBATIM,
      // so the hash gates the ranged execution bit-identical
      Dedup.substringDedupPasses(docs(s, dir), passes = 4)),
    // -- similarity search --
    "similarity_topk_embeddings" -> ((s: SparkSession, dir: String) => {
      val e = embs(s, dir)
      Similarity.topK(e, Similarity.defaultProbe(e))
    }),
    "similarity_ann_embeddings" -> ((s: SparkSession, dir: String) => {
      val e = embs(s, dir)
      // the query-time plan: sketch semi-join pruning over the
      // unpartitioned table (the pruning is of compute, not of files)
      Similarity.annTopK(e, Similarity.defaultProbe(e))
    }),
    "similarity_pq_embeddings" -> ((s: SparkSession, dir: String) => {
      // compressed-domain ADC top-k over 8x16 product-quantized codes:
      // the corpus's floats never enter the scoring plan — codes join a
      // broadcast (subspace, code) lookup built from the probe
      val e = embs(s, dir)
      Similarity.pqTopK(e, Similarity.defaultProbe(e))
    }),
    "similarity_pq_recall_embeddings" -> ((s: SparkSession, dir: String) => {
      // recall@10 of PQ ADC scoring vs oracle-green brute force: the
      // compression carries a measured, regression-gated number
      val e = embs(s, dir)
      val probe = Similarity.defaultProbe(e)
      val pq = Similarity.pqTopK(e, probe, k = Similarity.RecallK).select("vec_id")
      val brute = Similarity.topK(e, probe, k = Similarity.RecallK).select("vec_id")
      pq.join(brute, Seq("vec_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(Similarity.RecallK).as("k"), col("n_hits"),
          round(col("n_hits") / lit(Similarity.RecallK.toDouble), 4)
            .as("recall_at_10"))
        .orderBy("k")
    }),
    "similarity_ivfpq_embeddings" -> ((s: SparkSession, dir: String) => {
      // the production retrieval stack end-to-end: IVF cell restriction
      // -> PQ ADC shortlist (compressed domain) -> exact re-rank of the
      // shortlist only
      val e = embs(s, dir)
      Similarity.ivfPqTopK(e, Similarity.defaultProbe(e))
    }),
    "similarity_ivf_embeddings" -> ((s: SparkSession, dir: String) => {
      // oracle-checkable variant: deterministic seed centroids, 6-dp
      // portable argmin at every ranking step — same plan shape
      // (literal-argmin assignment + broadcast probe-list semi-join) as
      // the trained variant below
      val e = embs(s, dir)
      Similarity.ivfSeedTopK(e, Similarity.defaultProbe(e))
    }),
    "similarity_knn_join_embeddings" -> ((s: SparkSession, dir: String) => {
      // batch kNN JOIN: probes as DATA (every vec_id % KnnProbeModulus
      // row) through the shared per-probe IVF kernel — ONE join plan,
      // no per-probe driver loop; the kernel is the same one the
      // streaming retrieval face serves with
      val e = embs(s, dir)
      val probes = probeBatch(e)
      Similarity.knnJoin(e, probes)
    }),
    "knn_graph_embeddings" -> ((s: SparkSession, dir: String) =>
      // kNN-graph construction: the knn_join shape with probes = the
      // CORPUS — every vector's 4 nearest neighbors (self excluded)
      // among its probed cells; both sides shuffle on centroid_id (the
      // join is pinned in Similarity.graphTail: the probe side IS the
      // corpus)
      Similarity.knnGraph(embs(s, dir), k = KnnGraphK)),
    "knn_graph_refine_embeddings" -> ((s: SparkSession, dir: String) =>
      // one NN-Descent round (Dong et al. 2011): candidates = current
      // edges ∪ neighbors-of-neighbors, exact re-score, top-k — recall
      // vs the exact graph is monotone non-decreasing by construction
      Similarity.knnGraphRefine(embs(s, dir), k = KnnGraphK)),
    "knn_graph_refine_iter_embeddings" -> ((s: SparkSession, dir: String) =>
      // NN-Descent to fixed depth: each round expands candidates two
      // hops over the PREVIOUS round's edges and re-scores exactly —
      // per-vertex recall is monotone non-decreasing in rounds;
      // rounds=1 is spec-pinned bit-identical to the one-round key,
      // and the oracle unrolls rounds as CTE stages (the
      // Lloyd/LR/label-prop trajectory recipe)
      Similarity.knnGraphRefineIter(embs(s, dir), k = KnnGraphK,
        rounds = RefineRounds)),
    "knn_graph_append_embeddings" -> ((s: SparkSession, dir: String) => {
      // INCREMENTAL graph maintenance (r14 verdict #2a) as a declared
      // relation: the batch is the high-id tail past the seed vertices
      // (so the frozen quantizer the base seeds equals the union's —
      // every seed vertex is in base by construction), the base graph
      // builds with the family kernel, and appendToGraph folds the
      // batch in — newcomer edges + EXACT re-rank of only the affected
      // vertices. The oracle is the FULL-REBUILD text of the knn_graph
      // key verbatim, so the hash gates the incremental path's
      // bit-exactness, not a weaker recall statement.
      val e = embs(s, dir)
      val cents = Similarity.seedCentroids(e, 16)
      val seedCut = cents.map(_._1).max
      val arriving = col("vec_id") % 10 === 9 && col("vec_id") > seedCut
      val base = e.filter(!arriving)
      val batch = e.filter(arriving)
      val baseGraph = graft.core.CacheScope.persist(
        Similarity.knnGraph(base, k = KnnGraphK))
      Similarity.appendToGraph(baseGraph, base, batch, cents, k = KnnGraphK)
    }),
    "graph_search_embeddings" -> ((s: SparkSession, dir: String) => {
      // graph-walk retrieval (r14 verdict #2b → r15 verdict #1): the
      // NSW beam search SERVED from the persisted clustered edge
      // artifact — the graph is written via writeGraphClustered (the
      // maintenance layout) and the walk consumes the LOADED edge
      // table, never the in-memory one, so the oracle hash covers the
      // edge artifact's persistence round-trip too (the
      // similarity_ivf_trained save→load→serve precedent). Seeded at
      // the quantizer's landmark vertices, GraphSearchRounds hops at
      // beam GraphSearchBeam; the oracle unrolls the same rounds as
      // CTE stages (the trajectory recipe).
      val e = embs(s, dir)
      val cents = Similarity.seedCentroids(e, 16)
      val root = s"${sys.props("java.io.tmpdir")}/graft-${s.sparkContext.applicationId}"
      val path = s"$root/graph_clustered"
      Similarity.writeGraphClustered(Similarity.knnGraph(e, k = KnnGraphK),
        Similarity.ivfAssignPortableTo(e, cents), path)
      Similarity.graphSearch(e, s.read.parquet(path).drop("g_cell"),
        probeBatch(e), cents.map(_._1),
        beam = GraphSearchBeam, rounds = GraphSearchRounds)
    }),
    "graph_search_clustered_embeddings" -> ((s: SparkSession, dir: String) => {
      // the serving face with IVF-style CELL RESTRICTION (r15 verdict
      // #1's pruning half): the walk reads ONLY the probed cells'
      // partitions of the clustered edge artifact — the literal cell
      // list reaches the scan as PartitionFilters (PruningSpec pins
      // it), bounding file IO by the probed cells, never the graph.
      // Expansion is cell-local (the SPANN posting-list trade);
      // out-of-cell vertices reached by an in-cell edge are scored but
      // not expanded — deterministic under the frozen quantizer, so
      // the oracle replicates the restriction as a WHERE on the edge
      // CTE.
      val e = embs(s, dir)
      val cents = Similarity.seedCentroids(e, 16)
      val root = s"${sys.props("java.io.tmpdir")}/graft-${s.sparkContext.applicationId}"
      val path = s"$root/graph_clustered_serve"
      Similarity.writeGraphClustered(Similarity.knnGraph(e, k = KnnGraphK),
        Similarity.ivfAssignPortableTo(e, cents), path)
      Similarity.graphSearchClustered(e, s.read.parquet(path),
        probeBatch(e), cents, cents.map(_._1),
        beam = GraphSearchBeam, rounds = GraphSearchRounds)
    }),
    "graph_search_hnsw_embeddings" -> ((s: SparkSession, dir: String) => {
      // HNSW descent (r15 verdict #8 → r16 verdict #1/#7): 2 geometric
      // upper layers under the deterministic id-HASH rule
      // (hnswLayerPredicate), each the knnGraph kernel over its subset
      // + the landmark STAR; the hierarchy is PERSISTED via
      // writeHnswClustered (per-layer clustered kNN edges + star +
      // the frozen top-entry id in `meta`) and the walk descends from
      // the LOADED artifacts — the graph_search save→load→walk
      // precedent one level up, so the oracle hash covers every
      // layer's persistence round trip AND the descent never re-runs
      // a build DAG or scans the corpus for its entry. The walk starts
      // at the stored top-entry, each upper layer beam-walks 2 hops at
      // beam 4 and hands its beam down; the base layer runs exactly
      // the graph_search bottom stage. The oracle unrolls every
      // layer's graph chain and beam stages as prefixed CTE blocks
      // (the trajectory recipe, once per layer).
      val e = embs(s, dir)
      val root = s"${sys.props("java.io.tmpdir")}/graft-${s.sparkContext.applicationId}"
      val path = s"$root/hnsw_layers"
      Similarity.writeHnswClustered(s, e, path, levels = HnswLevels,
        ratio = HnswRatio, k = KnnGraphK)
      Similarity.hnswSearchStored(e, Similarity.readHnswClustered(s, path),
        probeBatch(e), beam = GraphSearchBeam, rounds = GraphSearchRounds,
        upperBeam = HnswUpperBeam, upperRounds = HnswUpperRounds)
    }),
    "hnsw_appended_embeddings" -> ((s: SparkSession, dir: String) => {
      // layered-hierarchy MAINTENANCE end-to-end (r16 verdict #2 — the
      // knn_graph_appended contract applied to the WHOLE HNSW stack):
      // the hierarchy persists over base via writeHnswClustered, one
      // appendToHnswClustered batch folds the arrivals into EVERY
      // layer they hash into (kNN half re-ranked exactly, star half
      // appended, top entry invariant), plus a RE-DELIVERY of the
      // batch (per-layer vertex anti-join idempotency inside the
      // hashed key), and the declared relation reads the appended —
      // never rebuilt — layer artifacts. The oracle is the full
      // rebuild of every layer over the union corpus (one prefixed
      // graph chain per layer), so the hash pins append ≡
      // rebuild-over-union PER LAYER. (The two-sequential-append
      // lifecycle is already pinned at the flat level by
      // knn_graph_appended — SAME kernel, appendToGraphClustered.)
      val e = embs(s, dir)
      val cents = Similarity.seedCentroids(e, 16)
      val seedCut = cents.map(_._1).max
      // the knn_graph_appended split invariant PER LAYER: an arriving
      // id below a layer's lowest-16-id seed cut would change that
      // layer's rebuild quantizer — exclude such ids from `arriving`
      // (layers nest under the hash rule, so each layer contributes
      // its own cut; the cuts are over the UNION's subsets, which the
      // construction then makes equal to base's)
      var arriving = col("vec_id") % 10 === 9 && col("vec_id") > seedCut
      for (l <- 1 to HnswLevels) {
        val layerCut = Similarity.seedCentroids(
          e.filter(Similarity.hnswLayerPredicate(l, HnswRatio)), 16)
          .map(_._1).max
        arriving = arriving &&
          (!Similarity.hnswLayerPredicate(l, HnswRatio) ||
            col("vec_id") > layerCut)
      }
      val base = e.filter(!arriving)
      val b1 = e.filter(arriving)
      val root = s"${sys.props("java.io.tmpdir")}/graft-${s.sparkContext.applicationId}"
      val path = s"$root/hnsw_appended"
      Similarity.writeHnswClustered(s, base, path, levels = HnswLevels,
        ratio = HnswRatio, k = KnnGraphK)
      Similarity.appendToHnswClustered(s, path, base, b1, cents,
        k = KnnGraphK)
      Similarity.appendToHnswClustered(s, path, base.unionByName(b1), b1,
        cents, k = KnnGraphK) // re-delivery: must no-op on every layer
      val idx = Similarity.readHnswClustered(s, path)
      (0 to HnswLevels).map { l =>
        idx.layers(l).withColumn("layer", lit(l))
      }.reduce(_.unionByName(_))
        .select("layer", "probe_id", "vec_id", "label", "cosine")
        .orderBy(col("layer"), col("probe_id"), col("cosine").desc,
          col("vec_id"))
    }),
    "knn_graph_appended_embeddings" -> ((s: SparkSession, dir: String) => {
      // clustered-graph MAINTENANCE end-to-end as one declared relation
      // (r15 verdict #3 — the similarity_ivf_appended precedent applied
      // to the EDGE artifact): base graph persisted via
      // writeGraphClustered, two appendToGraphClustered batches fold
      // the arriving vertices in (bounded partition rewrite), plus a
      // RE-DELIVERY of the first batch (the vertex anti-join
      // idempotency contract, exercised inside the hashed key), and
      // the served relation reads the appended — never rebuilt —
      // layout. The oracle is the full-rebuild text of the knn_graph
      // key verbatim (same split invariant as knn_graph_append: every
      // seed vertex stays in base, so the frozen quantizer equals the
      // union's and the incremental fold is bit-identical).
      val e = embs(s, dir)
      val cents = Similarity.seedCentroids(e, 16)
      val seedCut = cents.map(_._1).max
      val arriving = col("vec_id") % 10 === 9 && col("vec_id") > seedCut
      val base = e.filter(!arriving)
      val b1 = e.filter(arriving && col("vec_id") % 20 === 9)
      val b2 = e.filter(arriving && col("vec_id") % 20 === 19)
      val root = s"${sys.props("java.io.tmpdir")}/graft-${s.sparkContext.applicationId}"
      val path = s"$root/knn_graph_appended"
      Similarity.writeGraphClustered(Similarity.knnGraph(base, k = KnnGraphK),
        Similarity.ivfAssignPortableTo(base, cents), path)
      Similarity.appendToGraphClustered(s, path, base, b1, cents,
        k = KnnGraphK)
      Similarity.appendToGraphClustered(s, path, base.unionByName(b1), b2,
        cents, k = KnnGraphK)
      Similarity.appendToGraphClustered(s, path,
        base.unionByName(b1).unionByName(b2), b1, cents,
        k = KnnGraphK) // re-delivery: must no-op on the vertex anti-join
      s.read.parquet(path)
        .select("probe_id", "vec_id", "label", "cosine")
        .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
    }),
    "label_propagation_embeddings" -> ((s: SparkSession, dir: String) =>
      // one round of label propagation over the kNN graph: cosine-
      // weighted majority label per vertex (decimal-exact votes,
      // aggregate argmax, ties to smallest label) — corpus-wide
      // pseudo-labeling and the leave-one-out label-quality audit
      Similarity.labelPropagate(embs(s, dir), k = KnnGraphK)),
    "label_propagation_iter_embeddings" -> ((s: SparkSession, dir: String) =>
      // Zhu & Ghahramani run to convergence-depth: 3 rounds over the
      // FROZEN graph, each round re-voting with the previous round's
      // labels (carry-forward for voteless vertices); rounds=1 is
      // spec-pinned bit-identical to the one-round key — the oracle
      // unrolls the rounds as CTE stages, the Lloyd/LR-trajectory
      // recipe applied to propagation
      Similarity.labelPropagateIter(embs(s, dir), k = KnnGraphK,
        rounds = LabelPropRounds)),
    "similarity_knn_join_pq_embeddings" -> ((s: SparkSession, dir: String) => {
      // the retrieval capstone as a declared key: the batch kNN JOIN
      // through the PRODUCTION stack (IVF cell restriction -> PQ ADC
      // shortlist in the compressed domain -> exact re-rank of
      // survivors), probes as DATA — Similarity.knnJoinPq, here
      // oracle-gated end to end; same bounded probe batch as the
      // exact-kernel key above
      val e = embs(s, dir)
      val probes = probeBatch(e)
      Similarity.knnJoinPq(e, probes)
    }),
    "similarity_knn_join_recall_embeddings" -> ((s: SparkSession, dir: String) => {
      // serving-quality gate for the production stack: per-probe
      // recall@10 of the IVF->PQ-ADC->re-rank batch join against the
      // brute-force exact top-10 over the SAME capped probe batch —
      // the cell-restriction + compression loss carries a measured,
      // regression-gated number PER PROBE (the single-seed pq_recall
      // figure can't see per-query variance)
      val e = embs(s, dir)
      val probes = probeBatch(e)
      val pq = Similarity.knnJoinPq(e, probes, k = Similarity.RecallK)
        .select("probe_id", "vec_id")
      val exact = Similarity.knnJoinExact(e, probes, k = Similarity.RecallK)
        .select("probe_id", "vec_id")
      val hits = pq.join(exact, Seq("probe_id", "vec_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
      probes.select("probe_id").join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) /
            lit(Similarity.RecallK.toDouble), 4).as("recall_at_10"))
        .orderBy("probe_id")
    }),
    "hard_negatives_embeddings" -> ((s: SparkSession, dir: String) => {
      // hard-negative mining for contrastive training (DPR/ANCE): the
      // batch kNN-join kernel with the anchor's label carried through
      // the cell expansion and a label != probe_label filter on the
      // candidate stream — the confusable near-misses an embedding
      // model trains its decision boundary on; same capped probe batch
      // as the retrieval keys
      val e = embs(s, dir)
      val probes = probeBatch(e, withLabel = true)
      Similarity.hardNegatives(e, probes)
    }),
    "knn_classify_embeddings" -> ((s: SparkSession, dir: String) => {
      // leave-one-out kNN classification over the shared IVF kernel:
      // the embedding-quality evaluation — each probe classified by
      // the majority label of its k nearest neighbors (self excluded;
      // ties break to the smallest label); same capped probe batch
      val e = embs(s, dir)
      val probes = probeBatch(e, withLabel = true)
      Similarity.knnClassify(e, probes)
    }),
    "similarity_ivf_trained_embeddings" -> ((s: SparkSession, dir: String) => {
      val e = embs(s, dir)
      // the production path: explicit index-build step (offline at
      // cluster scale: train once, write vectors bucketed by
      // centroid_id), then the query consumes the index — Lloyd's source
      // scan happens once, pinned, released. Training runs in PORTABLE
      // mode (6-dp assignment argmin, 6-dp per-dimension means): every
      // iteration's centroids are engine-reproducible, so the DuckDB
      // oracle unrolls the SAME 3 Lloyd iterations in SQL and lands on
      // bit-identical centroids — training AND query are oracle-checked.
      val trained = Similarity.buildIvfIndex(e, nCentroids = 16, iterations = 3,
        portable = true)
      // artifact round-trip IN the declared key: the offline build job
      // persists centroids (saveIndex) beside the clustered layout;
      // serving below consumes the LOADED index, never the in-memory
      // one — so the oracle hash covers the persistence path too
      // (parquet float32 round-trips bit-exactly; IvfPersistSpec pins
      // the save→load→serve equality directly)
      val base = s"${sys.props("java.io.tmpdir")}/graft-${s.sparkContext.applicationId}"
      Similarity.saveIndex(s, trained, s"$base/ivf_index")
      val index = Similarity.loadIndex(s, s"$base/ivf_index")
      val assigned = Similarity.ivfAssignPortableTo(e, index.centroids)
      // physical layout step: vectors persisted PARTITIONED by
      // centroid_id; the probe then prunes FILES (PartitionFilters),
      // not just compute — same rows as the semi-join plan. The path is
      // applicationId-scoped: two concurrent processes (a bench beside
      // a verify) must never overwrite each other's layout mid-scan
      val path = s"$base/ivf_clustered"
      Similarity.writeClustered(assigned, path)
      val probe = Similarity.defaultProbe(e)
      val ids = Similarity.probeCentroidIds(index.toDF(s), probe, nProbe = 4,
        portable = true)
      Similarity.ivfTopKClustered(s.read.parquet(path), ids, probe)
    }),
    "similarity_ivf_appended_embeddings" -> ((s: SparkSession, dir: String) => {
      // the index-maintenance lifecycle END-TO-END as one declared
      // relation (r14 verdict #6): train on the BASE slice (portable
      // Lloyd — the oracle unrolls the same 3 iterations over the same
      // base), persist + load the frozen index, lay the base out
      // clustered, then MAINTAIN — two appendToClustered batches fold
      // the arriving vectors in, plus a RE-DELIVERY of the first batch
      // (the anti-join idempotency contract, exercised inside the
      // hashed key), and serving runs THROUGH the appended (never
      // rebuilt) layout. The oracle serves a REBUILD over the union
      // with the same frozen centroids — the spec-pinned equivalence,
      // now hash-gated in the declared surface.
      val e = embs(s, dir)
      val base = e.filter(col("vec_id") % 5 =!= 0)
      val b1 = e.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 === 0)
      val b2 = e.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 =!= 0)
      val trained = Similarity.buildIvfIndex(base, nCentroids = 16,
        iterations = 3, portable = true)
      val root = s"${sys.props("java.io.tmpdir")}/graft-${s.sparkContext.applicationId}"
      Similarity.saveIndex(s, trained, s"$root/ivf_appended_index")
      val index = Similarity.loadIndex(s, s"$root/ivf_appended_index")
      val path = s"$root/ivf_appended"
      Similarity.writeClustered(
        Similarity.ivfAssignPortableTo(base, index.centroids), path)
      Similarity.appendToClustered(s, path, b1, index, portable = true)
      Similarity.appendToClustered(s, path, b2, index, portable = true)
      Similarity.appendToClustered(s, path, b1, index, portable = true) // re-delivery: must no-op
      val probe = Similarity.defaultProbe(e)
      val ids = Similarity.probeCentroidIds(index.toDF(s), probe, nProbe = 4,
        portable = true)
      Similarity.ivfTopKClustered(s.read.parquet(path), ids, probe)
    }),
    "similarity_ivf_recall_embeddings" -> ((s: SparkSession, dir: String) => {
      // recall@10 of the (oracle-green) seed-centroid IVF vs brute
      // force: a hash-checked number on what nProbe/nCentroids pruning
      // costs — the IVF analogue of similarity_ann_recall
      val e = embs(s, dir)
      val probe = Similarity.defaultProbe(e)
      val ivf = Similarity.ivfSeedTopK(e, probe, k = Similarity.RecallK)
        .select("vec_id")
      val brute = Similarity.topK(e, probe, k = Similarity.RecallK).select("vec_id")
      ivf.join(brute, Seq("vec_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(Similarity.RecallK).as("k"), col("n_hits"),
          round(col("n_hits") / lit(Similarity.RecallK.toDouble), 4)
            .as("recall_at_10"))
        .orderBy("k")
    }),
    "similarity_ann_recall_embeddings" -> ((s: SparkSession, dir: String) => {
      // recall@10 of the LSH-pruned ANN against oracle-green brute force:
      // the approximation carries a MEASURED, regression-gated number
      val e = embs(s, dir)
      val probe = Similarity.defaultProbe(e)
      val ann = Similarity.annTopK(e, probe, k = Similarity.RecallK).select("vec_id")
      val brute = Similarity.topK(e, probe, k = Similarity.RecallK).select("vec_id")
      ann.join(brute, Seq("vec_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(Similarity.RecallK).as("k"), col("n_hits"),
          round(col("n_hits") / lit(Similarity.RecallK.toDouble), 4)
            .as("recall_at_10"))
        .orderBy("k")
    }),
    "quality_sweep_documents" -> ((s: SparkSession, dir: String) =>
      // the minQuality tuning curve: docs/tokens retained per candidate
      // threshold, one scoring pass + a histogram-sized inequality join.
      // Thresholds with zero survivors are omitted (same shape both
      // engines: inner inequality join against the score histogram)
      TextStats.qualitySweep(docs(s, dir))),
    "source_drift_documents" -> ((s: SparkSession, dir: String) => {
      // crawl-over-crawl QA, derived deterministically: doc_id mod 4
      // halves the corpus into two snapshots (mod 2 would correlate
      // with the synthetic source assignment and make the split
      // degenerate — every source wholly on one side)
      val d = docs(s, dir)
      TextStats.sourceDrift(
        d.filter(col("doc_id") % 4 <= 1),
        d.filter(col("doc_id") % 4 >= 2))
    }),
    "dedup_minhash_quality_documents" -> ((s: SparkSession, dir: String) =>
      // sketch-quality report: P/R/F1 of MinHash-LSH pairs vs the exact
      // capped n-gram Jaccard pair set at the same threshold — measured
      // continuously, not assumed from the S-curve
      Dedup.minHashQuality(docs(s, dir), threshold = MinHashQualityThreshold)),
    "embedding_stats_embeddings" -> ((s: SparkSession, dir: String) =>
      // vector-table ingest trust check: dims, zero norms, norm drift
      Similarity.embeddingStats(embs(s, dir))),
    "dedup_semantic_pairs_embeddings" -> ((s: SparkSession, dir: String) => {
      // SemDeDup (arXiv:2303.09540): k-means cluster, pairwise cosine
      // ONLY within a cluster — O(n²) drops to Σ cᵢ², co-located on the
      // centroid_id shuffle key; portable Lloyd training keeps the whole
      // operator oracle-checkable
      val e = embs(s, dir)
      val index = Similarity.buildIvfIndex(e, nCentroids = 16, iterations = 3,
        portable = true)
      Similarity.semanticPairs(e, index)
    }),
    "dedup_semantic_cluster_embeddings" -> ((s: SparkSession, dir: String) => {
      // transitive closure of the semantic pair graph (the family-
      // completing analogue of dedup_cluster_exact): DataFrame-native
      // hash-to-min CC over SemDeDup pairs — duplicate GROUPS, not just
      // pairwise drops, so a chain a~b~c dedups to ONE representative
      val e = embs(s, dir)
      val index = Similarity.buildIvfIndex(e, nCentroids = 16, iterations = 3,
        portable = true)
      val pairs = Similarity.semanticPairs(e, index)
        .select(col("vec_id_a").as("doc_id_a"), col("vec_id_b").as("doc_id_b"))
      // clustersDF already ends in a total orderBy(doc_id); the rename
      // is a Project over that Sort (order-preserving) — a second sort
      // on the aliased column would be a wasted exchange
      DedupClusters.clustersDF(e.select(col("vec_id").as("doc_id")), pairs)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
    }),
    "dedup_semantic_embeddings" -> ((s: SparkSession, dir: String) => {
      // the keep set: drop any vector with a lower-id semantic duplicate
      // in its cluster (keep-lowest-id representative)
      val e = embs(s, dir)
      val index = Similarity.buildIvfIndex(e, nCentroids = 16, iterations = 3,
        portable = true)
      Similarity.semanticDedup(e, index)
    }),
    "prune_prototypes_embeddings" -> ((s: SparkSession, dir: String) => {
      // SSL-prototype pruning (Sorscher et al. 2022): per-cluster
      // prototypicality rank, keep the hard (least prototypical) 70% —
      // the data-pruning step between dedup and selection
      val e = embs(s, dir)
      val index = Similarity.buildIvfIndex(e, nCentroids = 16, iterations = 3,
        portable = true)
      Similarity.prunePrototypes(e, index)
    }),
    "d4_select_embeddings" -> ((s: SparkSession, dir: String) =>
      // D4 (Tirumala et al. 2023): SemDeDup, then RE-CLUSTER the
      // survivors and prototype-prune against the retrained centroids —
      // the composed embedding-curation pipeline as one verdict table
      Similarity.d4Select(embs(s, dir))),
    "ivf_drift_embeddings" -> ((s: SparkSession, dir: String) => {
      // index-staleness monitoring: per-cell cohesion of a frozen index
      // (trained on the 3/4 "indexed" split) vs the arriving 1/4 batch
      val e = embs(s, dir)
      Similarity.ivfDrift(
        e.filter(col("vec_id") % 4 =!= 0),
        e.filter(col("vec_id") % 4 === 0))
    }),
    // -- corpus preparation (sampling / scrubbing / chunking / packing) --
    "sample_hash_documents" -> ((s: SparkSession, dir: String) =>
      Corpus.sampleByHash(docs(s, dir))),
    "sample_quality_documents" -> ((s: SparkSession, dir: String) =>
      // importance sampling: survival probability = quality score
      Corpus.sampleByQuality(docs(s, dir))),
    "redact_pii_documents" -> ((s: SparkSession, dir: String) =>
      Corpus.redactPii(docs(s, dir))),
    "chunk_documents" -> ((s: SparkSession, dir: String) =>
      Corpus.chunkDocuments(docs(s, dir))),
    "pack_greedy_documents" -> ((s: SparkSession, dir: String) =>
      Corpus.packGreedy(docs(s, dir), budgetTokens = PackBudgetTokens,
        shardsPerStratum = PackShards)),
    "mixture_schedule_documents" -> ((s: SparkSession, dir: String) =>
      // deterministic stride schedule: every training prefix sees
      // languages in their weight proportions, by construction
      Corpus.mixtureSchedule(docs(s, dir), ScheduleWeights,
        defaultWeight = MixtureDefaultWeight,
        budgetTokens = PackBudgetTokens, shardsPerStratum = PackShards)),
    "shuffle_blocks_documents" -> ((s: SparkSession, dir: String) =>
      // training-order shuffle: content-addressed permutation of the
      // packed blocks into (shard, pos) — the step between packing and
      // shard materialization; bucket-refined rank, no shard funnel
      Corpus.shuffleBlocks(docs(s, dir), nShards = PackShards)),
    "block_provenance_documents" -> ((s: SparkSession, dir: String) =>
      // per-block source attribution of the packed stream: the
      // data-card relation (which sources fed block X, at what token
      // share) — pack rows joined to (doc_id, source), one
      // (block, source) aggregate, share = exact longs divided once
      Corpus.blockProvenance(docs(s, dir))),
    "pack_sequences_documents" -> ((s: SparkSession, dir: String) =>
      // GPT-lineage concat-and-chunk: the trained-BPE token stream cut
      // into exact 512-token training blocks, docs splitting across
      // boundaries — global offsets via a two-level distributed scan
      Corpus.packSequences(docs(s, dir))),
    "trainer_order_documents" -> ((s: SparkSession, dir: String) =>
      // the composed trainer terminal: pack_sequences → shuffle_blocks
      // → stride schedule across the shard streams, as ONE relation —
      // the end-to-end (sched, shard, pos, block) order a trainer
      // reads, oracle-pinned so the stages cannot drift in composition
      Corpus.trainerOrder(docs(s, dir), nShards = PackShards)),
    "trainer_order_epoch_documents" -> ((s: SparkSession, dir: String) =>
      // epoch-2 read order: the epoch folds into the permutation salt —
      // a different deterministic shuffle of the identical block set
      // each epoch, reproducible for restarts (epoch 0 = the base key)
      Corpus.trainerOrder(docs(s, dir), nShards = PackShards,
        epoch = TrainerEpoch)),
    "curriculum_order_documents" -> ((s: SparkSession, dir: String) =>
      // curriculum read order (Bengio 2009): the trainer terminal with
      // each shard stream presenting its highest-quality blocks first
      // (token-weighted mean of the per-doc quality score); shard
      // assignment stays content-hashed, the WFQ schedule still
      // interleaves shards proportionally
      Corpus.curriculumOrder(docs(s, dir), nShards = PackShards)),
    "select_budget_documents" -> ((s: SparkSession, dir: String) =>
      // "best B tokens": greedy by quality score desc, boundary stratum
      // by doc_id — score-histogram classification, so only ONE score
      // stratum ever pays a per-row running sum
      Corpus.selectBudget(docs(s, dir))),
    "curate_bpe_documents" -> ((s: SparkSession, dir: String) =>
      // tokenizer-TRUE budget selection: same selection kernel, per-doc
      // cost = the trained BPE encode — the end-to-end proof that the
      // tokenizer artifact feeds the selection math
      Corpus.selectBudgetBpe(docs(s, dir))),
    "curate_documents" -> ((s: SparkSession, dir: String) =>
      // full pipeline: redact → quality-filter → dedup → sample
      Corpus.curate(docs(s, dir))),
    "curate_full_documents" -> ((s: SparkSession, dir: String) => {
      // the complete pipeline: redact → quality → dedup → decontaminate
      // (vs the every-97th-doc benchmark stand-in) → per-source cap
      val d = docs(s, dir)
      Corpus.curateFull(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0))
    }),
    "corpus_to_trainer_documents" -> ((s: SparkSession, dir: String) => {
      // the raw-corpus→training-order contract end to end: curate_full's
      // survivor set (BPE trained on the CURATED text) through pack →
      // shuffle → stride schedule, one pinned relation (r13 verdict #5)
      val d = docs(s, dir)
      Corpus.corpusToTrainer(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0),
        nShards = PackShards)
    }),
    "corpus_to_trainer_curriculum_documents" -> ((s: SparkSession, dir: String) => {
      // the end-to-end contract with the curriculum read order: block
      // difficulty scored on the CURATED text — a redaction or
      // survivor-set change moves boundaries AND scores
      val d = docs(s, dir)
      Corpus.corpusToTrainerCurriculum(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0),
        nShards = PackShards)
    }),
    "sample_stratified_documents" -> ((s: SparkSession, dir: String) =>
      // per-lang proportional content-addressed sample
      Corpus.sampleStratified(docs(s, dir), frac = StratifiedFrac)),
    "sample_temperature_documents" -> ((s: SparkSession, dir: String) =>
      // α=0.5 temperature rebalancing (XLM): per-lang quotas ∝ ⌊√n_l⌋,
      // all-integer, content-addressed selection within each language
      Corpus.sampleTemperature(docs(s, dir), budgetPct = TemperatureBudgetPct)),
    "segment_dedup_documents" -> ((s: SparkSession, dir: String) =>
      // C4-style global duplicate-segment removal (keep-first) with
      // document reassembly from the surviving segments
      Corpus.segmentDedup(docs(s, dir))),
    "split_assign_documents" -> ((s: SparkSession, dir: String) =>
      // deterministic content-addressed train/val/test assignment
      Corpus.assignSplits(docs(s, dir), SplitFracs)),
    "split_assign_clustered_documents" -> ((s: SparkSession, dir: String) => {
      // leakage guard: near-dup clusters split as a UNIT (the whole
      // component inherits its representative's content-addressed
      // split) — over the exact oracle-checkable pair set
      val d = docs(s, dir)
      Corpus.assignSplitsClustered(d,
        Dedup.ngramJaccardPairsExact(d, threshold = 0.1), SplitFracs)
    }),
    "mixture_sample_documents" -> ((s: SparkSession, dir: String) =>
      Corpus.sampleMixture(docs(s, dir), MixtureWeights, MixtureDefaultWeight)),
    "cap_per_source_documents" -> ((s: SparkSession, dir: String) =>
      // domain quota: at most 50 docs per source, lowest doc_ids win
      Corpus.capPerSource(docs(s, dir), maxDocs = 50)),
    "decontaminate_documents" -> ((s: SparkSession, dir: String) => {
      // benchmark stand-in: every 97th doc; corpus = the rest, minus
      // anything sharing an 8-gram with the benchmark
      val d = docs(s, dir)
      Corpus.decontaminate(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0))
    }),
    "contamination_score_documents" -> ((s: SparkSession, dir: String) => {
      // graded leakage: per-doc fraction of 8-grams present in the
      // benchmark (same corpus/benchmark split as decontaminate)
      val d = docs(s, dir)
      Corpus.contaminationScore(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0))
    }),
    "decontaminate_bloom_documents" -> ((s: SparkSession, dir: String) => {
      // same verdicts as decontaminate, bloom-pruned physics: one
      // fixed-size bitmap probe pass; only suspicious docs re-explode
      val d = docs(s, dir)
      Corpus.decontaminateBloom(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0))
    }),
    "quantize_embeddings" -> ((s: SparkSession, dir: String) =>
      Similarity.quantizeInt8(embs(s, dir))),
    "embedding_project_embeddings" -> ((s: SparkSession, dir: String) =>
      // Johnson–Lindenstrauss sign projection (Achlioptas 2003):
      // 64 -> RpOutDims dims as ONE codegen'd narrow projection — no
      // shuffle, no projection-matrix join; hash-seeded signs and
      // 6-dp micro-unit parts make it engine-reproducible exactly
      Similarity.randomProjection(embs(s, dir), RpOutDims)),
    "embedding_project_recall_embeddings" -> ((s: SparkSession, dir: String) => {
      // the projection's quality gate: per-probe recall@10 of exact
      // top-k retrieval in 16-dim projected space vs the full 64-dim
      // ground truth over the capped probe batch — the number that
      // decides whether the JL cut can prefilter the embedding family
      val e = embs(s, dir)
      val probes = probeBatch(e)
      Similarity.projectionRecall(e, probes, RpOutDims)
    }),
    "label_centroids_embeddings" -> ((s: SparkSession, dir: String) =>
      Similarity.labelCentroids(embs(s, dir))),
    "ivf_cell_stats_embeddings" -> ((s: SparkSession, dir: String) =>
      // index-balance diagnostics: per-cell size + member similarity
      Similarity.ivfCellStats(embs(s, dir))),
    // -- sessionize --
    "sessionize_events" -> ((s: SparkSession, dir: String) =>
      Sessionize.sessionize(Sources.table(s, dir, "events"))),
    "session_stats_events" -> ((s: SparkSession, dir: String) =>
      // engagement rollup: sessions → one-row summary, exact µs durations
      Sessionize.sessionStats(Sources.table(s, dir, "events"))),
    "analytics_small_lot_revenue" -> ((s: SparkSession, dir: String) =>
      // Q17 shape: decorrelated per-part average joined back on the key
      Analytics.smallLotRevenue(s, dir, SmallLotFrac)),
    // -- range join: concurrent-session pairs (interval overlap) --
    "range_join_sessions" -> ((s: SparkSession, dir: String) =>
      RangeJoin.sessionOverlaps(Sources.table(s, dir, "events"))),
    "join_skew_events" -> ((s: SparkSession, dir: String) => {
      // pre-flight for the session self-join above: per-user_id row
      // counts on both sides and the output rows each key produces
      val e = Sources.table(s, dir, "events")
      Analytics.joinSkewReport(e, e, "user_id", "user_id")
    }),
    // -- as-of join: each event enriched with the user's latest
    //    at-or-before purchase (point-in-time dimension lookup) --
    "asof_enrich_events" -> ((s: SparkSession, dir: String) => {
      val e = Sources.table(s, dir, "events")
        .select("event_id", "user_id", "ts", "event_type", "value")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
      AsOf.joinAsOf(e, purchases, Seq("user_id"), "ts", "ts", Seq("purchase_value"))
        .select("event_id", "user_id", "ts", "event_type", "purchase_value")
        .orderBy("event_id")
    }),
    // -- analytics pack (join/agg/window/json over the big tables) --
    "analytics_pricing_summary" -> ((s: SparkSession, dir: String) =>
      Analytics.pricingSummary(s, dir)),
    "analytics_regional_revenue" -> ((s: SparkSession, dir: String) =>
      Analytics.regionalRevenue(s, dir)),
    "analytics_top_customers" -> ((s: SparkSession, dir: String) =>
      Analytics.topCustomers(s, dir)),
    "analytics_order_priority_rank" -> ((s: SparkSession, dir: String) =>
      Analytics.orderPriorityRank(s, dir)),
    "analytics_event_props" -> ((s: SparkSession, dir: String) =>
      Analytics.eventProps(s, dir)),
    "analytics_supplier_volume" -> ((s: SparkSession, dir: String) =>
      Analytics.supplierVolume(s, dir)),
    "analytics_rollup_revenue" -> ((s: SparkSession, dir: String) =>
      // grouping-sets surface: detail + subtotal + total in ONE aggregate
      Analytics.rollupRevenue(s, dir)),
    "analytics_monthly_revenue" -> ((s: SparkSession, dir: String) =>
      Analytics.monthlyRevenue(s, dir)),
    "analytics_event_pivot" -> ((s: SparkSession, dir: String) =>
      // wide-format daily activity: explicit-values pivot, ONE aggregate
      Analytics.eventPivot(s, dir)),
    "analytics_dormant_customers" -> ((s: SparkSession, dir: String) =>
      // anti-join surface: customers with no order above the threshold
      Analytics.dormantCustomers(s, dir, DormantMinPrice)),
    "analytics_revenue_trend" -> ((s: SparkSession, dir: String) =>
      // frame-bounded window over the aggregated month domain
      Analytics.revenueTrend(s, dir, RevenueTrendWindow)),
    "analytics_revenue_forecast" -> ((s: SparkSession, dir: String) =>
      // TPC-H Q6 shape: the pure pushdown probe (3 scan predicates)
      Analytics.revenueForecast(s, dir)),
    "analytics_brand_leaders" -> ((s: SparkSession, dir: String) =>
      // constant-bound per-group top-k over the aggregated part domain
      Analytics.brandLeaders(s, dir)),
    "analytics_user_retention" -> ((s: SparkSession, dir: String) =>
      // day-over-day retention off one (day,user) distinct + self semi-join
      Analytics.userRetention(s, dir)),
    "analytics_event_funnel" -> ((s: SparkSession, dir: String) =>
      // strict-order signup→view→purchase conversion, one fact shuffle
      Analytics.eventFunnel(s, dir)),
    "analytics_trade_flows" -> ((s: SparkSession, dir: String) =>
      // Q7 shape: both dim chains resolved in one fact pass, dims broadcast
      Analytics.tradeFlows(s, dir)),
    "analytics_daily_anomaly" -> ((s: SparkSession, dir: String) =>
      // ingest drift monitor: z-scores from exact integer sums
      Analytics.dailyAnomaly(s, dir)),
    "analytics_event_transitions" -> ((s: SparkSession, dir: String) =>
      // Markov view: window-lead adjacency, one user-keyed shuffle
      Analytics.eventTransitions(s, dir)),
    "analytics_priority_fulfillment" -> ((s: SparkSession, dir: String) =>
      // Q4 shape: EXISTS as a left-semi join on the filtered minority
      Analytics.priorityFulfillment(s, dir)),
    "analytics_customer_segments" -> ((s: SparkSession, dir: String) =>
      // RFM segmentation vs the data-derived reference date
      Analytics.customerSegments(s, dir, SegmentActiveDays, SegmentBigSpend)),
    "lang_confusion_documents" -> ((s: SparkSession, dir: String) =>
      // language-metadata QA: declared vs predicted confusion matrix
      TextStats.langConfusion(docs(s, dir))),
    "pack_efficiency_documents" -> ((s: SparkSession, dir: String) =>
      // bin-fill report over the declared packing (bins → strata rollup)
      Corpus.packEfficiency(docs(s, dir), budgetTokens = PackBudgetTokens,
        shardsPerStratum = PackShards)),
    "winsorize_events" -> ((s: SparkSession, dir: String) =>
      Analytics.winsorize(s, dir)),
    // -- multimodal --
    "media_stats_documents" -> ((s: SparkSession, dir: String) =>
      Multimodal.mediaStats(Multimodal.asMediaTable(docs(s, dir)))),
    "media_resize_documents" -> ((s: SparkSession, dir: String) =>
      // metadata projection of the resize op (payload column excluded
      // from the compare; the byte work happens in mapPartitions)
      Multimodal.resize(Multimodal.asMediaTable(docs(s, dir)))
        .select(col("media_id"), col("media_type"),
          col("orig_bytes"), col("resized_bytes"))
        .orderBy("media_id")),
    "frame_sample_documents" -> ((s: SparkSession, dir: String) =>
      Multimodal.frameSample(Multimodal.asMediaTable(docs(s, dir)))
        .drop("frame_payload")),
    "multimodal_features_documents" -> ((s: SparkSession, dir: String) =>
      // REAL features over genuinely parsed container headers (the
      // former byte-hash stub is gone): one double column per feature,
      // so the oracle recomputes every value from the generator
      // formulas — no fixture needed anymore
      Multimodal.headerFeatures(Multimodal.asContainerTable(docs(s, dir)))),
    "media_decode_documents" -> ((s: SparkSession, dir: String) =>
      // REAL header decode: payloads are valid BMP/WAV/AVI containers
      // and the decoder parses magic + little-endian fields from the
      // bytes; the oracle recomputes the fields from the generator
      // formulas — a differential test of the parser
      Multimodal.decodeContainers(
        Multimodal.asContainerTable(docs(s, dir)))),
    "media_phash_pairs_documents" -> ((s: SparkSession, dir: String) =>
      // content-level image near-dup: perceptual average-hash over the
      // BMP payloads' PIXEL bytes (offset parsed from the real header),
      // hamming-banded pair join over the images-only fixture; the
      // oracle recomputes the hash from the generator's body bytes — a
      // differential test of the pixel walk
      Multimodal.phashPairs(Multimodal.asImageTable(docs(s, dir)))),
    "media_phash_png_pairs_documents" -> ((s: SparkSession, dir: String) =>
      // the COMPRESSED-format sibling (r16 verdict #6): each document
      // is wrapped as a REAL deflated PNG (per-row filters cycling
      // through all five types, real chunk CRCs), the engine INFLATES
      // and UNFILTERS the scanlines (pure-JVM decode of the public PNG
      // spec) and aHashes the DECODED pixels; the oracle recomputes
      // the expected pixels from the generator formula (text bytes
      // zero-padded to w·⌈len/w⌉) — a differential test of the whole
      // inflate + filter-reversal path, then the same banding plan
      Multimodal.phashPngPairs(Multimodal.asPngTable(docs(s, dir)))),
    "media_audiohash_pairs_documents" -> ((s: SparkSession, dir: String) =>
      // content-level AUDIO near-dup: sign-of-energy-delta hash over
      // the WAV payloads' parsed PCM bodies, banded pair join over the
      // audio-only fixture; the oracle recomputes the hash from the
      // generator's sample bytes — a differential test of the PCM walk
      Multimodal.audioHashPairs(Multimodal.asAudioTable(docs(s, dir)))),
    "media_videohash_pairs_documents" -> ((s: SparkSession, dir: String) =>
      // content-level VIDEO near-dup: temporal-brightness signature
      // over the AVI payloads' frame data (frame count parsed from the
      // avih header drives the slicing), banded pair join over the
      // video-only fixture; the oracle recomputes the hash from the
      // generator's frame formula — a differential test of the frame
      // walk, completing the image/audio/video content-dedup triple
      Multimodal.videoHashPairs(Multimodal.asVideoTable(docs(s, dir)))),
  )

  val oracleSql: Map[String, String] = Map(
    "text_stats_documents" ->
      s"""WITH t AS (SELECT lang, n_chars, $WsToksSql AS toks FROM documents)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |       sum(n_chars)::BIGINT AS sum_chars,
         |       sum(toks)::BIGINT AS sum_tokens,
         |       round(sum(n_chars)::DOUBLE / count(*), 4) AS avg_chars,
         |       round(sum(toks)::DOUBLE / count(*), 4) AS avg_tokens
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "token_count_documents" ->
      s"""SELECT doc_id, ($WsToksSql)::BIGINT AS ws_tokens,
         |  len(regexp_extract_all(text, '${TextStats.BpeTokenRegex.replace("\\", "\\")}'))::BIGINT AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "lang_id_documents" -> {
      val scores = TextStats.LangMarkers
        .map { case (l, ws) => s"(${likeScoreSql(ws)}) AS score_$l" }
        .mkString(", ")
      val maxExpr = TextStats.LangMarkers.map { case (l, _) => s"score_$l" }
        .mkString("GREATEST(", ", ", ")")
      val pick = TextStats.LangMarkers
        .map { case (l, _) => s"WHEN score_$l = m THEN '$l'" }.mkString(" ")
      s"""WITH s AS (SELECT doc_id, lang AS lang_declared, $scores FROM documents),
         |m AS (SELECT *, $maxExpr AS m FROM s)
         |SELECT doc_id, lang_declared,
         |       CASE WHEN m = 0 THEN 'und' $pick END AS lang_pred
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "quality_score_documents" -> {
      s"""WITH b AS (
         |  SELECT doc_id,
         |    $QualitySignalsSql
         |  FROM documents)
         |SELECT doc_id,
         |  round(punct / len, 4) AS punct_ratio,
         |  round(stops / toks, 4) AS stopword_ratio,
         |  round(len / toks, 4) AS avg_word_len,
         |  $QualityScoreSql AS quality_score
         |FROM b ORDER BY doc_id""".stripMargin
    },
    // Gopher rules: every decision compares an EXACT integer-ratio
    // division (IEEE-identical cross-engine); rounding is display-only.
    // Threshold constants interpolate from TextStats (no literal drift).
    "gopher_rules_documents" -> {
      // tokenized stop-word membership (the paper's semantics — "the,"
      // counts): letter-run tokens, one hit per stop word present
      val stopList =
        TextStats.GopherStopWords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH g AS (
         |  SELECT doc_id,
         |    ($WsToksSql)::BIGINT AS n_words,
         |    length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS n_nonws,
         |    len(regexp_extract_all(text, '#|\\.\\.\\.'))::DOUBLE AS n_sym,
         |    (CASE WHEN trim(text) = '' THEN 0 ELSE
         |      len(list_filter(string_split_regex(trim(text), '\\s+'),
         |          w -> regexp_matches(w, '[A-Za-z]'))) END)::BIGINT AS n_alpha,
         |    len(list_filter($stopList, sw -> list_contains(
         |      string_split_regex(lower(text), '[^a-z]+'), sw)))::BIGINT AS n_stops
         |  FROM documents),
         |v AS (SELECT doc_id, n_words, n_stops,
         |    CASE WHEN n_words = 0 THEN 0.0 ELSE n_nonws / n_words END AS mean_len,
         |    CASE WHEN n_words = 0 THEN 0.0 ELSE n_sym / n_words END AS sym_ratio,
         |    CASE WHEN n_words = 0 THEN 0.0 ELSE n_alpha::DOUBLE / n_words END AS alpha_frac
         |  FROM g),
         |f AS (SELECT doc_id, n_words, mean_len, sym_ratio, alpha_frac, n_stops,
         |    (CASE WHEN n_words BETWEEN ${TextStats.GopherMinWords}
         |          AND ${TextStats.GopherMaxWords} THEN 1 ELSE 0 END)::BIGINT AS pass_word_count,
         |    (CASE WHEN mean_len BETWEEN ${TextStats.GopherMinMeanWordLen}
         |          AND ${TextStats.GopherMaxMeanWordLen} THEN 1 ELSE 0 END)::BIGINT AS pass_word_len,
         |    (CASE WHEN sym_ratio <= ${TextStats.GopherMaxSymbolRatio} THEN 1 ELSE 0 END)::BIGINT AS pass_symbol,
         |    (CASE WHEN alpha_frac >= ${TextStats.GopherMinAlphaFrac} THEN 1 ELSE 0 END)::BIGINT AS pass_alpha,
         |    (CASE WHEN n_stops >= ${TextStats.GopherMinStopHits} THEN 1 ELSE 0 END)::BIGINT AS pass_stopwords
         |  FROM v)
         |SELECT doc_id, n_words,
         |  round(mean_len, 4) AS mean_word_len,
         |  round(sym_ratio, 4) AS symbol_ratio,
         |  round(alpha_frac, 4) AS alpha_frac,
         |  n_stops AS n_stop_hits,
         |  pass_word_count, pass_word_len, pass_symbol, pass_alpha, pass_stopwords,
         |  (pass_word_count * pass_word_len * pass_symbol * pass_alpha
         |   * pass_stopwords)::BIGINT AS keep
         |FROM f ORDER BY doc_id""".stripMargin
    },
    // DSIR: hashed-feature buckets via the hash64 replica over DISTINCT
    // features (buckets is a power of two, so unsigned `h % B` equals
    // the Spark side's signed pmod); add-1 smoothed log-ratio models;
    // mean per-feature ratio at the 4-dp float contract; top-k by the
    // exact integer floor k = n·pct/100, ties by doc_id
    "dsir_select_documents" -> {
      val b = Relevance.DsirBuckets
      val pct = Relevance.DsirSelectPct
      val q = Relevance.DsirTargetMinQuality
      s"""WITH ds_l AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS l
         |  FROM documents),
         |ds_qs AS (SELECT doc_id, $QualitySignalsSql FROM documents),
         |ds_q AS (SELECT doc_id,
         |    (CASE WHEN $QualityScoreSql >= $q THEN 1 ELSE 0 END)::BIGINT AS t
         |  FROM ds_qs),
         |ds_f AS (
         |  SELECT doc_id, unnest(l) AS feat FROM ds_l
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(range(1, len(l)),
         |      i -> l[i] || ' ' || l[i + 1])) AS feat
         |  FROM ds_l WHERE len(l) >= 2),
         |ds_dfeat AS (SELECT DISTINCT feat FROM ds_f),
         |${hash64Ctes("ds", "ds_dfeat", "feat")},
         |ds_bk AS (SELECT feat, (h % $b)::BIGINT AS bucket FROM ds_h64),
         |ds_s AS (SELECT f.doc_id, b.bucket, q.t
         |  FROM ds_f f JOIN ds_bk b USING (feat) JOIN ds_q q USING (doc_id)),
         |ds_m AS (SELECT bucket, count(*)::BIGINT AS cr, sum(t)::BIGINT AS ct
         |  FROM ds_s GROUP BY 1),
         |ds_t AS (SELECT sum(cr)::BIGINT AS tr, sum(ct)::BIGINT AS tt FROM ds_m),
         |ds_lr AS (SELECT bucket,
         |    ln((ct + 1)::DOUBLE / (tt + $b)) - ln((cr + 1)::DOUBLE / (tr + $b)) AS lr
         |  FROM ds_m CROSS JOIN ds_t),
         |ds_w AS (SELECT doc_id, count(*)::BIGINT AS n_feats, round(avg(lr), 4) AS w
         |  FROM ds_s JOIN ds_lr USING (bucket) GROUP BY 1),
         |ds_all AS (SELECT d.doc_id, COALESCE(w.n_feats, 0)::BIGINT AS n_feats,
         |    COALESCE(w.w, 0.0) AS w
         |  FROM documents d LEFT JOIN ds_w w USING (doc_id)),
         |ds_k AS (SELECT (count(*) * $pct) // 100 AS k FROM documents),
         |ds_h AS (SELECT w, count(*)::BIGINT AS n FROM ds_all GROUP BY 1),
         |ds_ha AS (SELECT w, COALESCE(sum(n) OVER (ORDER BY w DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above FROM ds_h),
         |ds_r AS (SELECT a.doc_id, a.n_feats, a.w, ha.above,
         |    row_number() OVER (PARTITION BY a.w ORDER BY a.doc_id) AS rn
         |  FROM ds_all a JOIN ds_ha ha ON ha.w = a.w)
         |SELECT doc_id, n_feats, w AS dsir_weight,
         |  (CASE WHEN above + rn <= (SELECT k FROM ds_k) THEN 1 ELSE 0 END)::BIGINT AS selected
         |FROM ds_r ORDER BY doc_id""".stripMargin
    },
    // trained quality classifier: the full gradient trajectory replayed
    // as unrolled CTE stages; output = all buckets (untouched at 0.0)
    // plus the bias at bucket -1 — fixed cardinality, ordered
    "quality_classifier_documents" -> {
      val b = Relevance.DsirBuckets
      val t = Relevance.ClfIterations
      s"""WITH ${clfTrainCtes(b, t, Relevance.ClfLearningRate,
             Relevance.DsirTargetMinQuality)},
         |clf_spine AS (SELECT unnest(range(0, $b)) AS bucket)
         |SELECT bucket, weight FROM (
         |  SELECT (-1)::BIGINT AS bucket, (SELECT bias FROM clf_b$t) AS weight
         |  UNION ALL
         |  SELECT s.bucket, coalesce(w.wt, 0.0) AS weight
         |  FROM clf_spine s LEFT JOIN clf_w$t w USING (bucket))
         |ORDER BY bucket""".stripMargin
    },
    // the classifier applied: 6-dp sigmoid score per doc + top-pct
    // selection on the score axis (the dsir histogram-rank tail)
    "classifier_select_documents" -> {
      val b = Relevance.DsirBuckets
      val t = Relevance.ClfIterations
      val pct = Relevance.ClfSelectPct
      s"""WITH ${clfTrainCtes(b, t, Relevance.ClfLearningRate,
             Relevance.DsirTargetMinQuality)},
         |clf_zf AS (SELECT x.doc_id,
         |    sum(CAST(round(x.x * w.wt, 6) AS DECIMAL(16,6))) AS zs,
         |    count(*)::BIGINT AS n_b
         |  FROM clf_x x JOIN clf_w$t w USING (bucket) GROUP BY 1),
         |clf_sc AS (SELECT q.doc_id, coalesce(z.n_b, 0)::BIGINT AS n_buckets,
         |    round(1.0 / (1.0 + exp(-(coalesce(z.zs::DOUBLE, 0.0)
         |      + (SELECT bias FROM clf_b$t)))), 6) AS clf_score
         |  FROM clf_q q LEFT JOIN clf_zf z USING (doc_id)),
         |clf_k AS (SELECT (count(*) * $pct) // 100 AS k FROM documents),
         |clf_h AS (SELECT clf_score, count(*)::BIGINT AS n FROM clf_sc GROUP BY 1),
         |clf_ha AS (SELECT clf_score, COALESCE(sum(n) OVER (ORDER BY clf_score DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above FROM clf_h),
         |clf_r AS (SELECT a.doc_id, a.n_buckets, a.clf_score, ha.above,
         |    row_number() OVER (PARTITION BY a.clf_score ORDER BY a.doc_id) AS rn
         |  FROM clf_sc a JOIN clf_ha ha ON ha.clf_score = a.clf_score)
         |SELECT doc_id, n_buckets, clf_score,
         |  (CASE WHEN above + rn <= (SELECT k FROM clf_k) THEN 1 ELSE 0 END)::BIGINT
         |    AS selected
         |FROM clf_r ORDER BY doc_id""".stripMargin
    },
    // train-once-apply-many for the classifier: the SAME gradient
    // trajectory restricted to even doc_ids (trainWhere), then the
    // frozen weights score the held-out odds — one margin aggregate,
    // no gradient stage over the scored docs
    "classifier_apply_documents" -> {
      val b = Relevance.DsirBuckets
      val t = Relevance.ClfIterations
      s"""WITH ${clfTrainCtes(b, t, Relevance.ClfLearningRate,
             Relevance.DsirTargetMinQuality, "doc_id % 2 = 0")},
         |ca_z AS (SELECT x.doc_id,
         |    sum(CAST(round(x.x * w.wt, 6) AS DECIMAL(16,6))) AS zs,
         |    count(*)::BIGINT AS n_b
         |  FROM clf_x x JOIN clf_w$t w USING (bucket)
         |  WHERE x.doc_id % 2 = 1 GROUP BY 1)
         |SELECT d.doc_id, coalesce(z.n_b, 0)::BIGINT AS n_buckets,
         |  round(1.0 / (1.0 + exp(-(coalesce(z.zs::DOUBLE, 0.0)
         |    + (SELECT bias FROM clf_b$t)))), 6) AS clf_score
         |FROM documents d LEFT JOIN ca_z z USING (doc_id)
         |WHERE d.doc_id % 2 = 1
         |ORDER BY d.doc_id""".stripMargin
    },
    // token-budget selection: same quality fragment, histogram-classified
    // strata, per-row running sum ONLY inside the boundary stratum
    "select_budget_documents" -> {
      val budget = Corpus.SelectBudgetTokens
      s"""WITH b AS (
         |  SELECT doc_id, lang, source,
         |    $QualitySignalsSql,
         |    ($WsToksSql)::BIGINT AS n_tokens
         |  FROM documents),
         |q AS (SELECT doc_id, lang, source, n_tokens,
         |    $QualityScoreSql AS quality_score
         |  FROM b),
         |h AS (SELECT quality_score, sum(n_tokens)::BIGINT AS t FROM q GROUP BY 1),
         |hc AS (SELECT quality_score, t,
         |    coalesce(sum(t) OVER (ORDER BY quality_score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS above
         |  FROM h),
         |j AS (SELECT q.*, hc.t, hc.above FROM q JOIN hc USING (quality_score)),
         |bnd AS (SELECT doc_id, lang, source, quality_score, n_tokens, above,
         |    sum(n_tokens) OVER (PARTITION BY quality_score ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM j WHERE above < $budget AND above + t >= $budget)
         |SELECT doc_id, lang, source, quality_score, n_tokens
         |FROM j WHERE above < $budget AND above + t < $budget
         |UNION ALL
         |SELECT doc_id, lang, source, quality_score, n_tokens
         |FROM bnd WHERE above + cum - n_tokens < $budget
         |ORDER BY doc_id""".stripMargin
    },
    "fingerprint_documents" ->
      s"SELECT doc_id, md5($NormSql) AS fingerprint FROM documents ORDER BY doc_id",
    "token_freq_documents" ->
      s"""WITH tk AS (${tokSql("doc_id")})
         |SELECT term AS token, count(*)::BIGINT AS n FROM tk
         |GROUP BY term ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "mixture_sample_documents" -> {
      // generated from the SAME weights + threshold encoding as the plan
      val baseCase = MixtureWeights
        .map { case (s, w) => s"WHEN '$s' THEN ${math.floor(w).toInt}" }
        .mkString(" ")
      val thrCase = MixtureWeights
        .map { case (s, w) =>
          s"WHEN '$s' THEN '${Corpus.fracThresholdHex(w - math.floor(w))}'" }
        .mkString(" ")
      val d = MixtureDefaultWeight
      s"""WITH w AS (SELECT doc_id, source, text,
         |  CASE source $baseCase ELSE ${math.floor(d).toInt} END AS base,
         |  CASE source $thrCase ELSE '${Corpus.fracThresholdHex(d - math.floor(d))}' END AS thr
         |  FROM documents),
         |c AS (SELECT doc_id, source,
         |        base + CASE WHEN substr(md5(text), 1, 8) < thr THEN 1 ELSE 0 END AS copies
         |      FROM w)
         |SELECT doc_id, source, unnest(range(0, copies))::BIGINT AS copy_idx
         |FROM c WHERE copies > 0 ORDER BY doc_id, copy_idx""".stripMargin
    },
    "repetition_score_documents" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ws
        |  FROM documents)
        |SELECT doc_id, len(ws)::BIGINT AS n_words,
        |  (CASE WHEN len(ws) >= 3 THEN len(ws) - 2 ELSE 0 END)::BIGINT AS n_grams,
        |  (CASE WHEN len(ws) >= 3 THEN
        |    len(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                       for i in range(1, len(ws) - 1)]))
        |   ELSE 0 END)::BIGINT AS n_distinct,
        |  CASE WHEN len(ws) >= 3 THEN
        |    round(1.0 - len(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                                   for i in range(1, len(ws) - 1)]))::DOUBLE
        |                / (len(ws) - 2), 4)
        |  ELSE 0.0 END AS repetition
        |FROM w ORDER BY doc_id""".stripMargin,
    "bigram_freq_documents" ->
      """WITH w AS (SELECT
        |  list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ws
        |  FROM documents),
        |b AS (SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS bigram
        |      FROM w WHERE len(ws) >= 2)
        |SELECT bigram, count(*)::BIGINT AS n FROM b
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    // BPE merge table: the m rounds unroll as CTE stages over the
    // word-TYPE table (never the corpus). Per stage: overlapping
    // adjacent-pair counts weighted by word count, argmax by
    // (count DESC, left, right) — binary collation == Java String
    // order on this [a-z</w>]* symbol domain — then the greedy
    // left-to-right merge as a string fold: appending `r` WITHOUT the
    // chr(31) separator fuses it onto the trailing `l`, and a fused
    // symbol can never immediately re-merge because that would need
    // `l || r = l` (an empty r). Engine loop in Bpe.bpeVocab is the
    // identical algorithm; a stage with no pairs left yields no row on
    // either side.
    "bpe_vocab_documents" -> {
      val m = Bpe.DefaultMerges
      val unions = (1 to m).map(i =>
        s"""SELECT $i::BIGINT AS merge_rank, l AS "left", r AS "right",
           |  l || r AS merged, c AS pair_count FROM bp_b$i""".stripMargin)
        .mkString("\n UNION ALL\n")
      s"""WITH ${bpeTrainCtes(m)}
         |$unions
         |ORDER BY merge_rank""".stripMargin
    },
    // encode = the SAME training CTE chain (merge winners bp_b1..m),
    // applied over ALL word types (the top-V bound limits TRAINING
    // memory, not encode coverage) by a parallel ap_v fold chain; a
    // LEFT JOIN ON TRUE keeps types alive through an exhausted (empty)
    // merge stage, mirroring the engine's fold over ≤ m trained merges
    "bpe_encode_documents" ->
      s"""WITH ${bpeEncodeCtes(Bpe.DefaultMerges)}
         |SELECT doc_id, n_words, bpe_tokens FROM en_t
         |ORDER BY doc_id""".stripMargin,
    // fertility: the SAME encode chain collapsed per language — BIGINT
    // sums, 4-dp ratios (the accepted half-ulp rounding class)
    "tokenizer_fertility_documents" ->
      s"""WITH ${bpeEncodeCtes(Bpe.DefaultMerges)},
         |tfj AS (SELECT d.lang, e.n_words, e.bpe_tokens, d.n_chars
         |  FROM en_t e JOIN documents d ON d.doc_id = e.doc_id)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(n_words)::BIGINT AS n_words,
         |  sum(bpe_tokens)::BIGINT AS bpe_tokens,
         |  sum(n_chars)::BIGINT AS n_chars,
         |  CASE WHEN sum(n_words) = 0 THEN 0.0
         |       ELSE round(sum(bpe_tokens)::DOUBLE / sum(n_words), 4)
         |       END AS fertility,
         |  CASE WHEN sum(bpe_tokens) = 0 THEN 0.0
         |       ELSE round(sum(n_chars)::DOUBLE / sum(bpe_tokens), 4)
         |       END AS chars_per_token
         |FROM tfj GROUP BY lang ORDER BY lang""".stripMargin,
    // the exported token stream: the SAME encode chain's per-type
    // symbol lists (ap_v{m+1}), joined to the ORDERED word occurrences
    // and exploded with ordinality; pos = per-doc row_number over
    // (word index, symbol index) − 1
    "bpe_tokens_documents" -> {
      val m = Bpe.DefaultMerges
      s"""WITH ${bpeEncodeCtes(m)},
         |tk_ws AS (SELECT doc_id,
         |    string_split_regex(lower(text), '[^a-z]+') AS ws
         |  FROM documents),
         |tk_occ AS (SELECT doc_id, widx, w FROM (
         |    SELECT doc_id, u['widx'] AS widx, u['w'] AS w FROM (
         |      SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
         |        i -> struct_pack(widx := i, w := ws[i]))) AS u
         |      FROM tk_ws))
         |  WHERE w <> ''),
         |tk_tok AS (SELECT doc_id, widx, v['sidx'] AS sidx,
         |    v['token'] AS token FROM (
         |    SELECT o.doc_id AS doc_id, o.widx AS widx,
         |      unnest(list_transform(range(1, len(t.syms) + 1),
         |        j -> struct_pack(sidx := j, token := t.syms[j]))) AS v
         |    FROM tk_occ o JOIN ap_v${m + 1} t ON t.word = o.w))
         |SELECT doc_id,
         |  (row_number() OVER (PARTITION BY doc_id ORDER BY widx, sidx)
         |    - 1)::BIGINT AS pos,
         |  token
         |FROM tk_tok
         |ORDER BY doc_id, pos""".stripMargin
    },
    // concat-and-chunk pack map: the encode chain's per-doc BPE totals
    // (en_t), a plain global window prefix-sum (the oracle may be
    // sequential — the ENGINE's two-level scan must only match it),
    // and a generate_series explode over each doc's block span
    "pack_sequences_documents" -> {
      val L = Corpus.PackBlockTokens
      s"""WITH ${bpeEncodeCtes(Bpe.DefaultMerges)},
         |${packCtes(L)}
         |SELECT doc_id, block_id::BIGINT AS block_id,
         |  (greatest(off, block_id * $L) - block_id * $L)::BIGINT AS off_in_block,
         |  (least(off + c, (block_id + 1) * $L)
         |    - greatest(off, block_id * $L))::BIGINT AS n_tokens
         |FROM ps_s
         |ORDER BY doc_id, block_id""".stripMargin
    },
    // per-block source provenance: the pack chain joined to the
    // (doc_id, source) projection, per-(block, source) counts, share =
    // one double division of exact longs over the per-block window sum
    "block_provenance_documents" -> {
      val L = Corpus.PackBlockTokens
      s"""WITH ${bpeEncodeCtes(Bpe.DefaultMerges)},
         |${packCtes(L)},
         |bp_r AS (SELECT p.doc_id, d.source, p.block_id::BIGINT AS block_id,
         |    (least(p.off + p.c, (p.block_id + 1) * $L)
         |      - greatest(p.off, p.block_id * $L))::BIGINT AS n_tokens
         |  FROM ps_s p JOIN documents d USING (doc_id)),
         |bp AS (SELECT block_id, source, count(*)::BIGINT AS n_segments,
         |    sum(n_tokens)::BIGINT AS n_tokens
         |  FROM bp_r GROUP BY block_id, source)
         |SELECT block_id, source, n_segments, n_tokens,
         |  n_tokens / (sum(n_tokens) OVER (PARTITION BY block_id)) AS token_share
         |FROM bp ORDER BY block_id, source""".stripMargin
    },
    // training-order shuffle: the pack chain's block rows keyed by the
    // masked-non-negative hash64 of 'blk:'||block_id; the oracle keeps
    // the straightforward per-shard window rank (the engine's
    // bucket-refined rank must only MATCH it)
    "shuffle_blocks_documents" -> {
      val L = Corpus.PackBlockTokens
      val S = PackShards
      s"""WITH ${bpeEncodeCtes(Bpe.DefaultMerges)},
         |${packCtes(L)},
         |sb_r AS (SELECT doc_id, block_id::BIGINT AS block_id,
         |    (least(off + c, (block_id + 1) * $L)
         |      - greatest(off, block_id * $L))::BIGINT AS n_tokens
         |  FROM ps_s),
         |sb_blk AS (SELECT block_id, count(*)::BIGINT AS n_docs,
         |    sum(n_tokens)::BIGINT AS n_tokens
         |  FROM sb_r GROUP BY block_id),
         |sb_s AS (SELECT DISTINCT 'blk:' || block_id::VARCHAR AS s FROM sb_blk),
         |${hash64Ctes("sbk", "sb_s", "s")},
         |sb_k AS (SELECT b.block_id, b.n_docs, b.n_tokens,
         |    (h % 9223372036854775808::UHUGEINT)::BIGINT AS k
         |  FROM sb_blk b JOIN sbk_h64 ON sbk_h64.s = 'blk:' || b.block_id::VARCHAR)
         |SELECT block_id, n_docs, n_tokens, (k % $S)::BIGINT AS shard,
         |  (row_number() OVER (PARTITION BY k % $S ORDER BY k, block_id)
         |    - 1)::BIGINT AS pos
         |FROM sb_k ORDER BY block_id""".stripMargin
    },
    // composed trainer terminal: the shuffle_blocks chain verbatim,
    // then the stride/WFQ schedule across shard streams with weights
    // ∝ stream length — (2·pos+1)/(2·c) is one double division of
    // exact longs on both engines, the mixture_schedule convention
    "trainer_order_documents" -> {
      val L = Corpus.PackBlockTokens
      s"""WITH ${bpeEncodeCtes(Bpe.DefaultMerges)},
         |${packCtes(L)},
         |${trainerOrderTail(L, PackShards, "blk:")}""".stripMargin
    },
    // per-epoch reshuffle: the same chain with the epoch folded into
    // the hash salt — a DIFFERENT deterministic permutation over the
    // IDENTICAL block set each epoch (what an SGD training loop
    // re-draws between epochs; epoch 0 is the historical salt, so the
    // base key and anchors are untouched)
    "trainer_order_epoch_documents" -> {
      val L = Corpus.PackBlockTokens
      s"""WITH ${bpeEncodeCtes(Bpe.DefaultMerges)},
         |${packCtes(L)},
         |${trainerOrderTail(L, PackShards, Corpus.epochSalt(TrainerEpoch))}""".stripMargin
    },
    // curriculum read order: the trainer chain with per-shard position
    // ordered by token-weighted mean quality DESC (easy first) instead
    // of the hash permutation; q_mass = Σ round(q·10⁴)·n_tokens is an
    // exact BIGINT and the ordering key is one double division of
    // exact longs (the sched_key portability convention). Shard
    // assignment keeps the content hash.
    "curriculum_order_documents" -> {
      val L = Corpus.PackBlockTokens
      s"""WITH ${bpeEncodeCtes(Bpe.DefaultMerges)},
         |${packCtes(L)},
         |${curriculumTail(L, PackShards, "documents")}""".stripMargin
    },
    // curated corpus -> CURRICULUM order, end to end: the corpus_to_trainer
    // contract with the quality-descending read order — difficulty is
    // scored on the CURATED text (the units the trainer sees), so a
    // redaction or survivor change moves boundaries AND scores
    "corpus_to_trainer_curriculum_documents" -> {
      val L = Corpus.PackBlockTokens
      s"""WITH $CurateFullCtes,
         |ctt AS MATERIALIZED (SELECT doc_id, clean_text AS text FROM cap WHERE rn <= 50),
         |${bpeEncodeCtes(Bpe.DefaultMerges, "ctt")},
         |${packCtes(L)},
         |${curriculumTail(L, PackShards, "ctt")}""".stripMargin
    },
    // tokenizer-TRUE budget selection: the select_budget chain with the
    // per-doc cost swapped from the ws proxy to the trained BPE encode
    // (the full en_t CTE chain) — budgets spent in training-run units
    "curate_bpe_documents" -> {
      val budget = Corpus.SelectBudgetBpeTokens
      s"""WITH ${bpeEncodeCtes(Bpe.DefaultMerges)},
         |cb_b AS (
         |  SELECT doc_id, lang, source,
         |    $QualitySignalsSql
         |  FROM documents),
         |cb_q AS (SELECT cb_b.doc_id, lang, source, en_t.bpe_tokens AS n_tokens,
         |    $QualityScoreSql AS quality_score
         |  FROM cb_b JOIN en_t ON cb_b.doc_id = en_t.doc_id),
         |cb_h AS (SELECT quality_score, sum(n_tokens)::BIGINT AS t
         |  FROM cb_q GROUP BY 1),
         |cb_hc AS (SELECT quality_score, t,
         |    coalesce(sum(t) OVER (ORDER BY quality_score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS above
         |  FROM cb_h),
         |cb_j AS (SELECT cb_q.*, cb_hc.t, cb_hc.above
         |  FROM cb_q JOIN cb_hc USING (quality_score)),
         |cb_bnd AS (SELECT doc_id, lang, source, quality_score, n_tokens, above,
         |    sum(n_tokens) OVER (PARTITION BY quality_score ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM cb_j WHERE above < $budget AND above + t >= $budget)
         |SELECT doc_id, lang, source, quality_score, n_tokens
         |FROM cb_j WHERE above < $budget AND above + t < $budget
         |UNION ALL
         |SELECT doc_id, lang, source, quality_score, n_tokens
         |FROM cb_bnd WHERE above + cum - n_tokens < $budget
         |ORDER BY doc_id""".stripMargin
    },
    // boilerplate detector: the SAME gram CTEs as the n-gram dedup
    // family (grams are per-doc distinct in `g`, so count(*) over `e`
    // IS the document frequency)
    "boilerplate_ngrams_documents" ->
      s"""WITH $NgramBaseCtes
         |SELECT gram, count(*)::BIGINT AS doc_freq FROM e
         |GROUP BY gram HAVING count(*) >= $BoilerplateMinDocs
         |ORDER BY doc_freq DESC, gram LIMIT $BoilerplateTopN""".stripMargin,
    // pairwise containment at the segment_dedup granularity: distinct
    // (source, 10-word segment) sets self-joined on the segment value;
    // group expansion bounded by source cardinality, never the corpus
    "source_overlap_documents" ->
      s"""WITH $SegmentCtes,
         |sv_g AS (SELECT DISTINCT source, seg FROM seg
         |  WHERE seg IS NOT NULL AND seg <> ''),
         |sv_u AS (SELECT source, count(*)::BIGINT AS n_unique_a FROM sv_g GROUP BY source),
         |sv_p AS (SELECT a.source AS source_a, b.source AS source_b,
         |    count(*)::BIGINT AS n_shared
         |  FROM sv_g a JOIN sv_g b ON a.seg = b.seg AND a.source <> b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, n_shared, n_unique_a,
         |  round(n_shared::DOUBLE / n_unique_a, 4) AS containment
         |FROM sv_p JOIN sv_u ON sv_u.source = sv_p.source_a
         |ORDER BY source_a, source_b""".stripMargin,
    "source_dup_stats_documents" ->
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  count(DISTINCT md5($NormSql))::BIGINT AS n_unique,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  round(1.0 - count(DISTINCT md5($NormSql))::DOUBLE / count(*), 4) AS dup_rate
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // contamination score: the same gram CTEs as decontaminate (the
    // Spark side counts distinct gram HASHES, the oracle the gram
    // strings — identical short of 2^-64 collisions), LEFT-joined so
    // every corpus doc keeps a row with its hit count
    "contamination_score_documents" -> {
      val n = 8
      def grams(src: String) =
        s"""SELECT doc_id, unnest(
           |  CASE WHEN len(words) < $n THEN [array_to_string(words, ' ')]
           |       ELSE list_distinct(list_transform(range(1, len(words) - ${n - 2}),
           |            i -> array_to_string(words[i:i+${n - 1}], ' '))) END) AS gram
           |FROM (SELECT doc_id, string_split($NormSql, ' ') AS words FROM $src)""".stripMargin
      s"""WITH corp AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
         |bench AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
         |bg AS (SELECT DISTINCT gram FROM (${grams("bench")})),
         |cg AS (${grams("corp")})
         |SELECT cg.doc_id, count(*)::BIGINT AS n_grams,
         |  sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
         |  round(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |        / count(*), 4) AS contamination
         |FROM cg LEFT JOIN bg ON cg.gram = bg.gram
         |GROUP BY cg.doc_id ORDER BY doc_id""".stripMargin
    },
    "corpus_summary_documents" ->
      s"""SELECT count(*)::BIGINT AS n_docs,
         |  count(DISTINCT source)::BIGINT AS n_sources,
         |  count(DISTINCT lang)::BIGINT AS n_langs,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  count(DISTINCT md5($NormSql))::BIGINT AS n_unique_texts,
         |  round(1.0 - count(DISTINCT md5($NormSql))::DOUBLE / count(*), 4) AS dup_rate
         |FROM documents ORDER BY n_docs""".stripMargin,
    // KMV bottom-k distinct sketch, engine-exact: the u mapping keeps
    // only the top 53 bits of hash64 (exact in DOUBLE on both engines),
    // so DuckDB reaches the identical bottom-k set and estimate. <k
    // distinct hashes → exact count; else ⌊(k−1)/u_k⌋. Quantiles are
    // the exact rank-off-histogram kernel (length_quantiles contract).
    "corpus_summary_approx_documents" -> {
      val k = TextStats.KmvK
      // per-domain CTE chain: distinct values → hash64 → u → bottom-k → estimate
      def kmv(prefix: String, valueSql: String): String =
        s"""${prefix}_v AS (SELECT DISTINCT $valueSql AS v FROM documents
           |    WHERE $valueSql IS NOT NULL),
           |${hash64Ctes(prefix, s"${prefix}_v", "v")},
           |${prefix}_u AS (SELECT DISTINCT (h // 2048)::DOUBLE / 9007199254740992.0 AS u
           |    FROM ${prefix}_h64),
           |${prefix}_k AS (SELECT u FROM ${prefix}_u ORDER BY u LIMIT $k),
           |${prefix}_e AS (SELECT CASE WHEN count(*) < $k THEN count(*)::BIGINT
           |    ELSE floor(${k - 1}::DOUBLE / max(u))::BIGINT END AS est FROM ${prefix}_k)""".stripMargin
      s"""WITH ${kmv("ks", "source")},
         |${kmv("kl", "lang")},
         |${kmv("kf", s"md5($NormSql)")},
         |sc AS (SELECT count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
         |    FROM documents),
         |hh AS (SELECT n_chars, count(*)::BIGINT AS c FROM documents GROUP BY 1),
         |hc AS (SELECT n_chars,
         |      sum(c) OVER (ORDER BY n_chars
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
         |      sum(c) OVER () AS n FROM hh),
         |qq AS (SELECT
         |      min(CASE WHEN cm >= ceil(n * 0.5) THEN n_chars END)::BIGINT AS p50_chars,
         |      min(CASE WHEN cm >= ceil(n * 0.95) THEN n_chars END)::BIGINT AS p95_chars
         |    FROM hc)
         |SELECT sc.n_docs, ks_e.est AS n_sources_approx, kl_e.est AS n_langs_approx,
         |  sc.sum_chars, kf_e.est AS n_unique_texts_approx,
         |  qq.p50_chars, qq.p95_chars,
         |  round(1.0 - kf_e.est::DOUBLE / sc.n_docs, 4) AS dup_rate_approx
         |FROM sc, ks_e, kl_e, kf_e, qq ORDER BY n_docs""".stripMargin
    },
    // per-column profile: one aggregate select per column, UNION ALL —
    // counts exact, min/max rendered as strings (binary collation both
    // engines; the declared key profiles integer/string columns only)
    "profile_documents" -> {
      def pc(c: String): String =
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
           |  (count(*) - count($c))::BIGINT AS n_nulls,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  min($c)::VARCHAR AS min_value, max($c)::VARCHAR AS max_value
           |FROM documents""".stripMargin
      Seq("doc_id", "text", "lang", "source", "n_chars")
        .map(pc).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "length_histogram_documents" ->
      s"""WITH t AS (SELECT ($WsToksSql)::BIGINT AS toks FROM documents)
         |SELECT LEAST(CAST(floor(toks / 32) AS BIGINT), 15) AS bucket,
         |  count(*)::BIGINT AS n_docs,
         |  sum(toks)::BIGINT AS total_tokens,
         |  round(avg(toks::DOUBLE), 4) AS avg_tokens
         |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin,
    "length_quantiles_documents" ->
      """WITH h AS (SELECT lang, n_chars, count(*)::BIGINT AS c FROM documents GROUP BY 1, 2),
        |cum AS (SELECT lang, n_chars, c,
        |          sum(c) OVER (PARTITION BY lang ORDER BY n_chars
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
        |        FROM h),
        |n AS (SELECT lang, sum(c)::BIGINT AS n_docs FROM h GROUP BY 1)
        |SELECT lang, max(n_docs)::BIGINT AS n_docs,
        |  min(CASE WHEN cm >= ceil(n_docs * 0.25) THEN n_chars END)::BIGINT AS p25,
        |  min(CASE WHEN cm >= ceil(n_docs * 0.5) THEN n_chars END)::BIGINT AS p50,
        |  min(CASE WHEN cm >= ceil(n_docs * 0.75) THEN n_chars END)::BIGINT AS p75,
        |  min(CASE WHEN cm >= ceil(n_docs * 0.95) THEN n_chars END)::BIGINT AS p95
        |FROM cum JOIN n USING (lang) GROUP BY lang ORDER BY lang""".stripMargin,
    // unigram LM: vocab membership and counts are exact integers; the
    // score is a 4-dp-rounded mean of ln(exact ratio) — the same
    // cross-engine float contract as tfidf/avg_tokens
    "unigram_logprob_documents" ->
      s"""WITH tk AS (${tokSql("doc_id")}),
         |cnt AS (SELECT term, count(*)::BIGINT AS cnt FROM tk GROUP BY 1),
         |tot AS (SELECT sum(cnt)::BIGINT AS total FROM cnt),
         |voc AS (SELECT term, cnt FROM (
         |    SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rn
         |    FROM cnt)
         |  WHERE rn <= $UnigramVocabSize),
         |sc AS (SELECT tk.doc_id,
         |         ln(COALESCE(voc.cnt, 1)::DOUBLE / tot.total) AS lp,
         |         CASE WHEN voc.cnt IS NULL THEN 1 ELSE 0 END AS oov
         |       FROM tk LEFT JOIN voc ON tk.term = voc.term CROSS JOIN tot)
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |  sum(oov)::BIGINT AS n_oov,
         |  round(avg(lp), 4) AS logprob
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // bigram LM with stupid backoff: pairs built list-wise (same
    // 1-based adjacency as the Spark transform), model tables cut by
    // the same total orders, every probability a ratio of exact
    // integers (or BackoffAlpha times one); mean at 4 dp
    "bigram_logprob_documents" -> {
      s"""WITH ${bigramLmCtes()}
         |SELECT d.doc_id,
         |  len(list_filter(string_split_regex(lower(d.text), '[^a-z]+'), x -> x <> ''))::BIGINT
         |    AS n_tokens,
         |  COALESCE(a.n_bigrams, 0)::BIGINT AS n_bigrams,
         |  COALESCE(a.n_backoff, 0)::BIGINT AS n_backoff,
         |  COALESCE(a.logprob, 0.0) AS logprob
         |FROM documents d LEFT JOIN bl_agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // frozen-model apply: the SAME chain with the model CTEs trained
    // on the even doc_ids and the scored pairs from the odd docs —
    // a differential test of the engine's codegen'd JVM scorer
    // against the exploded-join evaluation, model frozen on both sides
    "bigram_apply_documents" ->
      s"""WITH ${bigramLmCtes(
             modelWhere = "doc_id % 2 = 0", scoreWhere = "doc_id % 2 = 1")}
         |SELECT d.doc_id,
         |  len(list_filter(string_split_regex(lower(d.text), '[^a-z]+'), x -> x <> ''))::BIGINT
         |    AS n_tokens,
         |  COALESCE(a.n_bigrams, 0)::BIGINT AS n_bigrams,
         |  COALESCE(a.n_backoff, 0)::BIGINT AS n_backoff,
         |  COALESCE(a.logprob, 0.0) AS logprob
         |FROM (SELECT * FROM documents WHERE doc_id % 2 = 1) d
         |LEFT JOIN bl_agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // CCNet terciles: rank within language by (logprob desc, doc_id) —
    // the oracle's per-lang row_number IS the engine's histogram
    // classification's defining rule (wholesale strata + boundary
    // ranks reproduce exactly this rank assignment)
    "perplexity_buckets_documents" ->
      s"""WITH ${bigramLmCtes()},
         |px_s AS (SELECT d.doc_id, COALESCE(d.lang, '') AS lang,
         |      COALESCE(a.logprob, 0.0) AS logprob
         |    FROM documents d LEFT JOIN bl_agg a USING (doc_id)),
         |px_n AS (SELECT lang, count(*)::BIGINT AS n_lang,
         |    CAST(floor(count(*) / 3.0) AS BIGINT) AS k FROM px_s GROUP BY 1),
         |px_r AS (SELECT s.doc_id, s.lang, s.logprob,
         |    row_number() OVER (PARTITION BY s.lang
         |      ORDER BY s.logprob DESC, s.doc_id) AS rk,
         |    n.n_lang, n.k
         |  FROM px_s s JOIN px_n n USING (lang))
         |SELECT doc_id, lang, logprob,
         |  CASE WHEN rk <= k THEN 'head'
         |       WHEN rk <= n_lang - k THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM px_r ORDER BY doc_id""".stripMargin,
    // TF-IDF: every intermediate (tf, df, N) is an exact integer; the
    // score is one multiply of one ln() rounded at 4 dp — cross-engine
    // deterministic like the cosine/jaccard families
    "tfidf_top_terms_documents" ->
      s"""WITH tk AS (${tokSql("doc_id, lang")}),
         |tf AS (SELECT lang, term, count(*)::BIGINT AS tf FROM tk GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tk GROUP BY 1),
         |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         |s AS (SELECT tf.lang, tf.term, tf.tf, df.df,
         |        round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 4) AS score
         |      FROM tf JOIN df USING (term) CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY lang ORDER BY score DESC, term) AS rank FROM s)
         |SELECT lang, rank, term, tf, df, score FROM r
         |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    "bm25_search_documents" -> {
      val terms = Bm25QueryTerms.map(t => s"'$t'").mkString(", ")
      val k1p1 = Relevance.K1 + 1.0
      val oneMinusB = 1.0 - Relevance.B
      s"""WITH tk AS (${tokSql("doc_id")}),
         |hits AS (SELECT * FROM tk WHERE term IN ($terms)),
         |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM hits GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM hits GROUP BY 1),
         |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tk GROUP BY 1),
         |c AS (SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         |             -- avgdl over ALL docs (letterless docs count with
         |             -- dl 0), matching the Spark side's denominator
         |             (SELECT COALESCE((SELECT sum(dl) FROM dl), 0)::DOUBLE /
         |              (SELECT count(*) FROM documents)) AS avgdl)
         |SELECT doc_id,
         |  round(sum(ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5)) *
         |    tf.tf * $k1p1 / (tf.tf + ${Relevance.K1} *
         |      ($oneMinusB + ${Relevance.B} * dl.dl / c.avgdl))), 4) AS bm25
         |FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN c
         |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin
    },
    // dynamic-terms BM25: the VALUES CTE replicates the Spark side's
    // query-log hygiene (lower, tokenizer-domain filter, dedup); the
    // per-doc score folds a term-ORDERED list so the summation order
    // matches the Spark sorted-array fold exactly
    "bm25_search_terms_documents" -> {
      val vals = Bm25DynamicRawTerms.map(t => s"('$t')").mkString(", ")
      val k1p1 = Relevance.K1 + 1.0
      val oneMinusB = 1.0 - Relevance.B
      s"""WITH rawq(term) AS (VALUES $vals),
         |q AS (SELECT DISTINCT lower(term) AS term FROM rawq
         |      WHERE regexp_full_match(lower(term), '[a-z]+')),
         |tk AS (${tokSql("doc_id")}),
         |hits AS (SELECT tk.doc_id, tk.term FROM tk JOIN q USING (term)),
         |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM hits GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM hits GROUP BY 1),
         |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tk GROUP BY 1),
         |c AS (SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         |             (SELECT COALESCE((SELECT sum(dl) FROM dl), 0)::DOUBLE /
         |              (SELECT count(*) FROM documents)) AS avgdl),
         |s AS (SELECT tf.doc_id, tf.term,
         |        ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5)) *
         |        tf.tf * $k1p1 / (tf.tf + ${Relevance.K1} *
         |          ($oneMinusB + ${Relevance.B} * dl.dl / c.avgdl)) AS s
         |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN c)
         |SELECT doc_id, round(list_sum(list(s ORDER BY term)), 4) AS bm25
         |FROM s GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin
    },
    // exact n-gram Jaccard: same normalization, shingling (ShingleN),
    // frequency cap (MaxBucket) and threshold as the Spark plan. The
    // Spark side compares 64-bit gram hashes, the oracle the gram
    // strings themselves — identical Jaccard short of 2^-64 collisions.
    "dedup_ngram_pairs_documents" ->
      s"""WITH $NgramPairCtes
         |SELECT doc_id_a, doc_id_b, exact_jaccard FROM j
         |WHERE exact_jaccard >= 0.1 ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "dedup_ngram_prefix_pairs_documents" ->
      s"""WITH $NgramAllPairsCtes
         |SELECT doc_id_a, doc_id_b, exact_jaccard FROM j
         |WHERE exact_jaccard >= 0.6 ORDER BY doc_id_a, doc_id_b""".stripMargin,
    // transitive closure of the SAME exact pair set: min reachable
    // doc_id per doc ≡ GraphX connectedComponents' min-vertex label
    "dedup_cluster_exact_documents" ->
      s"""WITH RECURSIVE $NgramPairCtes,
         |p AS (SELECT doc_id_a, doc_id_b FROM j WHERE exact_jaccard >= 0.1),
         |edges AS (SELECT doc_id_a AS a, doc_id_b AS b FROM p
         |          UNION ALL SELECT doc_id_b, doc_id_a FROM p),
         |walk(doc_id, reach) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT wk.doc_id, e2.b FROM walk wk JOIN edges e2 ON wk.reach = e2.a)
         |SELECT doc_id, min(reach)::BIGINT AS cluster_id
         |FROM walk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // keep-best-quality cluster dedup: the SAME pair set + recursive
    // closure as dedup_cluster_exact, then per-cluster max 4-dp quality
    // (discrete, so the max-equality join is exact) with min-doc_id ties
    "dedup_cluster_keep_quality_documents" ->
      s"""WITH RECURSIVE $NgramPairCtes,
         |p AS (SELECT doc_id_a, doc_id_b FROM j WHERE exact_jaccard >= 0.1),
         |edges AS (SELECT doc_id_a AS a, doc_id_b AS b FROM p
         |          UNION ALL SELECT doc_id_b, doc_id_a FROM p),
         |walk(doc_id, reach) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT wk.doc_id, e2.b FROM walk wk JOIN edges e2 ON wk.reach = e2.a),
         |cl AS (SELECT doc_id, min(reach)::BIGINT AS cluster_id
         |       FROM walk GROUP BY doc_id),
         |kq_b AS (SELECT doc_id, lang, source, $QualitySignalsSql FROM documents),
         |kq_q AS (SELECT doc_id, lang, source,
         |    $QualityScoreSql AS quality_score FROM kq_b),
         |kq_j AS (SELECT c.doc_id, c.cluster_id, q.lang, q.source, q.quality_score
         |         FROM cl c JOIN kq_q q USING (doc_id)),
         |kq_m AS (SELECT cluster_id, count(*)::BIGINT AS n_members,
         |                max(quality_score) AS quality_score
         |         FROM kq_j GROUP BY 1),
         |kq_r AS (SELECT j.cluster_id, min(j.doc_id)::BIGINT AS doc_id
         |         FROM kq_j j JOIN kq_m m ON j.cluster_id = m.cluster_id
         |           AND j.quality_score = m.quality_score
         |         GROUP BY 1)
         |SELECT r.doc_id, j.lang, j.source, r.cluster_id,
         |       m.n_members, m.quality_score
         |FROM kq_r r
         |JOIN kq_m m ON m.cluster_id = r.cluster_id
         |JOIN kq_j j ON j.doc_id = r.doc_id
         |ORDER BY r.doc_id""".stripMargin,
    // winnowing shared-passage pairs: hash64 kernel replicated per
    // distinct char-gram, signed min ≡ JVM Long min, value-set selection
    "dedup_winnow_pairs_documents" ->
      s"""WITH ${winnowPairCtes(graft.functions.Hashing.WinnowK, graft.functions.Hashing.WinnowW)}
         |SELECT doc_id_a, doc_id_b, n_shared FROM wn_pairs
         |WHERE n_shared >= $WinnowMinShared
         |ORDER BY n_shared DESC, doc_id_a, doc_id_b""".stripMargin,
    // exact-substring dedup: the oracle keys gram occurrences by the
    // gram STRING where the engine keys by its 64-bit hash — identical
    // up to 2^-64 collisions (the repo's established hash-approximation
    // tolerance); first occurrence = lexicographic min (doc_id, pos).
    // Survivor text: per-character covered marking (a char is cut iff
    // some non-first duplicated-gram window [pos, pos+k) contains it),
    // which equals the engine's interval-merge fold by construction.
    "dedup_substring_documents" -> substrDedupOracle,
    // the hash-range-partitioned execution must be BIT-IDENTICAL to the
    // single-sort plan (the union over ranges of per-range non-first
    // duplicated positions is the global set — grouping key h never
    // crosses ranges), so the oracle is the same text verbatim
    "dedup_substring_ranged_documents" -> substrDedupOracle,
    // hyperplane-LSH near-dup pairs: the seeded plane matrix is emitted
    // into the SQL as literals (same constants as the codegen'd kernel),
    // so banding, candidates, and cosine verify all replicate exactly
    "dedup_embedding_pairs_embeddings" -> {
      val sk = sketchSql("embedding", 64, 32)
      val bandKeys = (0 until 4).map(i => s"((sk >> ${i * 8}) & 255)")
        .mkString("[", ", ", "]")
      val cap = Dedup.MaxBucket
      s"""WITH s AS (SELECT vec_id, $sk AS sk FROM embeddings),
         |b AS (SELECT vec_id, unnest([0, 1, 2, 3]) AS band,
         |             unnest($bandKeys) AS bkey FROM s),
         |big AS (SELECT band, bkey FROM b GROUP BY band, bkey HAVING count(*) > $cap),
         |bb AS (SELECT b.* FROM b WHERE NOT EXISTS (
         |       SELECT 1 FROM big WHERE big.band = b.band AND big.bkey = b.bkey)),
         |c AS (SELECT DISTINCT a.vec_id AS vec_id_a, b2.vec_id AS vec_id_b
         |      FROM bb a JOIN bb b2 ON a.band = b2.band AND a.bkey = b2.bkey
         |                          AND a.vec_id < b2.vec_id),
         |j AS (SELECT vec_id_a, vec_id_b,
         |        ${cosSql("ea.embedding", "eb.embedding", 64)} AS cos
         |      FROM c JOIN embeddings ea ON ea.vec_id = c.vec_id_a
         |             JOIN embeddings eb ON eb.vec_id = c.vec_id_b)
         |SELECT vec_id_a, vec_id_b, round(cos, 6) AS cosine FROM j
         |WHERE cos >= 0.3 ORDER BY vec_id_a, vec_id_b""".stripMargin
    },
    // LSH-bucketed ANN top-k: probe sketch + hamming prune + exact
    // cosine, all replicated from the same plane constants
    "similarity_ann_embeddings" -> {
      val sk = sketchSql("embedding", 64, 16)
      val psk = sketchSql("pe", 64, 16)
      s"""WITH p AS (SELECT embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 1),
         |pp AS (SELECT pe, $psk AS psk FROM p),
         |s AS (SELECT vec_id, label, embedding, $sk AS sk FROM embeddings),
         |j AS (SELECT s.vec_id, s.label,
         |        ${cosSql("s.embedding", "pp.pe", 64)} AS cos
         |      FROM s, pp WHERE bit_count(xor(s.sk, pp.psk)) <= 3)
         |SELECT vec_id, label, round(cos, 6) AS cosine FROM j
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
    },
    // brute-force cosine top-k against the min-vec_id probe: per-element
    // double accumulation mirrors the codegen'd kernel; 6-dp rounding on
    // both sides absorbs summation-order ulps (same recipe as quantize)
    "similarity_topk_embeddings" ->
      """WITH p AS (SELECT embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 1),
        |u AS (SELECT vec_id,
        |        unnest(embedding)::DOUBLE AS v,
        |        unnest((SELECT pe FROM p))::DOUBLE AS pv
        |      FROM embeddings),
        |s AS (SELECT vec_id, sum(v * pv) AS dp,
        |        sum(v * v) AS na, sum(pv * pv) AS nb
        |      FROM u GROUP BY vec_id)
        |SELECT e.vec_id, e.label,
        |  round(CASE WHEN s.na = 0 OR s.nb = 0 THEN 0 ELSE s.dp / sqrt(s.na * s.nb) END, 6)
        |    AS cosine
        |FROM s JOIN embeddings e USING (vec_id)
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    // seed-centroid IVF: centroids = first 16 vectors by vec_id (pure
    // SQL); assignment argmin, probe-list ranking and final ranking all
    // at 6 dp with id tie-breaks, mirroring ivfSeedTopK step for step
    // PQ: the full chain replicated — seed sub-codebooks (first ksub
    // vectors' slices), per-subspace 6-dp L2 argmin encode (ties by
    // code), probe ADC table with 6-dp parts, DECIMAL(16,6) per-vector
    // sums (order-independent), cosine-of-reconstruction at 6 dp.
    // list_sum over list_transform(range(...)) accumulates in index
    // order, matching the JVM i-ascending loops (the cosSql contract).
    "similarity_pq_embeddings" -> s"""WITH $PqProbeCte,
         |${pqScoreCtes("embeddings")}
         |SELECT s.vec_id, s.label,
         |  CASE WHEN s.sqs = 0 OR q.qn = 0 THEN 0.0
         |    ELSE round(s.dots::DOUBLE / (q.qn * sqrt(s.sqs::DOUBLE)), 6)
         |  END AS pq_cosine
         |FROM pq_s s, pq_q q
         |ORDER BY pq_cosine DESC, vec_id LIMIT 10""".stripMargin,
    "similarity_pq_recall_embeddings" -> s"""WITH $PqProbeCte,
         |${pqScoreCtes("embeddings")},
         |pq_top AS (SELECT s.vec_id,
         |    CASE WHEN s.sqs = 0 OR q.qn = 0 THEN 0.0
         |      ELSE round(s.dots::DOUBLE / (q.qn * sqrt(s.sqs::DOUBLE)), 6)
         |    END AS pq_cosine
         |  FROM pq_s s, pq_q q
         |  ORDER BY pq_cosine DESC, vec_id LIMIT ${Similarity.RecallK}),
         |pq_brute AS (SELECT e.vec_id
         |  FROM embeddings e, pq_p pp
         |  ORDER BY round(${cosSql("e.embedding", "pp.pe", 64)}, 6) DESC, e.vec_id
         |  LIMIT ${Similarity.RecallK})
         |SELECT ${Similarity.RecallK} AS k, count(*)::BIGINT AS n_hits,
         |  round(count(*) / ${Similarity.RecallK}.0, 4) AS recall_at_10
         |FROM pq_top JOIN pq_brute USING (vec_id)
         |ORDER BY k""".stripMargin,
    // IVF-PQ with re-ranking: the cosine-argmax cell assignment +
    // probe-cell CTEs of the ivf oracle feed the PQ scoring chain
    // (codebooks stay FULL-table — restriction must not move the
    // quantizer), whose shortlist the exact-cosine kernel re-ranks
    "similarity_ivfpq_embeddings" ->
      s"""WITH $PqProbeCte,
         |ipq_cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         |         ORDER BY vec_id LIMIT 16),
         |ipq_a AS (SELECT e.vec_id, e.label, e.embedding, c.cid,
         |        round(${cosSql("e.embedding", "c.cvec", 64)}, 6) AS d
         |      FROM embeddings e CROSS JOIN ipq_cent c),
         |ipq_asg AS (SELECT vec_id, label, embedding FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
         |        FROM ipq_a) WHERE rn = 1 AND cid IN (
         |          SELECT cid FROM (
         |            SELECT c.cid, round(${cosSql("c.cvec", "pp.pe", 64)}, 6) AS sim
         |            FROM ipq_cent c, pq_p pp)
         |          ORDER BY sim DESC, cid LIMIT 4)),
         |${pqScoreCtes("ipq_asg")},
         |ipq_short AS (SELECT vec_id FROM (
         |    SELECT s.vec_id,
         |      CASE WHEN s.sqs = 0 OR q.qn = 0 THEN 0.0
         |        ELSE round(s.dots::DOUBLE / (q.qn * sqrt(s.sqs::DOUBLE)), 6)
         |      END AS pq_cosine
         |    FROM pq_s s, pq_q q
         |    ORDER BY pq_cosine DESC, vec_id LIMIT ${Similarity.IvfPqShortlist}))
         |SELECT e.vec_id, e.label,
         |  round(${cosSql("e.embedding", "pp2.pe", 64)}, 6) AS cosine
         |FROM embeddings e JOIN ipq_short USING (vec_id), pq_p pp2
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    // batch kNN join: the similarity_ivf CTE chain with the single
    // literal probe generalized to a probe TABLE — per-probe cell
    // ranking and final top-k as row_number windows partitioned by
    // probe_id, every comparison at 6 dp with id tie-breaks
    "similarity_knn_join_embeddings" ->
      s"""WITH kp AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
         |    WHERE vec_id % $KnnProbeModulus = 0
         |    ORDER BY vec_id LIMIT $KnnProbeLimit),
         |$knnCoreCtes,
         |kc AS (SELECT pr.probe_id, a.vec_id, a.label,
         |      round(${cosSql("a.embedding", "p.pe", 64)}, 6) AS cosine
         |    FROM kasg a JOIN kpr pr ON a.cid = pr.cid
         |                JOIN kp p ON p.probe_id = pr.probe_id)
         |SELECT probe_id, vec_id, label, cosine FROM (
         |  SELECT kc.*, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cosine DESC, vec_id) AS rn FROM kc)
         |WHERE rn <= 10
         |ORDER BY probe_id, cosine DESC, vec_id""".stripMargin,
    // kNN graph: the knn_join CTE chain with the probe table widened
    // to the whole corpus, a self-exclusion filter on the candidates,
    // and the rank cut at KnnGraphK
    "knn_graph_embeddings" ->
      s"""WITH $knnGraphCtes
         |SELECT probe_id, vec_id, label, cosine FROM kg
         |ORDER BY probe_id, cosine DESC, vec_id""".stripMargin,
    // NN-Descent refinement round: the knn_graph chain as a CTE, its
    // edges self-joined two hops out (self excluded), union with the
    // direct edges, DISTINCT candidates re-scored exact and re-ranked
    "knn_graph_refine_embeddings" ->
      s"""WITH $knnGraphCtes,
         |${refineRoundCtes("kg", "1")}
         |SELECT probe_id, vec_id, label, cosine FROM g1
         |ORDER BY probe_id, cosine DESC, vec_id""".stripMargin,
    // iterated NN-Descent: the knn_graph chain once, then the
    // two-hop/re-score/top-k round UNROLLED once per round over the
    // previous round's edges — the Lloyd/LR/label-prop trajectory
    // oracle recipe applied to graph refinement
    "knn_graph_refine_iter_embeddings" -> {
      val roundCtes = (1 to RefineRounds).map(r =>
        refineRoundCtes(if (r == 1) "kg" else s"g${r - 1}", r.toString))
        .mkString(",\n")
      s"""WITH $knnGraphCtes,
         |$roundCtes
         |SELECT probe_id, vec_id, label, cosine FROM g$RefineRounds
         |ORDER BY probe_id, cosine DESC, vec_id""".stripMargin
    },
    // incremental graph append: the oracle IS the full-rebuild text of
    // the knn_graph key (the key's split keeps every seed vertex in
    // base, so the frozen quantizer equals the union's and the
    // incremental fold is bit-identical to the rebuild — the k-max
    // property top-k(top-k(A) ∪ B) = top-k(A ∪ B) under the family's
    // total order makes the affected-vertex re-rank exact)
    "knn_graph_append_embeddings" ->
      s"""WITH $knnGraphCtes
         |SELECT probe_id, vec_id, label, cosine FROM kg
         |ORDER BY probe_id, cosine DESC, vec_id""".stripMargin,
    // clustered-graph maintenance: the same rebuild text — the key's
    // two appends + re-delivery through the persisted layout must be
    // bit-identical to the from-scratch graph over the union
    "knn_graph_appended_embeddings" ->
      s"""WITH $knnGraphCtes
         |SELECT probe_id, vec_id, label, cosine FROM kg
         |ORDER BY probe_id, cosine DESC, vec_id""".stripMargin,
    // graph-walk retrieval: the knn_graph chain once (the frozen edge
    // table), then the beam-search round — one hop over the beam's
    // edges, union with the beam, exact re-score, per-probe top-beam —
    // UNROLLED once per hop (the trajectory-oracle recipe); the beam
    // seeds from the quantizer's landmark vertices (kcent)
    "graph_search_embeddings" -> graphSearchOracle("kg", ""),
    // HNSW descent: one prefixed graph chain + one beam-stage block per
    // layer (top entry = the top layer's minimum id), then the base
    // layer's stage over the shared kg — every layer's quantizer, walk
    // depth, and tie-breaks replicated exactly
    "graph_search_hnsw_embeddings" -> {
      def mod(l: Int) = math.pow(HnswRatio.toDouble, l.toDouble).toLong
      val layerCtes = (HnswLevels to 1 by -1)
        .map(l => knnGraphCtesFor(s"h$l", mod(l)))
        .mkString(",\n")
      val descent = (HnswLevels to 1 by -1).map { l =>
        val entry = if (l == HnswLevels) "htop" else s"h${l + 1}out"
        beamStageCtes(s"h$l", s"h${l}kgm", entry, HnswUpperBeam,
          HnswUpperRounds) + ",\n" +
          s"h${l}out AS (SELECT probe_id, vec_id FROM h${l}gs$HnswUpperRounds)"
      }.mkString(",\n")
      s"""WITH gp AS (SELECT vec_id AS probe_id, embedding AS gpe FROM embeddings
         |    WHERE vec_id % $KnnProbeModulus = 0
         |    ORDER BY vec_id LIMIT $KnnProbeLimit),
         |$layerCtes,
         |$knnGraphCtes,
         |htop AS (SELECT g.probe_id, t.vec_id FROM gp g CROSS JOIN
         |  (SELECT min(vec_id) AS vec_id FROM h${HnswLevels}src) t),
         |$descent,
         |${beamStageCtes("h0", "kg", "h1out", GraphSearchBeam, GraphSearchRounds)}
         |SELECT probe_id, vec_id, label, cosine FROM h0gs$GraphSearchRounds
         |ORDER BY probe_id, cosine DESC, vec_id""".stripMargin
    },
    // layered-hierarchy maintenance: the oracle is the FULL REBUILD of
    // every layer over the union corpus — base = the knn_graph chain,
    // each upper layer = its prefixed subset chain + landmark star
    // (h{l}kgm) — so the hash pins the key's two appends + re-delivery
    // through the persisted per-layer artifacts bit-identical to
    // rebuild-over-union PER LAYER
    "hnsw_appended_embeddings" -> {
      def mod(l: Int) = math.pow(HnswRatio.toDouble, l.toDouble).toLong
      val layerCtes = (1 to HnswLevels)
        .map(l => knnGraphCtesFor(s"h$l", mod(l)))
        .mkString(",\n")
      val uppers = (1 to HnswLevels).map(l =>
        s"UNION ALL SELECT $l AS layer, probe_id, vec_id, label, cosine " +
          s"FROM h${l}kgm").mkString("\n")
      s"""WITH $layerCtes,
         |$knnGraphCtes
         |SELECT 0 AS layer, probe_id, vec_id, label, cosine FROM kg
         |$uppers
         |ORDER BY layer, probe_id, cosine DESC, vec_id""".stripMargin
    },
    // the cell-restricted serving face: same walk, but the edge CTE is
    // filtered to the probe batch's probed cells (gpr = per-probe
    // nProbe nearest centroids over gp, kgr = edges whose OWNING
    // vertex's kasg cell is probed) — the engine's PartitionFilters
    // restriction replicated as a WHERE
    "graph_search_clustered_embeddings" -> graphSearchOracle("kgr",
      s""",
         |gpr AS (SELECT probe_id, cid FROM (
         |    SELECT g.probe_id, c.cid,
         |      row_number() OVER (PARTITION BY g.probe_id
         |        ORDER BY round(${cosSql("c.cvec", "g.gpe", 64)}, 6) DESC, c.cid) AS rn
         |    FROM kcent c CROSS JOIN gp g) WHERE rn <= 4),
         |kgr AS (SELECT kg.probe_id, kg.vec_id FROM kg
         |  JOIN kasg a ON a.vec_id = kg.probe_id
         |  WHERE a.cid IN (SELECT DISTINCT cid FROM gpr))""".stripMargin),
    // label propagation: the knn_graph chain wrapped as a CTE, then
    // per-(vertex, label) DECIMAL(16,6)-exact vote sums and the
    // aggregate argmax (max vote join + min label at the max)
    "label_propagation_embeddings" ->
      s"""WITH $knnGraphCtes,
         |lv AS (SELECT probe_id AS vec_id, label AS pred_label,
         |    sum(CAST(cosine AS DECIMAL(16,6))) AS vote_w,
         |    count(*)::BIGINT AS n_votes
         |  FROM kg GROUP BY 1, 2),
         |lbest AS (SELECT vec_id, max(vote_w) AS maxw FROM lv GROUP BY 1),
         |lwin AS (SELECT lv.vec_id, min(pred_label) AS pred_label
         |  FROM lv JOIN lbest ON lv.vec_id = lbest.vec_id AND lv.vote_w = lbest.maxw
         |  GROUP BY 1),
         |lfin AS (SELECT w.vec_id, w.pred_label, lv.vote_w, lv.n_votes
         |  FROM lwin w JOIN lv ON lv.vec_id = w.vec_id AND lv.pred_label = w.pred_label)
         |SELECT e.vec_id, e.label, f.pred_label, f.vote_w::DOUBLE AS vote_w,
         |  coalesce(f.n_votes, 0)::BIGINT AS n_votes,
         |  coalesce(f.pred_label = e.label, false) AS agrees
         |FROM embeddings e LEFT JOIN lfin f USING (vec_id)
         |ORDER BY vec_id""".stripMargin,
    // iterated label propagation: the knn_graph chain once (frozen
    // graph), then the vote/argmax/carry-forward stages UNROLLED once
    // per round — the Lloyd/LR-trajectory oracle recipe applied to
    // propagation; round r votes with l{r-1}'s labels
    "label_propagation_iter_embeddings" -> {
      val roundCtes = (1 to LabelPropRounds).map { r =>
        s"""lv$r AS (SELECT kg.probe_id AS vec_id, l.cur AS pred_label,
           |    sum(CAST(kg.cosine AS DECIMAL(16,6))) AS vote_w,
           |    count(*)::BIGINT AS n_votes
           |  FROM kg JOIN l${r - 1} l ON kg.vec_id = l.vec_id GROUP BY 1, 2),
           |lb$r AS (SELECT vec_id, max(vote_w) AS maxw FROM lv$r GROUP BY 1),
           |lw$r AS (SELECT lv.vec_id, min(pred_label) AS pred_label
           |  FROM lv$r lv JOIN lb$r b
           |    ON lv.vec_id = b.vec_id AND lv.vote_w = b.maxw
           |  GROUP BY 1),
           |l$r AS (SELECT l.vec_id, coalesce(w.pred_label, l.cur) AS cur
           |  FROM l${r - 1} l LEFT JOIN lw$r w USING (vec_id))""".stripMargin
      }.mkString(",\n")
      val R = LabelPropRounds
      s"""WITH $knnGraphCtes,
         |l0 AS (SELECT vec_id, label AS cur FROM embeddings),
         |$roundCtes,
         |lfin AS (SELECT w.vec_id, w.pred_label, lv.vote_w, lv.n_votes
         |  FROM lw$R w JOIN lv$R lv
         |    ON lv.vec_id = w.vec_id AND lv.pred_label = w.pred_label)
         |SELECT e.vec_id, e.label, f.pred_label, f.vote_w::DOUBLE AS vote_w,
         |  coalesce(f.n_votes, 0)::BIGINT AS n_votes,
         |  coalesce(f.pred_label = e.label, false) AS agrees
         |FROM embeddings e LEFT JOIN lfin f USING (vec_id)
         |ORDER BY vec_id""".stripMargin
    },
    // hard-negative mining: the knn_join CTE chain with the anchor's
    // label carried into kp and a label <> probe_label filter on the
    // candidate set before the per-probe rank window
    "hard_negatives_embeddings" ->
      s"""WITH kp AS (SELECT vec_id AS probe_id, label AS probe_label,
         |      embedding AS pe FROM embeddings
         |    WHERE vec_id % $KnnProbeModulus = 0
         |    ORDER BY vec_id LIMIT $KnnProbeLimit),
         |$knnCoreCtes,
         |kc AS (SELECT pr.probe_id, p.probe_label, a.vec_id, a.label,
         |      round(${cosSql("a.embedding", "p.pe", 64)}, 6) AS cosine
         |    FROM kasg a JOIN kpr pr ON a.cid = pr.cid
         |                JOIN kp p ON p.probe_id = pr.probe_id
         |    WHERE a.label <> p.probe_label)
         |SELECT probe_id, probe_label, vec_id, label, cosine FROM (
         |  SELECT kc.*, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cosine DESC, vec_id) AS rn FROM kc)
         |WHERE rn <= 10
         |ORDER BY probe_id, cosine DESC, vec_id""".stripMargin,
    // leave-one-out kNN classification: the knn_join CTE chain with a
    // vec_id <> probe_id exclusion, then one vote aggregate per probe
    // (majority label, smallest label breaking ties)
    "knn_classify_embeddings" ->
      s"""WITH kp AS (SELECT vec_id AS probe_id, label AS probe_label,
         |      embedding AS pe FROM embeddings
         |    WHERE vec_id % $KnnProbeModulus = 0
         |    ORDER BY vec_id LIMIT $KnnProbeLimit),
         |$knnCoreCtes,
         |kn AS (SELECT probe_id, probe_label, vec_id, label FROM (
         |    SELECT pr.probe_id, p.probe_label, a.vec_id, a.label,
         |      row_number() OVER (PARTITION BY pr.probe_id
         |        ORDER BY round(${cosSql("a.embedding", "p.pe", 64)}, 6) DESC,
         |          a.vec_id) AS rn
         |    FROM kasg a JOIN kpr pr ON a.cid = pr.cid
         |                JOIN kp p ON p.probe_id = pr.probe_id
         |    WHERE a.vec_id <> pr.probe_id) WHERE rn <= 10),
         |kv AS (SELECT probe_id, probe_label, label,
         |      count(*)::BIGINT AS n_votes
         |    FROM kn GROUP BY 1, 2, 3)
         |SELECT probe_id, probe_label, label AS predicted_label, n_votes,
         |  (CASE WHEN label = probe_label THEN 1 ELSE 0 END)::BIGINT AS correct
         |FROM (SELECT kv.*, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY n_votes DESC, label) AS rn FROM kv)
         |WHERE rn = 1
         |ORDER BY probe_id""".stripMargin,
    // batch kNN join through the PRODUCTION stack: the knn_join CTE
    // chain composed with the ivfpq scoring chain generalized per
    // probe — PQ codes once per candidate vector (kenc over the
    // union-of-probed-cells restriction, matching the engine's cached
    // `assigned`), ADC parts 6-dp per (probe, j, code), DECIMAL(16,6)
    // per-(probe, vec) sums, shortlist + exact re-rank as per-probe
    // row_number windows with the family's id tie-breaks
    "similarity_knn_join_pq_embeddings" ->
      s"""WITH $knnPqCtes
         |SELECT probe_id, vec_id, label, cosine FROM (
         |  SELECT kfin.*, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cosine DESC, vec_id) AS rn FROM kfin)
         |WHERE rn <= 10
         |ORDER BY probe_id, cosine DESC, vec_id""".stripMargin,
    // per-probe recall@10 of the production stack vs brute force: the
    // PQ top-10 (the kfin window, k = RecallK) intersects each probe's
    // exact top-10 over the same capped batch; probes with an empty
    // intersection still emit a row (LEFT JOIN, 0 hits)
    "similarity_knn_join_recall_embeddings" ->
      s"""WITH $knnPqCtes,
         |kr_pq AS (SELECT probe_id, vec_id FROM (
         |    SELECT kfin.*, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cosine DESC, vec_id) AS rn FROM kfin)
         |  WHERE rn <= ${Similarity.RecallK}),
         |kr_ex AS (SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, e.vec_id,
         |      row_number() OVER (PARTITION BY p.probe_id
         |        ORDER BY round(${cosSql("p.pe", "e.embedding", 64)}, 6) DESC,
         |          e.vec_id) AS rn
         |    FROM embeddings e CROSS JOIN kp p)
         |  WHERE rn <= ${Similarity.RecallK}),
         |kr_h AS (SELECT q.probe_id, count(*)::BIGINT AS n_hits
         |    FROM kr_pq q JOIN kr_ex x
         |      ON x.probe_id = q.probe_id AND x.vec_id = q.vec_id
         |    GROUP BY 1)
         |SELECT p.probe_id, COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
         |  round(COALESCE(h.n_hits, 0) / ${Similarity.RecallK}.0, 4) AS recall_at_10
         |FROM kp p LEFT JOIN kr_h h ON h.probe_id = p.probe_id
         |ORDER BY p.probe_id""".stripMargin,
    "similarity_ivf_embeddings" ->
      s"""WITH p AS (SELECT embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 1),
         |cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         |         ORDER BY vec_id LIMIT 16),
         |a AS (SELECT e.vec_id, e.label, e.embedding, c.cid,
         |        round(${cosSql("e.embedding", "c.cvec", 64)}, 6) AS d
         |      FROM embeddings e CROSS JOIN cent c),
         |asg AS (SELECT vec_id, label, embedding, cid FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
         |        FROM a) WHERE rn = 1),
         |pr AS (SELECT cid FROM (
         |        SELECT c.cid, round(${cosSql("c.cvec", "pp.pe", 64)}, 6) AS sim
         |        FROM cent c, p pp)
         |       ORDER BY sim DESC, cid LIMIT 4),
         |cand AS (SELECT * FROM asg WHERE cid IN (SELECT cid FROM pr))
         |SELECT vec_id, label, round(${cosSql("cand.embedding", "pp2.pe", 64)}, 6) AS cosine
         |FROM cand, p pp2 ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    // recall@10: both sides (LSH-pruned ANN, brute-force) are already
    // oracle-expressible — their join puts a hard number on the
    // approximation and fails the gate if sketch pruning ever degrades
    // seed-IVF recall: the IVF top-10 CTE chain (identical to
    // similarity_ivf's oracle) joined against exact brute-force top-10
    "similarity_ivf_recall_embeddings" ->
      s"""WITH p AS (SELECT embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 1),
         |cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         |         ORDER BY vec_id LIMIT 16),
         |a AS (SELECT e.vec_id, e.embedding, c.cid,
         |        round(${cosSql("e.embedding", "c.cvec", 64)}, 6) AS d
         |      FROM embeddings e CROSS JOIN cent c),
         |asg AS (SELECT vec_id, embedding, cid FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
         |        FROM a) WHERE rn = 1),
         |pr AS (SELECT cid FROM (
         |        SELECT c.cid, round(${cosSql("c.cvec", "pp.pe", 64)}, 6) AS sim
         |        FROM cent c, p pp)
         |       ORDER BY sim DESC, cid LIMIT 4),
         |cand AS (SELECT * FROM asg WHERE cid IN (SELECT cid FROM pr)),
         |ivf AS (SELECT vec_id FROM (
         |        SELECT vec_id, round(${cosSql("cand.embedding", "pp2.pe", 64)}, 6) AS cosine
         |        FROM cand, p pp2 ORDER BY cosine DESC, vec_id LIMIT ${Similarity.RecallK})),
         |u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
         |        unnest((SELECT pe FROM p))::DOUBLE AS pv FROM embeddings),
         |sa AS (SELECT vec_id, sum(v * pv) AS dp, sum(v * v) AS na, sum(pv * pv) AS nb
         |       FROM u GROUP BY vec_id),
         |brute AS (SELECT vec_id FROM (
         |        SELECT vec_id,
         |          round(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dp / sqrt(na * nb) END, 6) AS cosine
         |        FROM sa ORDER BY cosine DESC, vec_id LIMIT ${Similarity.RecallK}))
         |SELECT ${Similarity.RecallK} AS k, count(*)::BIGINT AS n_hits, round(count(*) / ${Similarity.RecallK}.0, 4) AS recall_at_10
         |FROM ivf JOIN brute USING (vec_id) ORDER BY k""".stripMargin,
    "similarity_ann_recall_embeddings" -> {
      val sk = sketchSql("embedding", 64, 16)
      val psk = sketchSql("pe", 64, 16)
      s"""WITH p AS (SELECT embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 1),
         |pp AS (SELECT pe, $psk AS psk FROM p),
         |se AS (SELECT vec_id, embedding, $sk AS sk FROM embeddings),
         |ann AS (SELECT vec_id FROM (
         |        SELECT se.vec_id, round(${cosSql("se.embedding", "pp.pe", 64)}, 6) AS cos
         |        FROM se, pp WHERE bit_count(xor(se.sk, pp.psk)) <= 3
         |        ORDER BY cos DESC, vec_id LIMIT ${Similarity.RecallK})),
         |u AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
         |        unnest((SELECT pe FROM p))::DOUBLE AS pv FROM embeddings),
         |sa AS (SELECT vec_id, sum(v * pv) AS dp, sum(v * v) AS na, sum(pv * pv) AS nb
         |       FROM u GROUP BY vec_id),
         |brute AS (SELECT vec_id FROM (
         |        SELECT vec_id,
         |          round(CASE WHEN na = 0 OR nb = 0 THEN 0 ELSE dp / sqrt(na * nb) END, 6) AS cosine
         |        FROM sa ORDER BY cosine DESC, vec_id LIMIT ${Similarity.RecallK}))
         |SELECT ${Similarity.RecallK} AS k, count(*)::BIGINT AS n_hits, round(count(*) / ${Similarity.RecallK}.0, 4) AS recall_at_10
         |FROM ann JOIN brute USING (vec_id) ORDER BY k""".stripMargin
    },
    "dup_size_histogram_documents" ->
      s"""WITH g AS (SELECT md5($NormSql) AS fp, count(*)::BIGINT AS group_size
         |           FROM documents GROUP BY 1)
         |SELECT group_size, count(*)::BIGINT AS n_groups,
         |  (group_size * count(*))::BIGINT AS n_docs
         |FROM g GROUP BY group_size ORDER BY group_size""".stripMargin,
    // quality fragment duplicated from the quality_score oracle (both
    // generated from the same constants); norm folds per element in
    // double, 6-dp round — the cosine family's cross-engine contract
    "doc_vector_join_documents" -> {
      s"""WITH qb AS (SELECT doc_id,
         |  $QualitySignalsSql FROM documents),
         |q AS (SELECT doc_id, $QualityScoreSql AS quality_score
         |  FROM qb)
         |SELECT d.doc_id, d.lang, e.label, q.quality_score,
         |  round(sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))), 6)
         |    AS vec_norm
         |FROM documents d JOIN q USING (doc_id)
         |JOIN embeddings e ON e.vec_id = d.doc_id
         |ORDER BY doc_id""".stripMargin
    },
    "dedup_exact_documents" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM (
         |  SELECT d.*, ROW_NUMBER() OVER (
         |    PARTITION BY md5($NormSql) ORDER BY doc_id) AS rn
         |  FROM documents d) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dedup_exact_keep_longest_documents" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM (
         |  SELECT d.*, ROW_NUMBER() OVER (
         |    PARTITION BY md5($NormSql) ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM documents d) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dedup_incremental_documents" ->
      s"""WITH b AS (
         |  SELECT doc_id, text, lang, source, n_chars
         |    FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000000 AS doc_id, text, lang, source, n_chars
         |    FROM documents WHERE doc_id % 9 = 0),
         |f AS (SELECT *, md5($NormSql) AS fp FROM b),
         |k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
         |c AS (SELECT DISTINCT md5($NormSql) AS fp
         |      FROM documents WHERE doc_id % 2 = 0)
         |SELECT f.doc_id, f.text, f.lang, f.source, f.n_chars
         |FROM f JOIN k ON f.fp = k.fp AND f.doc_id = k.doc_id
         |WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.fp = f.fp)
         |ORDER BY f.doc_id""".stripMargin,
    // IVF cell diagnostics over the same seed-centroid assignment CTEs
    // as similarity_ivf; min/max are exact picks of 6-dp values, the
    // similarity mass a DECIMAL(10,6) sum (exact, no round-half knife
    // edge — a rounded MEAN of doubles split engines on a boundary)
    "ivf_cell_stats_embeddings" ->
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         |         ORDER BY vec_id LIMIT 16),
         |a AS (SELECT e.vec_id, c.cid,
         |        round(${cosSql("e.embedding", "c.cvec", 64)}, 6) AS d
         |      FROM embeddings e CROSS JOIN cent c),
         |asg AS (SELECT vec_id, cid, d FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
         |        FROM a) WHERE rn = 1)
         |SELECT cid AS centroid_id, count(*)::BIGINT AS n_vectors,
         |  min(d) AS min_sim, sum(CAST(d AS DECIMAL(10,6)))::DOUBLE AS sum_sim,
         |  max(d) AS max_sim
         |FROM asg GROUP BY cid ORDER BY centroid_id""".stripMargin,
    "label_centroids_embeddings" ->
      """SELECT label, i - 1 AS dim_idx,
        |  round(avg(embedding[i]::DOUBLE), 6) AS centroid,
        |  count(*)::BIGINT AS n_vectors
        |FROM embeddings CROSS JOIN range(1, 65) t(i)
        |GROUP BY label, i ORDER BY label, dim_idx""".stripMargin,
    "quantize_embeddings" ->
      """WITH b AS (SELECT vec_id,
        |  list_aggregate(embedding, 'min')::DOUBLE AS mn,
        |  list_aggregate(embedding, 'max')::DOUBLE AS mx,
        |  embedding FROM embeddings)
        |SELECT vec_id, round(mn, 6) AS mn_r, round(mx, 6) AS mx_r,
        |  array_to_string(list_transform(embedding, v ->
        |    CAST(CASE WHEN mx = mn THEN 0 ELSE
        |      least(255, floor((v::DOUBLE - mn) * 256.0 / (mx - mn))) END AS BIGINT)::VARCHAR), ',') AS q_csv
        |FROM b ORDER BY vec_id""".stripMargin,
    // JL sign projection: the hash-seeded ±1/√kOut matrix regenerated
    // through the hash64 replica over the same 'rp:j:i' key strings,
    // parts rounded to 6 dp and summed in DECIMAL (order-independent —
    // matches the engine's exact micro-unit accumulation)
    "embedding_project_embeddings" ->
      s"""WITH $rpProjCtes
         |SELECT vec_id, j, proj FROM rp_out ORDER BY 1, 2""".stripMargin,
    // JL projection recall gate: projected-space exact top-k (cosine
    // over the kOut-dim lists rebuilt by the shared rp chain) vs the
    // full-dim exact top-k, intersected per probe — both per-probe
    // row_number windows with the family's 6-dp + id tie-breaks
    "embedding_project_recall_embeddings" ->
      s"""WITH $rpProjCtes,
         |rp_vec AS (SELECT vec_id, list(proj ORDER BY j) AS pv
         |    FROM rp_out GROUP BY vec_id),
         |kp AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
         |    WHERE vec_id % $KnnProbeModulus = 0
         |    ORDER BY vec_id LIMIT $KnnProbeLimit),
         |kpp AS (SELECT p.probe_id, v.pv AS ppv
         |    FROM kp p JOIN rp_vec v ON v.vec_id = p.probe_id),
         |pj AS (SELECT probe_id, vec_id FROM (
         |    SELECT q.probe_id, v.vec_id,
         |      row_number() OVER (PARTITION BY q.probe_id
         |        ORDER BY round(${cosSql("q.ppv", "v.pv", RpOutDims)}, 6) DESC,
         |          v.vec_id) AS rn
         |    FROM rp_vec v CROSS JOIN kpp q)
         |  WHERE rn <= ${Similarity.RecallK}),
         |ex AS (SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, e.vec_id,
         |      row_number() OVER (PARTITION BY p.probe_id
         |        ORDER BY round(${cosSql("p.pe", "e.embedding", 64)}, 6) DESC,
         |          e.vec_id) AS rn
         |    FROM embeddings e CROSS JOIN kp p)
         |  WHERE rn <= ${Similarity.RecallK}),
         |h AS (SELECT pj.probe_id, count(*)::BIGINT AS n_hits
         |    FROM pj JOIN ex ON ex.probe_id = pj.probe_id
         |      AND ex.vec_id = pj.vec_id
         |    GROUP BY 1)
         |SELECT p.probe_id, COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
         |  round(COALESCE(h.n_hits, 0) / ${Similarity.RecallK}.0, 4)
         |    AS recall_at_${Similarity.RecallK}
         |FROM kp p LEFT JOIN h ON h.probe_id = p.probe_id
         |ORDER BY p.probe_id""".stripMargin,
    "range_join_sessions" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts FROM events),
         |s AS (SELECT event_id, user_id, ts,
         |  CASE WHEN lag(ts) OVER w IS NULL THEN 1
         |       WHEN ts - lag(ts) OVER w > ${Sessionize.DefaultGapMicros} THEN 1
         |       ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sz AS (SELECT user_id, ts,
         |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM s),
         |sess AS (SELECT user_id, session_seq, min(ts) AS s_ts, max(ts) AS e_ts
         |         FROM sz GROUP BY 1, 2),
         |i AS (SELECT user_id * 1000000 + session_seq AS id, s_ts, e_ts FROM sess)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  (least(a.e_ts, b.e_ts) - greatest(a.s_ts, b.s_ts)) AS overlap_us
         |FROM i a JOIN i b ON a.id < b.id AND a.s_ts <= b.e_ts AND b.s_ts <= a.e_ts
         |ORDER BY id_a, id_b""".stripMargin,
    // pre-flight skew report: same generic two-agg + full-outer shape
    // as the Spark plan (self-join here, so both sides aggregate events)
    "join_skew_events" ->
      """WITH l AS (SELECT user_id AS key, count(*)::BIGINT AS n_left
        |           FROM events GROUP BY 1),
        |r AS (SELECT user_id AS key, count(*)::BIGINT AS n_right
        |      FROM events GROUP BY 1),
        |f AS (SELECT coalesce(l.key, r.key) AS key,
        |        coalesce(n_left, 0) AS n_left, coalesce(n_right, 0) AS n_right
        |      FROM l FULL OUTER JOIN r ON l.key = r.key)
        |SELECT key, n_left, n_right, (n_left * n_right)::BIGINT AS join_rows
        |FROM f ORDER BY join_rows DESC, key LIMIT 20""".stripMargin,
    "asof_enrich_events" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts, event_type, value FROM events),
        |p AS (SELECT user_id, ts, value AS purchase_value FROM e WHERE event_type = 'purchase')
        |SELECT e.event_id, e.user_id, e.ts, e.event_type, p.purchase_value
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin,
    "sample_hash_documents" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE md5(text) < '40' ORDER BY doc_id""".stripMargin,
    // per-row hex threshold rendered from the same quality constants;
    // FLOOR before the BIGINT cast matches Spark's truncating cast
    "sample_quality_documents" -> {
      s"""WITH qb AS (SELECT doc_id, lang, source, text,
         |  $QualitySignalsSql FROM documents),
         |q AS (SELECT doc_id, lang, source, text, $QualityScoreSql AS quality_score
         |  FROM qb)
         |SELECT doc_id, lang, source, quality_score FROM q
         |WHERE substr(md5(text), 1, 8) <
         |  printf('%08x', LEAST(CAST(FLOOR(quality_score * 4294967296.0) AS BIGINT),
         |                       4294967295))
         |ORDER BY doc_id""".stripMargin
    },
    "sample_stratified_documents" ->
      s"""WITH r AS (SELECT d.*,
         |  row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn,
         |  count(*) OVER (PARTITION BY lang) AS n
         |  FROM documents d)
         |SELECT doc_id, text, lang, source, n_chars FROM r
         |WHERE rn <= ceil(n * $StratifiedFrac) ORDER BY doc_id""".stripMargin,
    // temperature quotas: all-integer — ⌊√n⌋ weights (IEEE sqrt is
    // correctly rounded in both engines), BIGINT floor division (//)
    // for the budget and every per-language quota
    "sample_temperature_documents" ->
      s"""WITH c AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM c),
        |t AS (SELECT sum(n)::BIGINT AS nn, sum(w)::BIGINT AS ww FROM w),
        |q AS (SELECT lang, least(n, (((nn * $TemperatureBudgetPct) // 100) * w) // ww) AS k FROM w, t),
        |r AS (SELECT d.*,
        |  row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
        |  FROM documents d)
        |SELECT doc_id, text, r.lang AS lang, source, n_chars
        |FROM r JOIN q ON r.lang IS NOT DISTINCT FROM q.lang
        |WHERE rn <= k ORDER BY doc_id""".stripMargin,
    // segment dedup: the oracle keeps the straightforward window-rank
    // keep-first (the Spark side's min(struct) aggregation is the
    // scale shape, not different semantics)
    "segment_dedup_documents" ->
      s"""WITH $SegmentCtes,
         |k AS (SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
         |      FROM seg)
         |SELECT doc_id, any_value(lang) AS lang, any_value(source) AS source,
         |       string_agg(seg, ' ' ORDER BY seg_idx) AS text,
         |       count(*)::BIGINT AS n_segs_kept
         |FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "split_assign_documents" -> {
      // CASE cascade generated from the SAME SplitFracs constants and
      // fracThresholdHex conversion as the Spark cascade
      s"""SELECT doc_id, lang, source, $SplitCascadeSql AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // leakage guard: the SAME exact pair set + WITH RECURSIVE closure as
    // dedup_cluster_exact, then the representative's text drives the
    // SAME split cascade — cluster members provably co-split
    "split_assign_clustered_documents" ->
      s"""WITH RECURSIVE $NgramPairCtes,
         |p AS (SELECT doc_id_a, doc_id_b FROM j WHERE exact_jaccard >= 0.1),
         |edges AS (SELECT doc_id_a AS a, doc_id_b AS b FROM p
         |          UNION ALL SELECT doc_id_b, doc_id_a FROM p),
         |walk(doc_id, reach) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT wk.doc_id, e2.b FROM walk wk JOIN edges e2 ON wk.reach = e2.a),
         |cl AS (SELECT doc_id, min(reach)::BIGINT AS cluster_id
         |       FROM walk GROUP BY doc_id),
         |rs AS (SELECT doc_id AS cluster_id, $SplitCascadeSql AS split
         |       FROM documents)
         |SELECT c.doc_id, d.lang, d.source, c.cluster_id, r.split
         |FROM cl c JOIN documents d ON d.doc_id = c.doc_id
         |          JOIN rs r ON r.cluster_id = c.cluster_id
         |ORDER BY c.doc_id""".stripMargin,
    "cap_per_source_documents" ->
      """SELECT doc_id, text, lang, source, n_chars FROM (
        |  SELECT d.*, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents d)
        |WHERE rn <= 50 ORDER BY doc_id""".stripMargin,
    "decontaminate_documents" -> DecontaminateOracleSql,
    // the bloom-pruned plan is output-identical by construction (no
    // false negatives; false positives only waste a confirm) — ONE
    // oracle expression gates both physical shapes, the
    // merge_upsert_partitioned precedent
    "decontaminate_bloom_documents" -> DecontaminateOracleSql,
    "redact_pii_documents" ->
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(text, '${Corpus.EmailRegex}', '<EMAIL>', 'g'),
         |                 '${Corpus.LongNumberRegex}', '<NUM>', 'g') AS clean_text
         |FROM documents ORDER BY doc_id""".stripMargin,
    "chunk_documents" -> {
      val cw = 50; val step = 50 - 10
      s"""WITH d AS (SELECT doc_id, $NormSql AS norm FROM documents),
         |w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM d),
         |s AS (SELECT doc_id, words,
         |      unnest(range(1, greatest(len(words), 1) + 1, $step)) AS start FROM w)
         |SELECT doc_id,
         |  ((start - 1) / $step + 1)::BIGINT AS chunk_idx,
         |  array_to_string(words[start:start+${cw - 1}], ' ') AS chunk_text,
         |  least(len(words) - start + 1, $cw)::BIGINT AS n_words
         |FROM s ORDER BY doc_id, chunk_idx""".stripMargin
    },
    "pack_greedy_documents" ->
      s"""WITH $PackGreedyCtes
         |SELECT doc_id, lang, n_tokens, pack_id FROM pg
         |ORDER BY doc_id""".stripMargin,
    // stride schedule: the SAME pack chain aggregated per pack, within-
    // stream index parsed back from the pack_id, virtual time
    // (2·seq+1)·S / (2·w) — one exact double division, weight-0 drops
    "mixture_schedule_documents" -> {
      val arms = ScheduleWeights
        .map { case (l, w) => s"WHEN '$l' THEN $w" }.mkString(" ")
      s"""WITH $PackGreedyCtes,
         |mp AS (SELECT lang, pack_id, count(*)::BIGINT AS n_docs,
         |    sum(n_tokens)::BIGINT AS n_tokens
         |  FROM pg GROUP BY lang, pack_id),
         |mk AS (SELECT *, string_split(pack_id, '#')[-1]::BIGINT AS seq,
         |    CASE lang $arms ELSE $MixtureDefaultWeight END AS w
         |  FROM mp)
         |SELECT (seq * 2 + 1) * $PackShards / (w * 2) AS sched_key,
         |  lang, pack_id, n_docs, n_tokens
         |FROM mk WHERE w > 0
         |ORDER BY sched_key, lang, pack_id""".stripMargin
    },
    "curate_documents" -> {
      val normClean = """trim(regexp_replace(lower(clean_text), '\s+', ' ', 'g'))"""
      s"""WITH r AS (SELECT doc_id,
         |  regexp_replace(regexp_replace(text, '${Corpus.EmailRegex}', '<EMAIL>', 'g'),
         |                 '${Corpus.LongNumberRegex}', '<NUM>', 'g') AS clean_text
         |  FROM documents),
         |qb AS (SELECT doc_id,
         |  $QualitySignalsSql FROM documents),
         |q AS (SELECT doc_id, $QualityScoreSql AS quality_score
         |  FROM qb),
         |j AS (SELECT d.doc_id, d.lang, r.clean_text, q.quality_score
         |      FROM documents d JOIN r USING (doc_id) JOIN q USING (doc_id)
         |      WHERE q.quality_score >= 0.5),
         |w AS (SELECT min(doc_id) AS doc_id FROM j GROUP BY md5($normClean))
         |SELECT doc_id, lang, clean_text, quality_score FROM j
         |WHERE doc_id IN (SELECT doc_id FROM w) AND md5(clean_text) < '80'
         |ORDER BY doc_id""".stripMargin
    },
    "curate_full_documents" ->
      s"""WITH $CurateFullCtes
         |SELECT doc_id, lang, source, clean_text, quality_score FROM cap
         |WHERE rn <= 50 ORDER BY doc_id""".stripMargin,
    // raw corpus -> training order, end to end: the curate_full chain
    // verbatim, its survivor set re-presented as the token source
    // (`ctt`), then the trainer_order chain verbatim over it — the two
    // proven composition precedents joined into ONE pinned contract
    "corpus_to_trainer_documents" -> {
      val L = Corpus.PackBlockTokens
      val S = PackShards
      s"""WITH $CurateFullCtes,
         |ctt AS MATERIALIZED (SELECT doc_id, clean_text AS text FROM cap WHERE rn <= 50),
         |${bpeEncodeCtes(Bpe.DefaultMerges, "ctt")},
         |${packCtes(L)},
         |${trainerOrderTail(L, S, "blk:")}""".stripMargin
    },
    "session_stats_events" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts FROM events),
         |s AS (SELECT event_id, user_id, ts,
         |  CASE WHEN lag(ts) OVER w IS NULL THEN 1
         |       WHEN ts - lag(ts) OVER w > ${Sessionize.DefaultGapMicros} THEN 1
         |       ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sz AS (SELECT user_id, ts,
         |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM s),
         |g AS (SELECT user_id, session_seq, count(*)::BIGINT AS n_events,
         |        max(ts) - min(ts) AS duration_us
         |      FROM sz GROUP BY 1, 2)
         |SELECT count(*)::BIGINT AS n_sessions,
         |  count(DISTINCT user_id)::BIGINT AS n_users,
         |  sum(n_events)::BIGINT AS n_events,
         |  round(sum(n_events)::DOUBLE / count(*), 4) AS avg_events_per_session,
         |  sum(duration_us)::BIGINT AS total_duration_us,
         |  max(duration_us)::BIGINT AS max_duration_us
         |FROM g ORDER BY n_sessions""".stripMargin,
    // decorrelated Q17: the per-part average is computed once and
    // joined back by key — the oracle mirrors the same rewrite (and the
    // same exact-decimal-sum → one portable 6-dp division per part)
    "analytics_small_lot_revenue" ->
      s"""WITH a AS (SELECT l_partkey,
         |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6)
         |    AS avg_qty
         |  FROM lineitem GROUP BY 1)
         |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem l JOIN a USING (l_partkey)
         |WHERE l.l_quantity < a.avg_qty * $SmallLotFrac
         |ORDER BY revenue""".stripMargin,
    "sessionize_events" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts FROM events),
         |s AS (SELECT event_id, user_id, ts,
         |  CASE WHEN lag(ts) OVER w IS NULL THEN 1
         |       WHEN ts - lag(ts) OVER w > ${Sessionize.DefaultGapMicros} THEN 1
         |       ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT event_id, user_id, ts,
         |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |FROM s ORDER BY user_id, ts, event_id""".stripMargin,
    // money sums aggregate in DECIMAL on BOTH engines (exact, order-
    // independent) and cast to double once — a double sum's last ulp
    // depends on partition merge order and would break the hash compare
    "analytics_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "analytics_regional_revenue" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "analytics_rollup_revenue" ->
      """SELECT r_name, n_name,
        |  GROUPING(r_name)::INT AS g_region,
        |  GROUPING(n_name)::INT AS g_nation,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY g_region, g_nation, r_name, n_name""".stripMargin,
    "analytics_top_customers" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,
    "analytics_order_priority_rank" ->
      """SELECT o_orderpriority, price_rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
        |  FROM orders)
        |WHERE price_rank <= 5
        |ORDER BY o_orderpriority, price_rank""".stripMargin,
    "analytics_supplier_volume" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS volume,
        |  count(DISTINCT s_suppkey) AS n_suppliers,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "analytics_monthly_revenue" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    "analytics_revenue_forecast" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY revenue""".stripMargin,
    // rank over the exact DECIMAL revenue (portable ordering; the
    // double cast is output-only, mirroring the Spark plan)
    "analytics_brand_leaders" ->
      """WITH s AS (SELECT p_brand, p.p_partkey, p_name,
        |  SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
        |  FROM lineitem JOIN part p ON l_partkey = p.p_partkey
        |  GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY p_brand ORDER BY rev DESC, p_partkey) AS brand_rank
        |      FROM s)
        |SELECT p_brand, brand_rank, p_partkey, p_name, CAST(rev AS DOUBLE) AS revenue
        |FROM r WHERE brand_rank <= 3 ORDER BY p_brand, brand_rank""".stripMargin,
    "analytics_user_retention" ->
      """WITH d AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day_idx, user_id
        |           FROM events),
        |dau AS (SELECT day_idx, count(*)::BIGINT AS n_users FROM d GROUP BY 1),
        |ret AS (SELECT a.day_idx, count(*)::BIGINT AS n_retained
        |        FROM d a JOIN d b ON b.day_idx = a.day_idx - 1 AND b.user_id = a.user_id
        |        GROUP BY 1)
        |SELECT dau.day_idx, n_users, COALESCE(n_retained, 0) AS n_retained,
        |  round(COALESCE(n_retained, 0)::DOUBLE / n_users, 4) AS retention
        |FROM dau LEFT JOIN ret USING (day_idx) ORDER BY day_idx""".stripMargin,
    "analytics_trade_flows" ->
      """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE cn.n_name <> sn.n_name
        |GROUP BY 1, 2 ORDER BY cust_nation, supp_nation""".stripMargin,
    // confusion matrix over the SAME marker scoring as lang_id (both
    // generated from TextStats.LangMarkers — no drift possible)
    "lang_confusion_documents" -> {
      val scores = TextStats.LangMarkers
        .map { case (l, ws) => s"(${likeScoreSql(ws)}) AS score_$l" }
        .mkString(", ")
      val maxExpr = TextStats.LangMarkers.map { case (l, _) => s"score_$l" }
        .mkString("GREATEST(", ", ", ")")
      val pick = TextStats.LangMarkers
        .map { case (l, _) => s"WHEN score_$l = m THEN '$l'" }.mkString(" ")
      s"""WITH s AS (SELECT doc_id, lang AS lang_declared, $scores FROM documents),
         |m AS (SELECT *, $maxExpr AS m FROM s),
         |p AS (SELECT lang_declared,
         |        CASE WHEN m = 0 THEN 'und' $pick END AS lang_pred FROM m)
         |SELECT lang_declared, lang_pred, count(*)::BIGINT AS n_docs
         |FROM p GROUP BY 1, 2 ORDER BY lang_declared, lang_pred""".stripMargin
    },
    // z-scores from exact integer sums (Σn, Σn²) with the SAME
    // expression order as the Spark plan: identical IEEE double ops on
    // identical integers → identical result, no variance-merge drift
    "analytics_daily_anomaly" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type,
        |                count(*)::BIGINT AS n
        |              FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*)::BIGINT AS days,
        |         sum(n)::BIGINT AS s, sum(n * n)::BIGINT AS sq
        |       FROM daily GROUP BY 1)
        |SELECT day_idx, daily.event_type, n,
        |  CASE WHEN sq::DOUBLE / days - (s::DOUBLE / days) * (s::DOUBLE / days) > 0
        |       THEN round((n::DOUBLE - s::DOUBLE / days) /
        |            sqrt(sq::DOUBLE / days - (s::DOUBLE / days) * (s::DOUBLE / days)), 4)
        |       ELSE 0.0 END AS z_score
        |FROM daily JOIN st USING (event_type)
        |ORDER BY day_idx, event_type""".stripMargin,
    // reference date is the corpus max (data-derived, reproducible);
    // spend compared in DECIMAL on both engines before any double cast
    "analytics_customer_segments" ->
      s"""WITH pc AS (SELECT o_custkey, max(o_orderdate) AS last_d,
         |  count(*)::BIGINT AS n_orders,
         |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
         |  FROM orders GROUP BY 1),
         |rr AS (SELECT max(o_orderdate) AS refd FROM orders)
         |SELECT o_custkey, date_diff('day', last_d, refd)::BIGINT AS recency_days,
         |  n_orders, CAST(spend AS DOUBLE) AS total_spend,
         |  CASE WHEN date_diff('day', last_d, refd) <= $SegmentActiveDays
         |       THEN CASE WHEN spend >= $SegmentBigSpend THEN 'active_big' ELSE 'active' END
         |       ELSE CASE WHEN spend >= $SegmentBigSpend THEN 'lapsed_big' ELSE 'lapsed' END
         |  END AS segment
         |FROM pc CROSS JOIN rr ORDER BY o_custkey""".stripMargin,
    "analytics_priority_fulfillment" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "analytics_event_transitions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events),
        |n AS (SELECT event_type,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          AS next_type
        |      FROM e)
        |SELECT event_type, next_type, count(*)::BIGINT AS n_transitions
        |FROM n WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, next_type""".stripMargin,
    "analytics_event_funnel" ->
      """WITH f AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_signup,
        |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        |  FROM events GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_users,
        |  sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_signup,
        |  sum(CASE WHEN t_signup < t_view THEN 1 ELSE 0 END)::BIGINT
        |    AS n_signup_then_view,
        |  sum(CASE WHEN t_signup < t_view AND t_view < t_purchase THEN 1 ELSE 0 END)::BIGINT
        |    AS n_full_funnel,
        |  CASE WHEN sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) > 0
        |       THEN round(
        |         sum(CASE WHEN t_signup < t_view AND t_view < t_purchase THEN 1 ELSE 0 END)::DOUBLE
        |         / sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END), 4)
        |       ELSE 0.0 END AS conversion
        |FROM f ORDER BY n_users""".stripMargin,
    "pack_efficiency_documents" ->
      s"""WITH t AS (SELECT doc_id, lang, ($WsToksSql)::BIGINT AS n_tokens,
         |  doc_id % $PackShards AS shard FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens, shard,
         |  SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM t),
         |p AS (SELECT lang,
         |  lang || '#' || shard::VARCHAR || '#' ||
         |    CAST(FLOOR((cum - n_tokens) / $PackBudgetTokens) AS BIGINT)::VARCHAR AS pack_id,
         |  n_tokens FROM c),
         |b AS (SELECT lang, pack_id, sum(n_tokens) AS bt, count(*) AS bd
         |      FROM p GROUP BY 1, 2)
         |SELECT lang, count(*)::BIGINT AS n_bins, sum(bd)::BIGINT AS n_docs,
         |  sum(bt)::BIGINT AS total_tokens, max(bt)::BIGINT AS max_bin_tokens,
         |  round(sum(bt)::DOUBLE / (count(*) * $PackBudgetTokens), 4) AS fill_rate
         |FROM b GROUP BY lang ORDER BY lang""".stripMargin,
    // day bucket via integral µs arithmetic on BOTH engines — no
    // session-timezone dependence in the hash compare
    "analytics_event_pivot" -> {
      val known = Analytics.EventTypes.map(t => s"'$t'").mkString(", ")
      val cols = (Analytics.EventTypes.map(t =>
        s"  sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END)::BIGINT AS n_$t") :+
        s"  sum(CASE WHEN event_type IS NULL OR event_type NOT IN ($known) " +
          s"THEN 1 ELSE 0 END)::BIGINT AS n_${Analytics.PivotOther}")
        .mkString(",\n")
      s"""WITH e AS (SELECT
         |  (DATE '1970-01-01' + ((epoch_us(ts) // 86400000000)::INT))::VARCHAR AS day,
         |  event_type FROM events)
         |SELECT day,
         |$cols
         |FROM e GROUP BY day ORDER BY day""".stripMargin
    },
    "analytics_dormant_customers" ->
      s"""SELECT c_custkey, c_name, c_mktsegment, c_acctbal
         |FROM customer c
         |WHERE NOT EXISTS (SELECT 1 FROM orders o
         |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > $DormantMinPrice)
         |ORDER BY c_custkey""".stripMargin,
    // trailing sum / lag delta in DECIMAL end-to-end (exact, order-
    // independent), one double cast at the end — same money contract
    // as the other analytics oracles
    "analytics_revenue_trend" ->
      s"""WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
         |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev, count(*) AS n_orders
         |  FROM orders GROUP BY 1)
         |SELECT month, CAST(rev AS DOUBLE) AS revenue, n_orders,
         |  CAST(SUM(rev) OVER (ORDER BY month
         |    ROWS BETWEEN ${RevenueTrendWindow - 1} PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    AS revenue_trailing,
         |  CAST(rev - COALESCE(lag(rev) OVER (ORDER BY month), rev) AS DOUBLE) AS mom_delta
         |FROM m ORDER BY month""".stripMargin,
    "analytics_event_props" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "winsorize_events" ->
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |r AS (SELECT event_id, event_type, value,
        |      row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |b AS (SELECT event_type,
        |      max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT) THEN value END) AS lo_v,
        |      max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN value END) AS hi_v
        |      FROM r GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  least(greatest(e.value, b.lo_v), b.hi_v) AS clipped_value
        |FROM e JOIN b USING (event_type) ORDER BY event_id""".stripMargin,
    "media_stats_documents" ->
      """WITH m AS (SELECT
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  octet_length(encode(text)) AS byte_len FROM documents)
        |SELECT media_type, count(*)::BIGINT AS n,
        |  sum(byte_len)::BIGINT AS total_bytes,
        |  max(byte_len)::BIGINT AS max_bytes
        |FROM m GROUP BY media_type ORDER BY media_type""".stripMargin,
    "media_resize_documents" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  octet_length(encode(text)) AS byte_len FROM documents)
        |SELECT media_id, media_type, byte_len::BIGINT AS orig_bytes,
        |  least(byte_len, 4096)::BIGINT AS resized_bytes
        |FROM m ORDER BY media_id""".stripMargin,
    "frame_sample_documents" ->
      """WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS byte_len FROM documents),
        |f AS (SELECT media_id, byte_len,
        |      unnest(range(0, greatest(least((byte_len + 999) // 1000, 8), 1))) AS frame_idx FROM m)
        |SELECT media_id, frame_idx::BIGINT AS frame_idx,
        |  (frame_idx * 1000 + 1)::BIGINT AS frame_offset,
        |  least(1000, byte_len - frame_idx * 1000)::BIGINT AS frame_len
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,
    "media_decode_documents" -> {
      import Multimodal.Gen._
      val width = s"($WBase + doc_id % $WMod)"
      val height = s"($HBase + doc_id % $HMod)"
      val rate = s"($RateBase + (doc_id % $RateMod) * $RateStep)"
      val ch = s"(1 + doc_id % 2)"
      val usec = s"($UsecBase + (doc_id % $UsecMod) * $UsecStep)"
      val frames = s"($FrBase + doc_id % $FrMod)"
      s"""SELECT doc_id AS media_id,
         |  CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'avi' END AS container,
         |  (CASE WHEN doc_id % 3 IN (0, 2) THEN $width END)::BIGINT AS width,
         |  (CASE WHEN doc_id % 3 IN (0, 2) THEN $height END)::BIGINT AS height,
         |  (CASE WHEN doc_id % 3 = 1 THEN $rate END)::BIGINT AS sample_rate,
         |  (CASE WHEN doc_id % 3 = 1 THEN $ch END)::BIGINT AS channels,
         |  (CASE WHEN doc_id % 3 = 1
         |        THEN (1000 * octet_length(encode(text))) // ($rate * $ch * 2)
         |        WHEN doc_id % 3 = 2 THEN ($usec * $frames) // 1000
         |   END)::BIGINT AS duration_ms,
         |  (CASE WHEN doc_id % 3 = 2 THEN $frames END)::BIGINT AS n_frames
         |FROM documents ORDER BY media_id""".stripMargin
    },
    // header-derived features: every value recomputed from the shared
    // generator formulas — same differential-test posture as
    // media_decode, plus the payload length (container header size +
    // UTF-8 body bytes) and the normalizing divisions at 4 dp
    "multimodal_features_documents" -> {
      import Multimodal.Gen._
      val width = s"($WBase + doc_id % $WMod)"
      val height = s"($HBase + doc_id % $HMod)"
      val rate = s"($RateBase + (doc_id % $RateMod) * $RateStep)"
      val ch = s"(1 + doc_id % 2)"
      val usec = s"($UsecBase + (doc_id % $UsecMod) * $UsecStep)"
      val frames = s"($FrBase + doc_id % $FrMod)"
      val blen =
        "(CASE doc_id % 3 WHEN 0 THEN 54 WHEN 1 THEN 44 ELSE 88 END " +
          "+ octet_length(encode(text)))"
      s"""SELECT doc_id AS media_id,
         |  CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'avi' END AS container,
         |  round((CASE WHEN doc_id % 3 IN (0, 2) THEN $width ELSE 0 END) / 1000.0, 4) AS f_width,
         |  round((CASE WHEN doc_id % 3 IN (0, 2) THEN $height ELSE 0 END) / 1000.0, 4) AS f_height,
         |  round((CASE WHEN doc_id % 3 = 1 THEN $rate ELSE 0 END) / 48000.0, 4) AS f_rate,
         |  round((CASE WHEN doc_id % 3 = 1 THEN $ch ELSE 0 END) / 1.0, 4) AS f_channels,
         |  round((CASE WHEN doc_id % 3 = 1
         |              THEN (1000 * octet_length(encode(text))) // ($rate * $ch * 2)
         |              WHEN doc_id % 3 = 2 THEN ($usec * $frames) // 1000
         |              ELSE 0 END) / 1000.0, 4) AS f_duration,
         |  round((CASE WHEN doc_id % 3 = 2 THEN $frames ELSE 0 END) / 100.0, 4) AS f_frames,
         |  round($blen / 4096.0, 4) AS f_bytes,
         |  (doc_id % 3)::DOUBLE AS f_kind
         |FROM documents ORDER BY media_id""".stripMargin
    },
    // perceptual-hash media near-dup: the oracle rebuilds each BMP
    // payload's 64-cell average-hash from the generator's body bytes
    // (body = the document's UTF-8 text at pixel offset 54; per-byte
    // values via unicode() — BMP-corpus ASCII-only, the hash64Ctes
    // tolerance). Bit c is the exact integer cross-multiply
    // `sum_c·len > total·n_c`; the hash splits into lo/hi 32-bit
    // halves (DuckDB's 1<<63 sign edge avoided), then the SAME
    // PhashBands pigeonhole banding + PhashMaxBucket cap +
    // bit_count(xor) Hamming as the engine plan — every parameter
    // interpolated from the Multimodal constants.
    "media_phash_pairs_documents" -> {
      val cap = Multimodal.PhashMaxBucket
      val bands = Multimodal.PhashBands
      val maxH = Multimodal.PhashMaxHamming
      // arity stays 1: radius 15 of 16 bands leaves exactly one clean
      // band, so band-combination amplification is impossible here
      val (bandList, bandKeys) = hammingComboArrays(bands, 1)
      // octet_length = length pins the ASCII-only fixture assumption
      // (unicode(char) == UTF-8 byte only there): a non-ASCII doc drops
      // out of the oracle and FAILS the row-count gate loudly instead
      // of silently drifting the byte walk
      s"""WITH ph_d AS (SELECT doc_id AS media_id, text FROM documents
         |    WHERE length(text) > 0
         |      AND octet_length(encode(text)) = length(text)),
         |ph_b AS (SELECT media_id, text, unnest(range(0, length(text))) AS i
         |    FROM ph_d),
         |ph_by AS (SELECT media_id,
         |      unicode(substr(text, (i + 1)::INTEGER, 1))::BIGINT AS b,
         |      (i * 64) // length(text) AS cell,
         |      length(text)::BIGINT AS len FROM ph_b),
         |ph_cs AS (SELECT media_id, cell, len, sum(b)::BIGINT AS cs,
         |      count(*)::BIGINT AS cc FROM ph_by GROUP BY 1, 2, 3),
         |ph_t AS (SELECT media_id, sum(cs)::BIGINT AS ts FROM ph_cs GROUP BY 1),
         |ph_h AS (SELECT c.media_id,
         |      sum(CASE WHEN cs * len > ts * cc AND cell < 32
         |               THEN (1::BIGINT << cell::INTEGER) ELSE 0 END)::BIGINT AS lo,
         |      sum(CASE WHEN cs * len > ts * cc AND cell >= 32
         |               THEN (1::BIGINT << (cell - 32)::INTEGER) ELSE 0 END)::BIGINT AS hi
         |    FROM ph_cs c JOIN ph_t t USING (media_id) GROUP BY 1),
         |ph_bk AS (SELECT media_id, lo, hi, unnest($bandList) AS band,
         |      unnest($bandKeys) AS bkey FROM ph_h),
         |ph_big AS (SELECT band, bkey FROM ph_bk
         |      GROUP BY band, bkey HAVING count(*) > $cap),
         |ph_cap AS (SELECT b.* FROM ph_bk b WHERE NOT EXISTS (
         |      SELECT 1 FROM ph_big o WHERE o.band = b.band AND o.bkey = b.bkey)),
         |ph_pairs AS (SELECT DISTINCT a.media_id AS media_id_a,
         |        b.media_id AS media_id_b, a.lo AS lo_a, a.hi AS hi_a,
         |        b.lo AS lo_b, b.hi AS hi_b
         |      FROM ph_cap a JOIN ph_cap b ON a.band = b.band AND a.bkey = b.bkey
         |                                 AND a.media_id < b.media_id)
         |SELECT media_id_a, media_id_b,
         |       (bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)))::INTEGER
         |         AS hamming
         |FROM ph_pairs
         |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= $maxH
         |ORDER BY media_id_a, media_id_b""".stripMargin
    },
    // compressed-format image near-dup (r16 verdict #6): the engine
    // must INFLATE the PNG and reverse every scanline filter to
    // recover the pixels; the oracle sidesteps the codec entirely by
    // recomputing what those pixels MUST be from the generator formula
    // — text bytes zero-padded to w·⌈len/w⌉ at w = PngWBase + id %
    // PngWMod — then the identical cell-walk/banding chain. Any
    // decode bug (wrong filter reversal, inflate drift, padding off
    // by one) flips hash bits and hash-mismatches the key.
    "media_phash_png_pairs_documents" -> {
      val cap = Multimodal.PhashMaxBucket
      val bands = Multimodal.PhashBands
      val maxH = Multimodal.PhashMaxHamming
      val (bandList, bandKeys) = hammingComboArrays(bands, 1)
      import Multimodal.Gen.{PngWBase, PngWMod}
      s"""WITH pg_d AS (SELECT doc_id AS media_id, text,
         |      length(text)::BIGINT AS tlen,
         |      ($PngWBase + doc_id % $PngWMod)::BIGINT AS w
         |    FROM documents
         |    WHERE length(text) > 0
         |      AND octet_length(encode(text)) = length(text)),
         |pg_n AS (SELECT media_id, text, tlen,
         |      w * ((tlen + w - 1) // w) AS n FROM pg_d),
         |pg_b AS (SELECT media_id, text, tlen, n,
         |      unnest(range(0, n)) AS i FROM pg_n),
         |pg_by AS (SELECT media_id,
         |      CASE WHEN i < tlen
         |           THEN unicode(substr(text, (i + 1)::INTEGER, 1))::BIGINT
         |           ELSE 0 END AS b,
         |      (i * 64) // n AS cell,
         |      n AS len FROM pg_b),
         |pg_cs AS (SELECT media_id, cell, len, sum(b)::BIGINT AS cs,
         |      count(*)::BIGINT AS cc FROM pg_by GROUP BY 1, 2, 3),
         |pg_t AS (SELECT media_id, sum(cs)::BIGINT AS ts FROM pg_cs GROUP BY 1),
         |pg_h AS (SELECT c.media_id,
         |      sum(CASE WHEN cs * len > ts * cc AND cell < 32
         |               THEN (1::BIGINT << cell::INTEGER) ELSE 0 END)::BIGINT AS lo,
         |      sum(CASE WHEN cs * len > ts * cc AND cell >= 32
         |               THEN (1::BIGINT << (cell - 32)::INTEGER) ELSE 0 END)::BIGINT AS hi
         |    FROM pg_cs c JOIN pg_t t USING (media_id) GROUP BY 1),
         |pg_bk AS (SELECT media_id, lo, hi, unnest($bandList) AS band,
         |      unnest($bandKeys) AS bkey FROM pg_h),
         |pg_big AS (SELECT band, bkey FROM pg_bk
         |      GROUP BY band, bkey HAVING count(*) > $cap),
         |pg_cap AS (SELECT b.* FROM pg_bk b WHERE NOT EXISTS (
         |      SELECT 1 FROM pg_big o WHERE o.band = b.band AND o.bkey = b.bkey)),
         |pg_pairs AS (SELECT DISTINCT a.media_id AS media_id_a,
         |        b.media_id AS media_id_b, a.lo AS lo_a, a.hi AS hi_a,
         |        b.lo AS lo_b, b.hi AS hi_b
         |      FROM pg_cap a JOIN pg_cap b ON a.band = b.band AND a.bkey = b.bkey
         |                                 AND a.media_id < b.media_id)
         |SELECT media_id_a, media_id_b,
         |       (bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)))::INTEGER
         |         AS hamming
         |FROM pg_pairs
         |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= $maxH
         |ORDER BY media_id_a, media_id_b""".stripMargin
    },
    // audio content near-dup: the oracle rebuilds each WAV payload's
    // sign-of-energy-delta hash from the generator's PCM bytes (body =
    // the document's UTF-8 text at sample offset 44; 16-bit LE samples
    // from consecutive byte pairs via unicode() — ASCII-guarded like
    // the phash oracle, so a fixture change fails the row gate
    // loudly). All-empty windows coalesce to 0 via the range-65 spine;
    // the hash splits into lo/hi halves, then the SAME banding + cap +
    // bit_count(xor) chain as the image key, at the AudioBands /
    // AudioMaxBucket / AudioMaxHamming constants.
    "media_audiohash_pairs_documents" -> {
      val cap = Multimodal.AudioMaxBucket
      val bands = Multimodal.AudioBands
      val maxH = Multimodal.AudioMaxHamming
      // C(8,2) = 28 band-pair composite keys (AudioBandArity) — the
      // same amplified banding the engine explodes
      val (bandList, bandKeys) =
        hammingComboArrays(bands, Multimodal.AudioBandArity)
      s"""WITH au_d AS (SELECT doc_id AS media_id, text,
         |      (length(text) // 2)::BIGINT AS n FROM documents
         |    WHERE length(text) >= 2
         |      AND octet_length(encode(text)) = length(text)),
         |au_b AS (SELECT media_id, n, text, unnest(range(0, n)) AS k FROM au_d),
         |au_s AS (SELECT media_id, (k * 65) // n AS w,
         |      abs(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END) AS amp
         |    FROM (SELECT media_id, n, k,
         |        unicode(substr(text, (2 * k + 1)::INTEGER, 1))::BIGINT
         |        + 256 * unicode(substr(text, (2 * k + 2)::INTEGER, 1))::BIGINT AS raw
         |      FROM au_b)),
         |au_w AS (SELECT media_id, unnest(range(0, 65)) AS w FROM au_d),
         |au_e0 AS (SELECT media_id, w, sum(amp)::BIGINT AS e FROM au_s GROUP BY 1, 2),
         |au_e AS (SELECT media_id, w, coalesce(e, 0) AS e
         |    FROM au_w LEFT JOIN au_e0 USING (media_id, w)),
         |au_h AS (SELECT a.media_id,
         |      sum(CASE WHEN b.e > a.e AND a.w < 32
         |               THEN (1::BIGINT << a.w::INTEGER) ELSE 0 END)::BIGINT AS lo,
         |      sum(CASE WHEN b.e > a.e AND a.w >= 32
         |               THEN (1::BIGINT << (a.w - 32)::INTEGER) ELSE 0 END)::BIGINT AS hi
         |    FROM au_e a JOIN au_e b ON a.media_id = b.media_id AND b.w = a.w + 1
         |    WHERE a.w < 64 GROUP BY 1),
         |au_bk AS (SELECT media_id, lo, hi, unnest($bandList) AS band,
         |      unnest($bandKeys) AS bkey FROM au_h),
         |au_big AS (SELECT band, bkey FROM au_bk
         |      GROUP BY band, bkey HAVING count(*) > $cap),
         |au_cap AS (SELECT b.* FROM au_bk b WHERE NOT EXISTS (
         |      SELECT 1 FROM au_big o WHERE o.band = b.band AND o.bkey = b.bkey)),
         |au_pairs AS (SELECT DISTINCT a.media_id AS media_id_a,
         |        b.media_id AS media_id_b, a.lo AS lo_a, a.hi AS hi_a,
         |        b.lo AS lo_b, b.hi AS hi_b
         |      FROM au_cap a JOIN au_cap b ON a.band = b.band AND a.bkey = b.bkey
         |                                 AND a.media_id < b.media_id)
         |SELECT media_id_a, media_id_b,
         |       (bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)))::INTEGER
         |         AS hamming
         |FROM au_pairs
         |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= $maxH
         |ORDER BY media_id_a, media_id_b""".stripMargin
    },
    // video content near-dup: the oracle rebuilds each AVI payload's
    // temporal-brightness hash from the generator's frame formula
    // (frames = FrBase + id % FrMod — the value the engine parses out
    // of the avih header, so the query differential-tests the parser;
    // body = the document's UTF-8 text, ASCII-guarded like the phash
    // oracle). 65 sampled frames of bpf = len // frames bytes each,
    // brightness = unsigned byte sum, sign-of-delta bits into lo/hi
    // halves, then the SAME banding + cap + bit_count(xor) chain at
    // the VideoBands / VideoMaxBucket / VideoMaxHamming constants.
    "media_videohash_pairs_documents" -> {
      val cap = Multimodal.VideoMaxBucket
      val bands = Multimodal.VideoBands
      val maxH = Multimodal.VideoMaxHamming
      val frB = Multimodal.Gen.FrBase
      val frM = Multimodal.Gen.FrMod
      // C(16,2) = 120 band-pair composite keys (VideoBandArity) — the
      // same amplified banding the engine explodes
      val (bandList, bandKeys) =
        hammingComboArrays(bands, Multimodal.VideoBandArity)
      s"""WITH vh_d AS (SELECT doc_id AS media_id, text,
         |      length(text)::BIGINT AS len,
         |      ($frB + doc_id % $frM)::BIGINT AS frames FROM documents
         |    WHERE length(text) >= $frB + doc_id % $frM
         |      AND octet_length(encode(text)) = length(text)),
         |vh_t AS (SELECT media_id, text, frames, len // frames AS bpf,
         |      unnest(range(0, 65)) AS t FROM vh_d),
         |vh_j AS (SELECT media_id, t, bpf, text,
         |      (t * (frames - 1)) // 64 AS fi,
         |      unnest(range(0, bpf)) AS j FROM vh_t),
         |vh_b AS (SELECT media_id, t,
         |      sum(unicode(substr(text, (fi * bpf + j + 1)::INTEGER, 1)))::BIGINT
         |        AS b
         |    FROM vh_j GROUP BY 1, 2),
         |vh_h AS (SELECT a.media_id,
         |      sum(CASE WHEN bb.b > a.b AND a.t < 32
         |               THEN (1::BIGINT << a.t::INTEGER) ELSE 0 END)::BIGINT AS lo,
         |      sum(CASE WHEN bb.b > a.b AND a.t >= 32
         |               THEN (1::BIGINT << (a.t - 32)::INTEGER) ELSE 0 END)::BIGINT AS hi
         |    FROM vh_b a JOIN vh_b bb ON a.media_id = bb.media_id AND bb.t = a.t + 1
         |    WHERE a.t < 64 GROUP BY 1),
         |vh_bk AS (SELECT media_id, lo, hi, unnest($bandList) AS band,
         |      unnest($bandKeys) AS bkey FROM vh_h),
         |vh_big AS (SELECT band, bkey FROM vh_bk
         |      GROUP BY band, bkey HAVING count(*) > $cap),
         |vh_cap AS (SELECT b.* FROM vh_bk b WHERE NOT EXISTS (
         |      SELECT 1 FROM vh_big o WHERE o.band = b.band AND o.bkey = b.bkey)),
         |vh_pairs AS (SELECT DISTINCT a.media_id AS media_id_a,
         |        b.media_id AS media_id_b, a.lo AS lo_a, a.hi AS hi_a,
         |        b.lo AS lo_b, b.hi AS hi_b
         |      FROM vh_cap a JOIN vh_cap b ON a.band = b.band AND a.bkey = b.bkey
         |                                 AND a.media_id < b.media_id)
         |SELECT media_id_a, media_id_b,
         |       (bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)))::INTEGER
         |         AS hamming
         |FROM vh_pairs
         |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= $maxH
         |ORDER BY media_id_a, media_id_b""".stripMargin
    },
    // MinHash family: the full sketch pipeline (hash64 kernel, seeded
    // perm table, banding, bucket cap, agreement estimate) replicated
    // in SQL from the same constants — see minhashPairCtes. est_jaccard
    // is agree/k with k a power of two: exactly representable, no
    // rounding knife edge across engines.
    "dedup_minhash_pairs_documents" ->
      s"""WITH ${minhashPairCtes(16, 4)}
         |SELECT doc_id_a, doc_id_b, est_jaccard FROM mh_j
         |WHERE est_jaccard >= 0.2 ORDER BY doc_id_a, doc_id_b""".stripMargin,
    "dedup_minhash_pairs_k128_documents" ->
      s"""WITH ${minhashPairCtes(128, 32)}
         |SELECT doc_id_a, doc_id_b, est_jaccard FROM mh_j
         |WHERE est_jaccard >= 0.5 ORDER BY doc_id_a, doc_id_b""".stripMargin,
    // pair-drop dedup: drop the higher doc_id of every confident pair
    "dedup_minhash_documents" ->
      s"""WITH ${minhashPairCtes(16, 4)},
         |losers AS (SELECT DISTINCT doc_id_b AS doc_id FROM mh_j
         |           WHERE est_jaccard >= 0.8)
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         |FROM documents d WHERE NOT EXISTS (
         |  SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)
         |ORDER BY doc_id""".stripMargin,
    // incremental near-dup: the SAME mh_j pair set classified by batch
    // membership (doc_id % 3 = 0) — a batch doc loses to any corpus
    // partner, or to a lower-id batch partner (minHashDedup's policy
    // with corpus-wins)
    "dedup_minhash_incremental_documents" ->
      s"""WITH ${minhashPairCtes(16, 4)},
         |inc_losers AS (SELECT DISTINCT CASE
         |      WHEN doc_id_a % 3 = 0 AND doc_id_b % 3 = 0 THEN doc_id_b
         |      WHEN doc_id_a % 3 = 0 THEN doc_id_a
         |      ELSE doc_id_b END AS doc_id
         |    FROM mh_j WHERE est_jaccard >= 0.8
         |      AND (doc_id_a % 3 = 0 OR doc_id_b % 3 = 0))
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         |FROM documents d
         |WHERE doc_id % 3 = 0 AND NOT EXISTS (
         |  SELECT 1 FROM inc_losers l WHERE l.doc_id = d.doc_id)
         |ORDER BY doc_id""".stripMargin,
    // transitive closure of the SAME minhash pair set (est ≥ 0.8): min
    // reachable doc_id ≡ GraphX connectedComponents' min-vertex label
    "dedup_cluster_documents" ->
      s"""WITH RECURSIVE ${minhashPairCtes(16, 4)},
         |p AS (SELECT doc_id_a, doc_id_b FROM mh_j WHERE est_jaccard >= 0.8),
         |edges AS (SELECT doc_id_a AS a, doc_id_b AS b FROM p
         |          UNION ALL SELECT doc_id_b, doc_id_a FROM p),
         |walk(doc_id, reach) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT wk.doc_id, e2.b FROM walk wk JOIN edges e2 ON wk.reach = e2.a)
         |SELECT doc_id, min(reach)::BIGINT AS cluster_id
         |FROM walk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // LSH-candidate n-gram pairs: MinHash banding prunes the pair
    // space (est ≥ 0.1), exact Jaccard verifies — the Spark side
    // compares 64-bit gram hashes, the oracle the gram strings
    // (identical short of 2^-64 collisions, as with dedup_ngram_pairs)
    "dedup_ngram_lsh_pairs_documents" ->
      s"""WITH ${minhashPairCtes(16, 4)},
         |$NgramBaseCtes,
         |c AS (SELECT doc_id_a, doc_id_b FROM mh_j WHERE est_jaccard >= 0.1),
         |$NgramVerifyCte
         |SELECT doc_id_a, doc_id_b, exact_jaccard FROM j
         |WHERE exact_jaccard >= 0.1 ORDER BY doc_id_a, doc_id_b""".stripMargin,
    // SimHash near-dup pairs: 64-bit word-vote sketch + 4×16-bit
    // pigeonhole bands + bucket cap, replicated from the same kernel
    "dedup_simhash_pairs_documents" ->
      s"""WITH ${simhashPairCtes(3)}
         |SELECT doc_id_a, doc_id_b, hamming FROM sh_j
         |WHERE hamming <= 3 ORDER BY doc_id_a, doc_id_b""".stripMargin,
    // Lloyd-trained IVF, training INCLUDED: the query trains in portable
    // mode (6-dp assignment argmin; per-dimension means rounded to 6 dp
    // before the float cast — ulps from Spark's partial-agg merge order
    // cannot leak into a centroid), so the oracle unrolls the SAME
    // 3 Lloyd iterations in SQL from the same first-16 seeds (cid =
    // vec_id rank − 1 ≡ kMeansCentroids' zipWithIndex labels) and lands
    // on bit-identical centroids; empty cells keep their previous
    // centroid (LEFT JOIN + coalesce ≡ updated.getOrElse(cid, old)).
    // The final-centroid assignment, probe-list ranking, and top-k chain
    // then mirror the seed-IVF oracle. No keys remain oracle-less.
    "similarity_ivf_trained_embeddings" ->
      s"""WITH p AS (SELECT embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 1),
         |$LloydAsgfCtes,
         |pr AS (SELECT cid FROM (
         |        SELECT c.cid, round(${cosSql("c.cvec", "pp.pe", 64)}, 6) AS sim
         |        FROM cent3 c, p pp)
         |       ORDER BY sim DESC, cid LIMIT 4),
         |cand AS (SELECT * FROM asgf WHERE cid IN (SELECT cid FROM pr))
         |SELECT vec_id, label, round(${cosSql("cand.embedding", "pp2.pe", 64)}, 6) AS cosine
         |FROM cand, p pp2 ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    // appended-layout serving: Lloyd trains over the BASE slice only
    // (the parameterized lloydCtes — same 3 portable iterations), the
    // UNION then assigns against the frozen base-trained centroids,
    // and the probe/top-k chain mirrors the trained-IVF oracle: the
    // rebuild the engine's appended (never rewritten) layout must
    // serve identically to
    "similarity_ivf_appended_embeddings" ->
      s"""WITH ivb AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
         |${lloydCtes("ivb", "ia")},
         |p AS (SELECT embedding AS pe FROM embeddings ORDER BY vec_id LIMIT 1),
         |uaf AS (SELECT e.vec_id, e.label, e.embedding, c.cid,
         |        round(${cosSql("e.embedding", "c.cvec", 64)}, 6) AS d
         |      FROM embeddings e CROSS JOIN iacent3 c),
         |uasg AS (SELECT vec_id, label, embedding, cid FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
         |        FROM uaf) WHERE rn = 1),
         |upr AS (SELECT cid FROM (
         |        SELECT c.cid, round(${cosSql("c.cvec", "pp.pe", 64)}, 6) AS sim
         |        FROM iacent3 c, p pp)
         |       ORDER BY sim DESC, cid LIMIT 4),
         |ucand AS (SELECT * FROM uasg WHERE cid IN (SELECT cid FROM upr))
         |SELECT vec_id, label, round(${cosSql("ucand.embedding", "pp2.pe", 64)}, 6) AS cosine
         |FROM ucand, p pp2 ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    // minQuality tuning curve: same quality fragment → score histogram
    // → literal threshold grid inequality-joined against it
    // the grid LEFT-joins the histogram with coalesce(…, 0): a
    // fully-filtering cutoff reports 0 docs/tokens instead of
    // vanishing from the tuning curve (ADVICE r9)
    "quality_sweep_documents" -> {
      val grid = (0 to 9).map(i => s"(${i / 10.0}::DOUBLE)").mkString(", ")
      s"""WITH b AS (
         |  SELECT $QualitySignalsSql,
         |    ($WsToksSql)::BIGINT AS t
         |  FROM documents),
         |q AS (SELECT t,
         |    $QualityScoreSql AS q
         |  FROM b),
         |h AS (SELECT q, count(*)::BIGINT AS d, sum(t)::BIGINT AS tk FROM q GROUP BY q),
         |tot AS (SELECT sum(d)::BIGINT AS nd, sum(tk)::BIGINT AS nt FROM h),
         |g(thr) AS (VALUES $grid),
         |kept AS (SELECT g.thr,
         |    COALESCE(sum(h.d), 0)::BIGINT AS kd,
         |    COALESCE(sum(h.tk), 0)::BIGINT AS kt
         |  FROM g LEFT JOIN h ON h.q >= g.thr GROUP BY g.thr)
         |SELECT kept.thr AS threshold,
         |  kept.kd AS n_docs_kept, kept.kt AS n_tokens_kept,
         |  round(kept.kd::DOUBLE / tot.nd, 4) AS frac_docs,
         |  round(kept.kt::DOUBLE / tot.nt, 4) AS frac_tokens
         |FROM kept CROSS JOIN tot ORDER BY threshold""".stripMargin
    },
    // crawl-over-crawl drift: per-side quality fragment + fingerprint
    // census, FULL OUTER on source, DECIMAL quality mass (ivf recipe)
    "source_drift_documents" -> {
      def qside(pfx: String, pred: String): String =
        s"""${pfx}b AS (SELECT source, md5($NormSql) AS fp,
           |    $QualitySignalsSql
           |  FROM documents WHERE $pred),
           |${pfx}q AS (SELECT source, fp,
           |    $QualityScoreSql AS q
           |  FROM ${pfx}b),
           |${pfx}a AS (SELECT source, count(*)::BIGINT AS n_docs,
           |    count(DISTINCT fp)::BIGINT AS n_unique,
           |    sum(CAST(q AS DECIMAL(16,6)))::DOUBLE AS sq
           |  FROM ${pfx}q GROUP BY source)""".stripMargin
      s"""WITH ${qside("o", "doc_id % 4 <= 1")},
         |${qside("n", "doc_id % 4 >= 2")},
         |ov AS (SELECT source, count(*)::BIGINT AS n_shared FROM
         |    (SELECT DISTINCT source, fp FROM oq) a
         |    JOIN (SELECT DISTINCT source, fp FROM nq) b USING (source, fp)
         |  GROUP BY source),
         |j AS (SELECT source,
         |    coalesce(oa.n_docs, 0)::BIGINT AS n_docs_old,
         |    coalesce(na.n_docs, 0)::BIGINT AS n_docs_new,
         |    coalesce(oa.n_unique, 0)::BIGINT AS n_unique_old,
         |    coalesce(na.n_unique, 0)::BIGINT AS n_unique_new,
         |    oa.sq AS sq_old, na.sq AS sq_new
         |  FROM oa FULL OUTER JOIN na USING (source))
         |SELECT j.source AS source, n_docs_old, n_docs_new, n_unique_old, n_unique_new,
         |  coalesce(ov.n_shared, 0)::BIGINT AS n_shared_unique,
         |  CASE WHEN n_docs_old = 0 THEN 0.0
         |       ELSE round(coalesce(sq_old, 0.0) / n_docs_old, 4) END AS avg_quality_old,
         |  CASE WHEN n_docs_new = 0 THEN 0.0
         |       ELSE round(coalesce(sq_new, 0.0) / n_docs_new, 4) END AS avg_quality_new,
         |  CASE WHEN n_unique_new = 0 THEN 0.0
         |       ELSE round(1.0 - coalesce(ov.n_shared, 0)::DOUBLE / n_unique_new, 4)
         |       END AS content_churn
         |FROM j LEFT JOIN ov ON j.source = ov.source
         |ORDER BY j.source""".stripMargin
    },
    // sketch-quality report: composes the minhash and exact-ngram pair
    // CTE chains verbatim (mh_* / bare prefixes are disjoint); P/R are
    // exact small-integer divisions, F1 from the unrounded ratios.
    // K/bands/threshold interpolated from the SAME constants the Spark
    // call site defaults to (ADVICE r9: a retuned MinHashK must not
    // silently desync the one key that guards sketch tuning)
    "dedup_minhash_quality_documents" ->
      s"""WITH ${minhashPairCtes(graft.functions.Hashing.MinHashK, Dedup.Bands)},
         |$NgramPairCtes,
         |pred AS (SELECT doc_id_a, doc_id_b FROM mh_j
         |         WHERE est_jaccard >= $MinHashQualityThreshold),
         |truth AS (SELECT doc_id_a, doc_id_b FROM j
         |          WHERE exact_jaccard >= $MinHashQualityThreshold),
         |np AS (SELECT count(*)::BIGINT AS n_pred FROM pred),
         |nt AS (SELECT count(*)::BIGINT AS n_true FROM truth),
         |nh AS (SELECT count(*)::BIGINT AS n_hit
         |       FROM pred JOIN truth USING (doc_id_a, doc_id_b))
         |SELECT n_pred, n_true, n_hit,
         |  round(CASE WHEN n_pred = 0 THEN 0.0 ELSE n_hit::DOUBLE / n_pred END, 4) AS precision,
         |  round(CASE WHEN n_true = 0 THEN 0.0 ELSE n_hit::DOUBLE / n_true END, 4) AS recall,
         |  round(CASE WHEN (CASE WHEN n_pred = 0 THEN 0.0 ELSE n_hit::DOUBLE / n_pred END)
         |           + (CASE WHEN n_true = 0 THEN 0.0 ELSE n_hit::DOUBLE / n_true END) = 0.0
         |        THEN 0.0
         |        ELSE 2.0 * (CASE WHEN n_pred = 0 THEN 0.0 ELSE n_hit::DOUBLE / n_pred END)
         |           * (CASE WHEN n_true = 0 THEN 0.0 ELSE n_hit::DOUBLE / n_true END)
         |           / ((CASE WHEN n_pred = 0 THEN 0.0 ELSE n_hit::DOUBLE / n_pred END)
         |            + (CASE WHEN n_true = 0 THEN 0.0 ELSE n_hit::DOUBLE / n_true END)) END, 4) AS f1
         |FROM np, nt, nh ORDER BY n_pred""".stripMargin,
    // vector-table health: 6-dp per-row norms, DECIMAL(16,6) mass sum
    // (the ivf_cell_stats portability recipe); the dead-encode flag
    // reads the UNROUNDED sum of squares (= 0 iff all elements are 0)
    "embedding_stats_embeddings" ->
      s"""WITH n AS (SELECT label, len(embedding)::BIGINT AS dims,
         |    COALESCE(list_sum(list_transform(embedding,
         |      x -> x::DOUBLE * x::DOUBLE)), 0.0) AS ss,
         |    round(sqrt(list_sum(list_transform(embedding,
         |      x -> x::DOUBLE * x::DOUBLE))), 6) AS nrm
         |  FROM embeddings)
         |SELECT label, count(*)::BIGINT AS n_vecs,
         |  min(dims) AS dims_min, max(dims) AS dims_max,
         |  sum(CASE WHEN ss = 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_zero_norm,
         |  min(nrm) AS min_norm,
         |  sum(CAST(nrm AS DECIMAL(16,6)))::DOUBLE AS sum_norm,
         |  max(nrm) AS max_norm
         |FROM n GROUP BY label ORDER BY label""".stripMargin,
    // SemDeDup pairs/keep-set: training + assignment reuse the SAME
    // unrolled Lloyd chain as the trained-IVF oracle (one builder — the
    // two cannot drift); pairwise cosine at 6 dp only within a cluster
    "dedup_semantic_pairs_embeddings" ->
      s"""WITH $LloydAsgfCtes
         |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.cid AS centroid_id,
         |  round(${cosSql("a.embedding", "b.embedding", 64)}, 6) AS cos_sim
         |FROM asgf a JOIN asgf b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |WHERE round(${cosSql("a.embedding", "b.embedding", 64)}, 6)
         |      >= ${Similarity.SemDedupMinCos}
         |ORDER BY vec_id_a, vec_id_b""".stripMargin,
    "dedup_semantic_embeddings" ->
      s"""WITH $LloydAsgfCtes,
         |drops AS (SELECT DISTINCT b.vec_id
         |      FROM asgf a JOIN asgf b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |      WHERE round(${cosSql("a.embedding", "b.embedding", 64)}, 6)
         |            >= ${Similarity.SemDedupMinCos})
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM drops)
         |ORDER BY vec_id""".stripMargin,
    // transitive closure of the SAME semantic pair set: min reachable
    // vec_id ≡ the hash-to-min CC label (dedup_cluster_exact contract)
    "dedup_semantic_cluster_embeddings" ->
      s"""WITH RECURSIVE $LloydAsgfCtes,
         |sp AS (SELECT a.vec_id AS a, b.vec_id AS b
         |      FROM asgf a JOIN asgf b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |      WHERE round(${cosSql("a.embedding", "b.embedding", 64)}, 6)
         |            >= ${Similarity.SemDedupMinCos}),
         |edges AS (SELECT a, b FROM sp UNION ALL SELECT b, a FROM sp),
         |walk(vec_id, reach) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT wk.vec_id, e2.b FROM walk wk JOIN edges e2 ON wk.reach = e2.a)
         |SELECT vec_id, min(reach)::BIGINT AS cluster_id
         |FROM walk GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // index staleness: Lloyd chain (dr-prefixed) trained on the indexed
    // 3/4 split, both populations assigned against drcent3; DECIMAL-
    // exact sums, 4-dp drift (the accepted rounding class)
    "ivf_drift_embeddings" ->
      s"""WITH dr_idx AS (SELECT vec_id, label, embedding FROM embeddings
         |      WHERE vec_id % 4 <> 0),
         |dr_new AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0),
         |${lloydCtes("dr_idx", "dr")},
         |dr_ia AS (SELECT a.cid, round(${cosSql("a.embedding", "c.cvec", 64)}, 6) AS sim
         |  FROM drasgf a JOIN drcent3 c ON c.cid = a.cid),
         |dr_na0 AS (SELECT e.vec_id, c.cid,
         |    round(${cosSql("e.embedding", "c.cvec", 64)}, 6) AS d
         |  FROM dr_new e CROSS JOIN drcent3 c),
         |dr_na AS (SELECT cid, d FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
         |    FROM dr_na0) WHERE rn = 1),
         |dr_ic AS (SELECT cid, count(*)::BIGINT AS n_indexed,
         |    sum(CAST(sim AS DECIMAL(10,6)))::DOUBLE AS s FROM dr_ia GROUP BY cid),
         |dr_nc AS (SELECT cid, count(*)::BIGINT AS n_new,
         |    sum(CAST(d AS DECIMAL(10,6)))::DOUBLE AS s FROM dr_na GROUP BY cid),
         |dr_j AS (SELECT coalesce(i.cid, n.cid) AS centroid_id,
         |    coalesce(i.n_indexed, 0)::BIGINT AS n_indexed,
         |    coalesce(i.s, 0.0) AS sum_sim_indexed,
         |    coalesce(n.n_new, 0)::BIGINT AS n_new,
         |    coalesce(n.s, 0.0) AS sum_sim_new
         |  FROM dr_ic i FULL OUTER JOIN dr_nc n ON i.cid = n.cid)
         |SELECT centroid_id, n_indexed, sum_sim_indexed, n_new, sum_sim_new,
         |  round((CASE WHEN n_new = 0 THEN 0.0 ELSE sum_sim_new / n_new END)
         |      - (CASE WHEN n_indexed = 0 THEN 0.0
         |         ELSE sum_sim_indexed / n_indexed END), 4) AS drift
         |FROM dr_j ORDER BY centroid_id""".stripMargin,
    // prototype pruning: the SAME Lloyd chain as the SemDeDup oracles,
    // plus the per-cluster (proto_cos, vec_id) rank and the ⌊n·pct/100⌋
    // keep boundary (exact integer: long product, float div, floor)
    "prune_prototypes_embeddings" ->
      s"""WITH $LloydAsgfCtes,
         |${protoPruneCtes("", "")}
         |SELECT vec_id, label, centroid_id, proto_cos,
         |  (CASE WHEN rn <= floor(n * ${Similarity.PrototypeKeepPct} / 100)
         |   THEN 1 ELSE 0 END)::BIGINT AS selected
         |FROM pr ORDER BY vec_id""".stripMargin,
    // D4: the SemDeDup drop set from the first Lloyd chain, a SECOND
    // Lloyd chain (d4-prefixed) unrolled over the survivor relation,
    // then the prototype rank against the RETRAINED centroids
    "d4_select_embeddings" ->
      s"""WITH $LloydAsgfCtes,
         |drops AS (SELECT DISTINCT b.vec_id
         |      FROM asgf a JOIN asgf b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |      WHERE round(${cosSql("a.embedding", "b.embedding", 64)}, 6)
         |            >= ${Similarity.SemDedupMinCos}),
         |surv AS (SELECT vec_id, label, embedding FROM embeddings
         |      WHERE vec_id NOT IN (SELECT vec_id FROM drops)),
         |${lloydCtes("surv", "d4")},
         |${protoPruneCtes("d4", "d4")}
         |SELECT vec_id, label, centroid_id, proto_cos,
         |  (CASE WHEN rn <= floor(n * ${Similarity.PrototypeKeepPct} / 100)
         |   THEN 1 ELSE 0 END)::BIGINT AS selected
         |FROM d4pr ORDER BY vec_id""".stripMargin,
  )

  /** Unrolled portable-Lloyd CTE chain (3 iterations, 16 seed
    * centroids): ends at `cent3(cid, cvec)` and the final assignment
    * `asgf(vec_id, label, embedding, cid)`. Shared by the trained-IVF
    * oracle and the SemDeDup oracles so training can never drift
    * between them. Mirrors [[graft.ext.Similarity.kMeansCentroids]] in
    * portable mode: 6-dp assignment argmin (ties → lowest cid), 6-dp
    * per-dimension means, empty cells keep their previous centroid.
    */
  /** Fixed-width word-segment CTE chain: `seg(doc_id, lang, source,
    * seg_idx, seg)` — THE 10-word segment cut, shared by
    * `segment_dedup` and `source_overlap` (mirrors
    * [[graft.ext.Corpus.docSegments]]) so segment granularity is one
    * formula on each side, never two.
    */
  private lazy val SegmentCtes: String =
    s"""w AS (SELECT doc_id, lang, source, string_split($NormSql, ' ') AS words
       |           FROM documents),
       |s0 AS (SELECT doc_id, lang, source, words,
       |         unnest(range(0, CAST(ceil(GREATEST(len(words), 1) / 10.0) AS BIGINT))) AS seg_idx
       |       FROM w),
       |seg AS (SELECT doc_id, lang, source, seg_idx,
       |          array_to_string(words[CAST(seg_idx*10+1 AS BIGINT):CAST(seg_idx*10+10 AS BIGINT)], ' ') AS seg
       |        FROM s0)""".stripMargin

  /** Greedy ws-token pack-map CTE chain: `pg(doc_id, lang, n_tokens,
    * pack_id)` from the SAME constants as [[graft.ext.Corpus.packGreedy]]'s
    * declared call — shared by `pack_greedy` and `mixture_schedule` so
    * the pack boundaries can never drift between them.
    */
  private lazy val PackGreedyCtes: String =
    s"""t AS (SELECT doc_id, lang, ($WsToksSql)::BIGINT AS n_tokens,
       |  doc_id % $PackShards AS shard FROM documents),
       |c AS (SELECT doc_id, lang, n_tokens, shard,
       |  SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM t),
       |pg AS (SELECT doc_id, lang, n_tokens,
       |  lang || '#' || shard::VARCHAR || '#' ||
       |    CAST(FLOOR((cum - n_tokens) / $PackBudgetTokens) AS BIGINT)::VARCHAR AS pack_id
       |  FROM c)""".stripMargin

  /** Concat-and-chunk CTE chain over the finished BPE encode (`en_t`):
    * per-doc token counts → global offsets (sequential window — the
    * oracle may be serial; the engine's two-level scan must only match
    * it) → one row per (doc, block) span in `ps_s(doc_id, c, off,
    * block_id)`. Shared by `pack_sequences` and `shuffle_blocks` so
    * the block tiling can never drift between them.
    */
  private def packCtes(blockTokens: Int): String =
    s"""ps_c AS (SELECT doc_id, bpe_tokens AS c FROM en_t WHERE bpe_tokens > 0),
       |ps_o AS (SELECT doc_id, c,
       |    coalesce(sum(c) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
       |  FROM ps_c),
       |ps_s AS (SELECT doc_id, c, off,
       |    unnest(generate_series(off // $blockTokens, (off + c - 1) // $blockTokens)) AS block_id
       |  FROM ps_o)""".stripMargin

  /** The trainer-order oracle TAIL over a finished `ps_s` pack chain
    * (block aggregate → `salt`-keyed hash permutation → per-shard rank
    * → stride/WFQ schedule + final order) — ONE text shared by
    * `trainer_order`, the composed `corpus_to_trainer`, and the
    * per-epoch key (which differ only in upstream source and salt), so
    * the schedule semantics can never drift between them.
    */
  private def trainerOrderTail(L: Int, S: Int, salt: String): String =
    s"""sb_r AS (SELECT doc_id, block_id::BIGINT AS block_id,
       |    (least(off + c, (block_id + 1) * $L)
       |      - greatest(off, block_id * $L))::BIGINT AS n_tokens
       |  FROM ps_s),
       |sb_blk AS (SELECT block_id, count(*)::BIGINT AS n_docs,
       |    sum(n_tokens)::BIGINT AS n_tokens
       |  FROM sb_r GROUP BY block_id),
       |sb_s AS (SELECT DISTINCT '$salt' || block_id::VARCHAR AS s FROM sb_blk),
       |${hash64Ctes("sbk", "sb_s", "s")},
       |sb_k AS (SELECT b.block_id, b.n_docs, b.n_tokens,
       |    (h % 9223372036854775808::UHUGEINT)::BIGINT AS k
       |  FROM sb_blk b JOIN sbk_h64 ON sbk_h64.s = '$salt' || b.block_id::VARCHAR),
       |to_sb AS (SELECT block_id, n_docs, n_tokens, (k % $S)::BIGINT AS shard,
       |    (row_number() OVER (PARTITION BY k % $S ORDER BY k, block_id)
       |      - 1)::BIGINT AS pos
       |  FROM sb_k),
       |to_c AS (SELECT shard, count(*)::BIGINT AS c FROM to_sb GROUP BY shard)
       |SELECT (pos * 2 + 1) / (c * 2) AS sched_key, shard, pos,
       |  block_id, n_docs, n_tokens
       |FROM to_sb JOIN to_c USING (shard)
       |ORDER BY sched_key, shard, pos""".stripMargin

  /** Benchmark-decontamination oracle (8-gram containment over the
    * doc_id % 97 split) — shared verbatim by `decontaminate_documents`
    * and `decontaminate_bloom_documents`: the two keys differ only in
    * physical plan (full gram join vs bloom-pruned confirm).
    */
  private lazy val DecontaminateOracleSql: String = {
    val n = 8
    def grams(src: String) =
      s"""SELECT doc_id, unnest(
         |  CASE WHEN len(words) < $n THEN [array_to_string(words, ' ')]
         |       ELSE list_distinct(list_transform(range(1, len(words) - ${n - 2}),
         |            i -> array_to_string(words[i:i+${n - 1}], ' '))) END) AS gram
         |FROM (SELECT doc_id, string_split($NormSql, ' ') AS words FROM $src)""".stripMargin
    s"""WITH corp AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
       |bench AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
       |bg AS (SELECT DISTINCT gram FROM (${grams("bench")})),
       |cg AS (${grams("corp")}),
       |hits AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (gram))
       |SELECT doc_id, text, lang, source, n_chars FROM corp
       |WHERE doc_id NOT IN (SELECT doc_id FROM hits) ORDER BY doc_id""".stripMargin
  }

  /** CTE chain of the COMPLETE curation pipeline (redact → quality →
    * dedup → decontaminate → per-source rank), ending in `cap` whose
    * `rn <= 50` filter the consumer applies — shared verbatim by
    * `curate_full_documents` and the composed `corpus_to_trainer`
    * key, so the curation the trainer chain consumes can never drift
    * from the curation the curation key pins.
    */
  private lazy val CurateFullCtes: String = {
    val normClean = """trim(regexp_replace(lower(clean_text), '\s+', ' ', 'g'))"""
    val n = 8
    def grams(src: String, c: String) =
      s"""SELECT doc_id, unnest(
         |  CASE WHEN len(words) < $n THEN [array_to_string(words, ' ')]
         |       ELSE list_distinct(list_transform(range(1, len(words) - ${n - 2}),
         |            i -> array_to_string(words[i:i+${n - 1}], ' '))) END) AS gram
         |FROM (SELECT doc_id,
         |      string_split(trim(regexp_replace(lower($c), '\\s+', ' ', 'g')), ' ') AS words
         |      FROM $src)""".stripMargin
    s"""corp AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
       |bench AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
       |r AS (SELECT doc_id,
       |  regexp_replace(regexp_replace(text, '${Corpus.EmailRegex}', '<EMAIL>', 'g'),
       |                 '${Corpus.LongNumberRegex}', '<NUM>', 'g') AS clean_text
       |  FROM corp),
       |qb AS (SELECT doc_id,
       |  $QualitySignalsSql FROM corp),
       |q AS (SELECT doc_id, $QualityScoreSql AS quality_score
       |  FROM qb),
       |j AS (SELECT corp.doc_id, corp.lang, corp.source, r.clean_text, q.quality_score
       |      FROM corp JOIN r USING (doc_id) JOIN q USING (doc_id)
       |      WHERE q.quality_score >= 0.5),
       |w AS (SELECT min(doc_id) AS doc_id FROM j GROUP BY md5($normClean)),
       |dd AS (SELECT * FROM j WHERE doc_id IN (SELECT doc_id FROM w)),
       |bg AS (SELECT DISTINCT gram FROM (${grams("bench", "text")})),
       |cg AS (${grams("dd", "clean_text")}),
       |hits AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (gram)),
       |dc AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
       |cap AS (SELECT dc.*, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
       |        FROM dc)""".stripMargin
  }

  private lazy val LloydAsgfCtes: String = lloydCtes("embeddings", "")

  /** [[LloydAsgfCtes]] parameterized by source relation and CTE-name
    * prefix, so a SECOND Lloyd run (e.g. D4's re-clustering of the
    * SemDeDup survivors) unrolls in the same statement without name
    * collisions. With `src = "embeddings"`, `pfx = ""` the emitted SQL
    * is byte-identical to the pre-refactor constant — the three
    * pre-existing SemDeDup oracles cannot drift.
    */
  private def lloydCtes(src: String, pfx: String): String = {
    def iter(k: Int): String =
      s"""${pfx}a$k AS (SELECT e.vec_id, c.cid,
         |        round(${cosSql("e.embedding", "c.cvec", 64)}, 6) AS d
         |      FROM $src e CROSS JOIN ${pfx}cent$k c),
         |${pfx}asg$k AS (SELECT vec_id, cid FROM (
         |        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
         |        FROM ${pfx}a$k) WHERE rn = 1),
         |${pfx}m$k AS (SELECT s.cid, t.i, round(avg(e.embedding[t.i]::DOUBLE), 6)::FLOAT AS v
         |      FROM ${pfx}asg$k s JOIN $src e USING (vec_id) CROSS JOIN range(1, 65) t(i)
         |      GROUP BY s.cid, t.i),
         |${pfx}nc$k AS (SELECT cid, list(v ORDER BY i) AS cvec FROM ${pfx}m$k GROUP BY cid),
         |${pfx}cent${k + 1} AS (SELECT c.cid, coalesce(n.cvec, c.cvec) AS cvec
         |      FROM ${pfx}cent$k c LEFT JOIN ${pfx}nc$k n USING (cid)),""".stripMargin
    s"""${pfx}cent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cvec
       |      FROM (SELECT vec_id, embedding FROM $src ORDER BY vec_id LIMIT 16)),
       |${iter(0)}
       |${iter(1)}
       |${iter(2)}
       |${pfx}af AS (SELECT e.vec_id, e.label, e.embedding, c.cid,
       |        round(${cosSql("e.embedding", "c.cvec", 64)}, 6) AS d
       |      FROM $src e CROSS JOIN ${pfx}cent3 c),
       |${pfx}asgf AS (SELECT vec_id, label, embedding, cid FROM (
       |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
       |        FROM ${pfx}af) WHERE rn = 1)""".stripMargin
  }

  /** Prototype-prune CTE pair over a finished Lloyd chain: per-vector
    * cosine to its own centroid, per-cluster (proto_cos asc, vec_id)
    * rank, keep = rank ≤ ⌊n·keepPct/100⌋ — mirrors
    * [[graft.ext.Similarity.prunePrototypes]] exactly.
    */
  private def protoPruneCtes(pfx: String, out: String): String =
    s"""${out}pp AS (SELECT a.vec_id, a.label, a.cid AS centroid_id,
       |    round(${cosSql("a.embedding", "c.cvec", 64)}, 6) AS proto_cos
       |  FROM ${pfx}asgf a JOIN ${pfx}cent3 c ON c.cid = a.cid),
       |${out}pr AS (SELECT *,
       |    row_number() OVER (PARTITION BY centroid_id
       |                       ORDER BY proto_cos, vec_id) AS rn,
       |    count(*) OVER (PARTITION BY centroid_id) AS n
       |  FROM ${out}pp)""".stripMargin
}
