package graft

/** Enforces SCALE.md's join-strategy claims as invariants instead of
  * prose: every declared query's physical plan must be free of
  * `CartesianProduct`, and `BroadcastNestedLoopJoin` may appear only
  * where a broadcast-bounded cross join IS the declared design (1-row
  * probe / ≤2^16-row sketch census in the similarity family). A future
  * refactor that silently regresses a join to a quadratic strategy
  * fails here at sf0.001 instead of at 100 TB.
  */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
    * the probe side is a broadcast relation bounded by construction
    * (one probe row, or the centroid/sketch census capped at 2^16
    * rows), so the "nested loop" is a constant-size inner loop per
    * stream row — the declared design, not a regression.
    */
  private val bnljAllowed: Set[String] = Set(
    "similarity_ann_embeddings",
    "similarity_ann_recall_embeddings",
    "similarity_topk_embeddings",
    "similarity_ivf_embeddings",
    "similarity_ivf_recall_embeddings",
    "similarity_ivf_trained_embeddings",
    // TF-IDF/BM25 join in ONE corpus-constant row (N, avgdl) via an
    // explicit broadcast cross join — a constant-time inner loop
    "tfidf_top_terms_documents",
    "bm25_search_documents",
    "bm25_search_terms_documents",
    // unigram LM joins in ONE corpus-constant row (total token count)
    // the same way
    "unigram_logprob_documents",
    // bigram LM joins in the same ONE-row total for the backoff floor
    "bigram_logprob_documents",
    // CCNet buckets score with that same bigram LM (the ONE-row total
    // is inherited); the tercile classify itself is hash-joined
    "perplexity_buckets_documents",
    // RFM segmentation joins in ONE corpus-constant row (max order
    // date) the same way
    "analytics_customer_segments",
    // KMV summary cross-joins three ONE-row aggregates (scalars ×
    // sketch estimates × histogram quantiles) — constant-size loops
    "corpus_summary_approx_documents",
    // sketch P/R report cross-joins three ONE-row counts the same way
    "dedup_minhash_quality_documents",
    // threshold sweep: a ≤10-row literal grid inequality-joined against
    // the ≤10⁴-row score histogram + a ONE-row totals cross join
    "quality_sweep_documents",
    // DSIR joins in ONE corpus-constant row twice (model totals for the
    // smoothed log-ratio; the top-k count k) — constant-size loops
    "dsir_select_documents",
    // temperature quotas join in ONE corpus-constant row (N, Σ⌊√n⌋)
    // against the per-language counts — a constant-size loop over a
    // language-cardinality frame, never the corpus
    "sample_temperature_documents",
    // the classifier's top-pct tail joins in the same ONE-row k via the
    // shared topPctBy kernel — a constant-size loop
    "classifier_select_documents",
    // JL projection recall gate: BOTH sides are evaluation shapes —
    // the bounded probe batch cross-joins the corpus once in projected
    // space and once at full dim (the knnJoinExact design ×2)
    "embedding_project_recall_embeddings",
    // recall ground truth: the bounded probe batch (≤16 by the serving
    // contract) broadcasts and cross-joins the corpus ONCE — exact
    // recall evaluation is corpus-linear by definition, and the inner
    // loop is probe-batch-sized (an evaluation shape, never serving)
    "similarity_knn_join_recall_embeddings",
    // RangeJoin's long-interval guard: the build side is the broadcast
    // of intervals spanning > maxBinsPerInterval bins — rare by
    // construction (RangeJoin.scala long path), and exactly the rows
    // the bin-bucketed equi-join must NOT see
    "range_join_sessions")

  /** The driver hashes ROW ORDER, so every declared query must end in
    * a total (global) sort — a missing final orderBy hash-mismatches
    * nondeterministically at driver time, the worst kind of failure.
    * Limits/projects above the sort are fine (top-k compiles to
    * GlobalLimit over Sort → TakeOrderedAndProject).
    */
  private def hasTotalOrder(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case s: Sort => s.global
      case l: GlobalLimit => hasTotalOrder(l.child)
      case l: LocalLimit => hasTotalOrder(l.child)
      case pr: Project => hasTotalOrder(pr.child)
      // a plan provably yielding ≤1 row (a global aggregate, or joins
      // of such) is trivially totally ordered, and EliminateSorts
      // correctly strips the query's final orderBy above it
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      case p if p.maxRows.exists(_ <= 1) => true
      case _ => false
    }
  }

  /** Walks AQE's final plan, query stages included. */
  private object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  test("kNN-graph builds: the vector ⋈ probe-cell join is a shuffle join on centroid_id, never a broadcast") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    // graphTail pins the join so the per-(probe, cell) local top-k
    // runs inside the join stage; left to the planner, the probe-cell
    // side broadcasts at every corpus size and the window pays its own
    // exchange
    def onCentroid(keys: Seq[Expression]): Boolean = keys.exists {
      case a: AttributeReference => a.name == "centroid_id"
      case _ => false
    }
    val embs = graft.io.Sources.table(spark, sfDir, "embeddings")
    for ((name, df) <- Seq(
        "knn_graph_embeddings" -> SparkEntry.queries("knn_graph_embeddings")(spark, sfDir),
        "knnGraphHier" -> graft.ext.Similarity.knnGraphHier(embs, k = 4, superK = 4,
          superProbe = 2))) {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val shuffled = Aqe.collect(plan) {
        case j: SortMergeJoinExec if onCentroid(j.leftKeys) && onCentroid(j.rightKeys) => j
      }
      val broadcast = Aqe.collect(plan) { case j: BroadcastHashJoinExec => j }
      assert(shuffled.size == 1 && broadcast.isEmpty,
        s"$name: want one sort-merge join on centroid_id and no broadcast join:\n$plan")
    }
  }

  for ((key, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"plan shape: $key") {
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(hasTotalOrder(df.queryExecution.optimizedPlan),
        s"$key does not end in a total ORDER BY (driver hashes row order)")
      graft.core.CacheScope.releaseAll()
      assert(!plan.contains("CartesianProduct"),
        s"$key plans a CartesianProduct:\n$plan")
      if (!bnljAllowed(key))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$key plans a BroadcastNestedLoopJoin (not in the declared allowlist):\n$plan")
    }
  }
}
