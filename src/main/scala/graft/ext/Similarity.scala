package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a single narrow projection +
  * TakeOrderedAndProject (per-partition top-k, then driver merge of k
  * rows per partition: no full sort, no shuffle of the data).
  *
  * Scale path: IVF — vectors pre-assigned to their nearest centroid
  * (one narrow pass given broadcast centroids); a probe scans only the
  * `nProbe` closest partitions, i.e. nProbe/C of the data. The physical
  * half is [[writeClustered]]: the assigned table persisted PARTITIONED
  * by centroid_id, so a probe's id list prunes parquet files at listing
  * time ([[ivfTopKClustered]]) instead of scanning everything and
  * discarding rows the way the post-scan semi-join does.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double.
    * (Built-in array expressions; kept for composability — the hot
    * paths below use the codegen'd kernels instead.)
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity (0 when either norm is 0) — codegen'd custom
    * expression (graft.functions.CosineSimExpr): one fused JVM loop per
    * pair vs three interpreted array-aggregates.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  /** Brute-force cosine top-k against a constant probe vector.
    * The probe is a literal array — broadcast implicitly in the plan.
    */
  /** k for the recall@k regression gates (ann / ivf / pq): ONE
    * constant, interpolated into both the engine lambdas and the
    * oracle SQL (denominator, inner LIMITs, the k row) so the metric
    * cannot drift between sides. recall@k is defined for tables with
    * ≥ k rows — true of every declared fixture; on a smaller table
    * both top-k lists shrink to n and the k-denominator fraction
    * under-states a perfect result.
    */
  val RecallK = 10

  def topK(embeddings: DataFrame, probe: Seq[Float], k: Int = 10): DataFrame = {
    val probeCol = array(probe.map(lit): _*)
    embeddings
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), probeCol), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic probe: the embedding of the row with the smallest
    * vec_id (collected — a single tiny row, not a data collect).
    */
  def defaultProbe(embeddings: DataFrame): Seq[Float] =
    embeddings.orderBy("vec_id").select("embedding").limit(1)
      .collect()(0).getSeq[Float](0)

  // ------------------------------------------------------ hyperplane LSH

  /** Sign-bit sketch of seeded hyperplanes packed into a BIGINT —
    * codegen'd custom expression; reused by Dedup.embeddingPairs.
    */
  def hyperplaneSketch(emb: Column, dim: Int, planes: Int): Column =
    graft.functions.GraftFunctions.hyperplaneSketch(emb, dim, planes)

  /** LSH-bucketed ANN top-k: scan only buckets whose sketch is within
    * `maxHamming` of the probe sketch (sketch comparison is a bigint
    * xor/bit_count on a tiny aggregated bucket list — the scan of the
    * full table is pruned by a broadcast semi-join on the sketch value).
    */
  def annTopK(
      embeddings: DataFrame,
      probe: Seq[Float],
      k: Int = 10,
      dim: Int = 64,
      planes: Int = 16,
      maxHamming: Int = 3): DataFrame = {
    val probeCol = array(probe.map(lit): _*)
    val sketched = embeddings.withColumn("sk",
      hyperplaneSketch(col("embedding"), dim, planes))
    val probeSketch = sketched.sparkSession.range(1)
      .select(hyperplaneSketch(array(probe.map(lit): _*), dim, planes).as("psk"))
    val nearBuckets = sketched.select(col("sk")).distinct()
      .crossJoin(broadcast(probeSketch))
      .filter(bit_count(col("sk").bitwiseXOR(col("psk"))) <= maxHamming)
      .select("sk")
    sketched
      .join(broadcast(nearBuckets), Seq("sk"), "left_semi")
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), probeCol), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------------------------ IVF

  /** Seed centroids: the first `nCentroids` vectors by vec_id — the
    * deterministic k-means init (k-means++ would sharpen it; the seeds
    * only need to be spread enough for Lloyd to converge).
    */
  def seedCentroids(embeddings: DataFrame, nCentroids: Int): Seq[(Long, Seq[Float])] =
    embeddings.orderBy("vec_id").limit(nCentroids)
      .select(col("vec_id"), col("embedding")).collect()
      .toIndexedSeq.map(r => r.getLong(0) -> r.getSeq[Float](1))

  /** Lloyd k-means over cosine assignment: each iteration is one
    * distributed pass (narrow nearest-centroid assignment + per-dimension
    * mean via posexplode/groupBy), then a k×dim collect — the ONLY
    * driver-side data is the centroid matrix itself. Empty clusters keep
    * their previous centroid.
    *
    * The (vec_id, embedding) projection is pinned for the duration of
    * the loop and released on exit: the SOURCE is scanned once total,
    * however many iterations run — not once per iteration.
    */
  def kMeansCentroids(
      embeddings: DataFrame,
      nCentroids: Int = 16,
      iterations: Int = 5,
      portable: Boolean = false): Seq[(Long, Seq[Float])] =
    kMeansLoop(embeddings, nCentroids, iterations, portable,
      cents => if (portable) nearestCentroidPortable(cents) else nearestCentroid(cents))

  /** [[kMeansCentroids]] with the TWO-LEVEL assignment inside every
    * Lloyd iteration ([[nearestCentroidTwoLevel]]): per-row cost drops
    * from O(k·dim) to O(2√k·dim), which is what keeps TRAINING
    * sub-linear when nCentroids scales ∝ corpus (at k=512 the flat
    * argmin dominates the whole train phase — SCALE.md r9).
    * The trajectory is Lloyd-on-approximate-assignment (the standard
    * hierarchical/IVF k-means trade); centroids differ slightly from
    * the flat run, which SemDeDup tolerates by construction (the paper
    * itself uses approximate clustering). The portable flat path —
    * [[kMeansCentroids]] — remains the oracle-checkable variant.
    * Every k assigns in-plan: each probed arm is one matrix
    * expression, so the plan does not grow with k·dim (at k = 1600 it
    * ran 2.3× faster than the retired broadcast member-table join,
    * SCALE.md "Join twins retired").
    */
  def kMeansCentroidsFast(
      embeddings: DataFrame,
      nCentroids: Int,
      iterations: Int = 3,
      superK: Int = 0): Seq[(Long, Seq[Float])] =
    kMeansLoop(embeddings, nCentroids, iterations, portable = false,
      cents => nearestCentroidTwoLevel(cents, superK))

  private def kMeansLoop(
      embeddings: DataFrame,
      nCentroids: Int,
      iterations: Int,
      portable: Boolean,
      assignOf: Seq[(Long, Seq[Float])] => Column): Seq[(Long, Seq[Float])] = {
    val cached = embeddings.select(col("vec_id"), col("embedding")).persist()
    try {
      var centroids = seedCentroids(cached, nCentroids)
        .zipWithIndex.map { case ((_, v), i) => i.toLong -> v }
      for (_ <- 0 until iterations) {
        // portable mode rounds each per-dimension mean to 6 dp before the
        // float cast: with the 6-dp assignment argmin this makes every
        // iteration's centroids reproducible across engines, so an
        // unrolled SQL replica of the SAME Lloyd run lands on
        // bit-identical centroids — the training becomes oracle-checkable
        val meanCol = if (portable) round(avg("v"), 6) else avg("v")
        val updated = cached.withColumn("centroid_id", assignOf(centroids))
          .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("centroid_id", "pos").agg(meanCol.as("v"))
          .groupBy("centroid_id")
          .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
          .select(col("centroid_id"),
            transform(col("pv"), x => x.getField("v").cast("float")).as("cvec"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
        centroids = centroids.map { case (cid, old) => cid -> updated.getOrElse(cid, old) }
      }
      centroids
    } finally cached.unpersist(blocking = false)
  }

  /** An IVF index: the trained centroid matrix. At cluster scale this is
    * what an offline index-build job produces (and the vectors get
    * written bucketed by `centroid_id`); queries then only consume it.
    */
  final case class IvfIndex(centroids: Seq[(Long, Seq[Float])]) {
    def toDF(spark: SparkSession): DataFrame = centroidsDF(spark, centroids)
  }

  /** Explicit index-build step (seed → Lloyd refine). Queries take the
    * returned index instead of re-training inside the query builder.
    */
  def buildIvfIndex(
      embeddings: DataFrame,
      nCentroids: Int = 16,
      iterations: Int = 3,
      portable: Boolean = false): IvfIndex =
    IvfIndex(kMeansCentroids(embeddings, nCentroids, iterations, portable))

  /** Persist a trained index as a first-class parquet artifact
    * (`centroid_id BIGINT, cvec ARRAY<FLOAT>`) — the missing half of
    * the offline build job: [[writeClustered]] persists the vector
    * LAYOUT, this persists the centroids the layout was built against,
    * so serving queries ([[ivfTopKClustered]], [[knnJoinAssigned]],
    * streaming similarity/drift) load instead of re-training Lloyd
    * in-query. Parquet float32 round-trips bit-exactly, so a loaded
    * index serves bit-identical results to the in-memory one
    * (spec-pinned). `coalesce(1)`: the artifact is k×dim driver-scale
    * data — one file, one footer, trivially broadcastable on load.
    */
  def saveIndex(spark: SparkSession, index: IvfIndex, path: String): Unit =
    index.toDF(spark).coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a persisted index ([[saveIndex]]). Centroids come back
    * sorted by `centroid_id` — argmin assignment and probe ranking are
    * order-independent (both compare `(score, cid)` structs), so any
    * in-memory ordering serves identically; sorting makes the loaded
    * artifact canonical for equality checks. The collect is the index
    * (k rows), never data.
    */
  def loadIndex(spark: SparkSession, path: String): IvfIndex =
    IvfIndex(spark.read.parquet(path)
      .select(col("centroid_id"), col("cvec"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
      .sortBy(_._1).toSeq)

  /** Nearest-centroid expression over `embedding`: the argmin of
    * `(d = -cosine, cid)` with the same (d asc, cid asc) tie-break as an
    * ORDER BY would give, in ONE narrow projection (zero exchanges; the
    * crossJoin+window alternative shuffles nCentroids× the data just to
    * pick an argmin).
    */
  def nearestCentroid(centroids: Seq[(Long, Seq[Float])]): Column =
    nearestCentroidStruct(centroids).getField("cid")

  /** The argmin STRUCT `(d = -cosine, cid)` of [[nearestCentroid]] —
    * the composable form the two-level assignment min-merges across its
    * probed super-cells.
    */
  private def nearestCentroidStruct(centroids: Seq[(Long, Seq[Float])]): Column =
    rankCentroids(centroids, rounded = false)

  /** One [[graft.functions.NearestCentroidExpr]] over `embedding`: the
    * centroids ride as one packed matrix, not as `k·dim` float literals,
    * so the plan and its generated code stay O(1) in `k·dim`. `topN =
    * None` is the argmin struct `(d, cid)`; `Some(n)` the `n` best
    * structs ascending. `rounded` compares `d` at 6 dp (the portable
    * form).
    */
  private def rankCentroids(
      centroids: Seq[(Long, Seq[Float])],
      rounded: Boolean,
      topN: Option[Int] = None): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.NearestCentroidExpr(
      org.apache.spark.sql.GraftBridge.expression(col("embedding")),
      graft.functions.CentroidMatrix(centroids), rounded, topN))

  /** Per probed super-cell, `arm` over that cell's members, picked by
    * a CASE chain over the cells — each chain evaluates only the arm
    * its super id selects. Stage A of every two-level kernel ranks the
    * super ids (indices into `cells`): the `superProbe` super-centroids
    * nearest the row's `embedding`, best first — unrounded `-cosine`,
    * ties on the lower index.
    */
  private def probedArms(
      cells: Seq[(Seq[Float], Seq[(Long, Seq[Float])])],
      superProbe: Int)(arm: Seq[(Long, Seq[Float])] => Column): Seq[Column] = {
    val ranked = rankCentroids(
      cells.zipWithIndex.map { case ((sv, _), si) => si.toLong -> sv },
      rounded = false, topN = Some(superProbe))
    val branches = cells.zipWithIndex.map { case ((_, members), si) => si -> arm(members) }
    (1 to superProbe).map(p => element_at(ranked, p).getField("cid")).map { sid =>
      branches.tail.foldLeft(when(sid === lit(branches.head._1), branches.head._2)) {
        case (acc, (si, a)) => acc.when(sid === lit(si), a)
      }
    }
  }

  def ivfAssignTo(
      embeddings: DataFrame,
      centroids: Seq[(Long, Seq[Float])]): DataFrame =
    embeddings
      .withColumn("centroid_id", nearestCentroid(centroids))
      .select("vec_id", "embedding", "label", "centroid_id")

  def ivfAssign(embeddings: DataFrame, nCentroids: Int = 16): DataFrame =
    ivfAssignTo(embeddings, seedCentroids(embeddings, nCentroids))

  /** [[ivfAssignTo]] with the 6-dp portable argmin — the assignment an
    * oracle-checkable query must use (ulps cannot flip a cell).
    */
  def ivfAssignPortableTo(
      embeddings: DataFrame,
      centroids: Seq[(Long, Seq[Float])]): DataFrame =
    embeddings
      .withColumn("centroid_id", nearestCentroidPortable(centroids))
      .select("vec_id", "embedding", "label", "centroid_id")

  /** [[nearestCentroid]] with the distance compared at 6 dp: the argmin
    * becomes engine-portable (summation-order ulps cannot flip it;
    * near-ties resolve by centroid_id), which is what lets the
    * seed-centroid IVF query be oracle-checked in SQL.
    */
  def nearestCentroidPortable(centroids: Seq[(Long, Seq[Float])]): Column = {
    nearestCentroidScoredPortable(centroids).getField("cid")
  }

  /** The full argmin struct of [[nearestCentroidPortable]] —
    * `(d = -cosine@6dp, cid)` — for callers that need the winning
    * similarity as well as the id (cell diagnostics).
    */
  def nearestCentroidScoredPortable(centroids: Seq[(Long, Seq[Float])]): Column =
    rankCentroids(centroids, rounded = true)

  /** Per-cell IVF index diagnostics over the deterministic seed
    * centroids: vector count and the min/mean/max similarity of each
    * cell's members to their centroid. THE index-quality report a
    * vector-search operator reads before trusting recall numbers —
    * skewed cell sizes mean hot probes scan most of the data (the
    * 100 TB failure mode of a badly-seeded IVF), and low member
    * similarity means the partitioning is effectively random.
    *
    * Plan: one narrow argmin pass (same kernel as the IVF
    * queries — no crossJoin, no shuffle of the vectors) into a
    * ≤nCentroids-group map-side-combined aggregate. Min/max are
    * order-insensitive picks of 6-dp values; the similarity MASS is
    * summed in DECIMAL(10,6) — exact and order-independent, so no
    * round-half knife edge can split engines the way a rounded mean
    * of doubles can (observed: a 26-member cell whose mean landed
    * exactly on a 0.5e-6 boundary). Mean = sum_sim / n_vectors,
    * derivable by the reader.
    */
  def ivfCellStats(embeddings: DataFrame, nCentroids: Int = 16): DataFrame = {
    val cents = seedCentroids(embeddings, nCentroids)
    embeddings
      .withColumn("_m", nearestCentroidScoredPortable(cents))
      .select(col("_m").getField("cid").as("centroid_id"),
        (-col("_m").getField("d")).as("_sim"))
      .groupBy("centroid_id")
      .agg(
        count(lit(1)).as("n_vectors"),
        min(col("_sim")).as("min_sim"),
        sum(col("_sim").cast("decimal(10,6)")).cast("double").as("sum_sim"),
        max(col("_sim")).as("max_sim"))
      .orderBy("centroid_id")
  }

  /** Index-staleness report — the monitoring operator a LIVE vector
    * index needs: a frozen index serves queries while new vectors keep
    * arriving; when the incoming distribution drifts off the trained
    * centroids, recall quietly decays until someone re-trains. This
    * report quantifies exactly that: train (portable Lloyd) on the
    * INDEXED set, assign both populations, and compare per-cell
    * cohesion — `drift` = mean assignment cosine of the new batch
    * minus the indexed set's, per cell (negative = the batch sits
    * farther from the centroids than the data the index was built
    * for: re-train). The [[ivfCellStats]] portability recipe: 6-dp
    * sims, DECIMAL(10,6)-exact sums, 4-dp drift; cells empty in both
    * populations don't report.
    *
    * Scale: both aggregates are narrow argmin passes +
    * map-side-combined per-cell rollups — the corpus never shuffles by
    * anything but centroid_id counts (one row per populated cell).
    */
  def ivfDrift(
      indexed: DataFrame,
      batch: DataFrame,
      nCentroids: Int = 16,
      iterations: Int = 3): DataFrame = {
    val index = buildIvfIndex(indexed, nCentroids, iterations, portable = true)
    def cellAgg(df: DataFrame, pfx: String): DataFrame =
      df.withColumn("_m", nearestCentroidScoredPortable(index.centroids))
        .select(col("_m").getField("cid").as("centroid_id"),
          (-col("_m").getField("d")).as("_sim"))
        .groupBy("centroid_id")
        .agg(count(lit(1)).as(s"n_$pfx"),
          sum(col("_sim").cast("decimal(10,6)")).cast("double").as(s"sum_sim_$pfx"))
    val idx = cellAgg(indexed, "indexed")
    val nw = cellAgg(batch, "new")
    val meanIdx = when(col("n_indexed") > 0,
      col("sum_sim_indexed") / col("n_indexed")).otherwise(lit(0.0))
    val meanNew = when(col("n_new") > 0,
      col("sum_sim_new") / col("n_new")).otherwise(lit(0.0))
    idx.join(nw, Seq("centroid_id"), "full_outer")
      .select(col("centroid_id"),
        coalesce(col("n_indexed"), lit(0L)).as("n_indexed"),
        coalesce(col("sum_sim_indexed"), lit(0.0)).as("sum_sim_indexed"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("sum_sim_new"), lit(0.0)).as("sum_sim_new"))
      .withColumn("drift", round(meanNew - meanIdx, 4))
      .orderBy("centroid_id")
  }

  /** Oracle-checkable IVF top-k over DETERMINISTIC seed centroids (the
    * first `nCentroids` vectors by vec_id): every step — assignment
    * argmin, probe-list ranking, final ranking — compares cosines at
    * 6 dp with id tie-breaks, so a SQL oracle reproduces it exactly.
    * The Lloyd-trained index ([[buildIvfIndex]]) is the production
    * variant (float means chain through summation order, so its
    * centroids are not portably SQL-expressible); this variant shares
    * its entire plan shape — narrow argmin assignment,
    * broadcast probe-list semi-join — so the oracle's verdict covers
    * the execution path, not just a toy.
    */
  def ivfSeedTopK(
      embeddings: DataFrame,
      probe: Seq[Float],
      k: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val cents = seedCentroids(embeddings, nCentroids)
    val probeCol = array(probe.map(lit): _*)
    ivfCandidates(embeddings, cents, probeCol, nProbe)
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), probeCol), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Shortlist size for [[ivfPqTopK]]'s exact re-rank stage —
    * interpolated into the oracle, so engine and SQL cannot drift.
    */
  val IvfPqShortlist = 50

  /** The production vector-retrieval stack in one operator — IVF cell
    * restriction → PQ ADC shortlist → EXACT re-rank (Jégou et al.
    * 2011's IVFADC with re-ranking): probe the `nProbe` nearest cells
    * (scan nProbe/nCentroids of the corpus), score the survivors in
    * the compressed domain only (no float payload), take a
    * `shortlist`-sized head, and re-rank just those rows with the
    * exact cosine kernel. At 100 TB the floats are touched for
    * `shortlist` rows instead of the corpus — the reason IVF-PQ is the
    * billion-scale default. Codebooks default to the oracle-expressible
    * seed recipe over the FULL table (never the restricted candidate
    * set — restriction must not move the quantizer); pass
    * [[pqCodebooksTrained]]'s books for production.
    */
  def ivfPqTopK(
      embeddings: DataFrame,
      probe: Seq[Float],
      k: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      shortlist: Int = IvfPqShortlist,
      codebooks: Option[IndexedSeq[IndexedSeq[Array[Float]]]] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val cents = seedCentroids(embeddings, nCentroids)
    val probeCol = array(probe.map(lit): _*)
    val cand = ivfCandidates(embeddings, cents, probeCol, nProbe)
      .drop("centroid_id")
    // default books slice from the ALREADY-collected centroid seeds
    // when they cover ksub (the common 16/16 case) — no second
    // first-k collect job over the corpus
    val cbs = codebooks.getOrElse {
      if (cents.length >= PqSubCentroids)
        pqBooksFromSeeds(
          cents.take(PqSubCentroids).map(_._2.toArray).toIndexedSeq, PqSubspaces)
      else pqCodebooks(embeddings)
    }
    val short = pqTopK(cand, probe, k = shortlist, codebooks = Some(cbs))
      .select("vec_id")
    embeddings
      .join(broadcast(short), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), probeCol), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Batch kNN JOIN — probes as DATA: for every row of a probe TABLE
    * (`probe_id`, `embedding`), the `k` nearest corpus vectors by
    * cosine among the probe's `nProbe` closest seed-centroid cells.
    * The retrieval shape of RAG lookup batches, kNN-graph
    * construction, and dedup-probe sweeps — [[ivfSeedTopK]] with the
    * single literal probe generalized to a join, no per-probe driver
    * loop. Every ranking (probe-cell, final top-k) compares at 6 dp
    * with id tie-breaks, the family's oracle-portability contract.
    */
  def knnJoin(
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val cents = seedCentroids(embeddings, nCentroids)
    knnJoinAssigned(probes, ivfAssignPortableTo(embeddings, cents), cents,
      k, nProbe)
  }

  /** The shared per-probe IVF retrieval kernel behind [[knnJoin]] and
    * the streaming face (`StreamSimilarity.topKBatch` delegates here —
    * ONE kernel, so a ranking or tie-break fix can never diverge the
    * batch key from the serving path).
    *
    * Plan, per batch of probes:
    *   - per-probe centroid ranking is a LITERAL expression over the
    *     broadcast centroid matrix (k×dim, driver-resident — the
    *     argmin-as-array_min trick of batch IVF assignment): narrow,
    *     no exchange, no per-centroid row blowup;
    *   - the probed cells collapse to ≤ nCentroids distinct ids — the
    *     ONE driver collect in the kernel, bounded by the INDEX size
    *     (never the corpus or the probe count) — pushed as literals,
    *     so against a [[writeClustered]] layout they prune FILES;
    *   - probe×cell pairs broadcast to the corpus side (a probe batch
    *     is small by contract), candidates join on `centroid_id`, and
    *     the per-probe top-k is a rank window partitioned by
    *     `probe_id` (probe-bounded partitions, never corpus-bounded).
    */
  def knnJoinAssigned(
      probes: DataFrame,
      assigned: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      k: Int = 10,
      nProbe: Int = 4): DataFrame =
    knnNeighbors(probes, assigned, centroids, k, nProbe)

  /** The per-probe IVF neighbor kernel behind [[knnJoinAssigned]],
    * [[hardNegativesAssigned]], and [[knnClassify]] — ONE body, so a
    * ranking or tie-break fix can never diverge the faces: probed
    * cells via [[probeCellsOf]] (bounded ≤ nCentroids cell-id
    * collect, pushed as literals), candidates join on `centroid_id`
    * with the probe×cell pairs broadcast, an optional candidate
    * predicate (label exclusion, self exclusion) applied BEFORE the
    * per-probe rank window, and the top-k as a `probe_id`-partitioned
    * row_number (probe-bounded partitions, never corpus-bounded).
    * `carry` columns ride from the probe table into the output,
    * between `probe_id` and `vec_id`.
    */
  private def knnNeighbors(
      probes: DataFrame,
      assigned: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      k: Int,
      nProbe: Int,
      carry: Seq[String] = Nil,
      candidateKeep: Option[Column] = None): DataFrame = {
    require(centroids.nonEmpty, "need a trained/seeded centroid set")
    val probeCells = probeCellsOf(probes, centroids, nProbe, carry)
    val cellIds = probeCells.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val joined = assigned
      .filter(col("centroid_id").isin(cellIds: _*))
      .join(broadcast(probeCells), Seq("centroid_id"))
    val candidates = candidateKeep.fold(joined)(joined.filter)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    candidates
      .select(col("probe_id") +: carry.map(col) :++ Seq(col("vec_id"),
        col("label"), round(cosine(col("_pe"), col("embedding")), 6).as("cosine")): _*)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
      .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
  }

  /** kNN-GRAPH construction — [[knnJoin]] with the probe table equal
    * to the CORPUS: for every vector, its `k` nearest neighbors (self
    * excluded) among its `nProbe` closest seed-centroid cells, one row
    * per directed edge `(probe_id, vec_id, label, cosine)`. The
    * primitive under graph-based ANN serving, label propagation, and
    * connectivity-based curation (an NN-Descent-style refinement
    * would iterate exactly this edge table).
    *
    * Scale shape — the ONE place [[knnJoinAssigned]]'s probe-broadcast
    * contract must flip: probes are the corpus, so the probe×cell
    * expansion (nProbe rows per vector) does NOT broadcast and no
    * cell-id collect happens (every cell is probed); both sides
    * SHUFFLE on `centroid_id`, and the join work is Σ over cells of
    * (cell size × probes probing the cell) — the SemDeDup within-cell
    * quadratic, bounded by the k ∝ n law exactly like
    * [[semanticPairs]]. The per-probe top-k window partitions on
    * `probe_id` (per-vector state, never corpus-bounded). Rankings at
    * 6 dp with id tie-breaks — the family's oracle-portability
    * contract.
    */
  def knnGraph(
      embeddings: DataFrame,
      k: Int = 4,
      nCentroids: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val cents = seedCentroids(embeddings, nCentroids)
    val assigned = ivfAssignPortableTo(embeddings, cents)
      .select(col("centroid_id"), col("vec_id"), col("embedding"), col("label"))
    val probeCells = probeCellsOf(
      embeddings.select(col("vec_id").as("probe_id"), col("embedding")),
      cents, nProbe)
    graphTail(assigned, probeCells, k)
  }

  /** The shared corpus-probe graph tail (shuffle join on centroid_id,
    * self exclusion, per-vertex top-k, total order): ONE body for
    * [[knnGraph]], [[knnGraphHier]] and the append family, so a
    * ranking or tie-break fix can never diverge them (the file's
    * one-kernel rule; the hier fallback-parity spec depends on it).
    */
  private def graphTail(
      assigned: DataFrame, probeCells: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    // the join is PINNED to a sort-merge shuffle (the `merge` hint):
    // both sides hash-partition on centroid_id, and the per-(probe,
    // cell) LOCAL top-k below keys on a SUPERSET of that partitioning,
    // so the prune runs inside the join stage with NO exchange. Left
    // to the planner, one side broadcast at every size measured (400,
    // 2,000 and 20,000 vectors) and the local window paid an exchange
    // of its own — 2.5× slower at 20,000 vectors (SCALE.md "Join twins
    // retired"; PlanShapeSpec pins the shuffle join).
    // the local prune makes the rank window sort n·nProbe·k rows
    // instead of the full n·cellsize candidate mass (≈30× at production
    // cell sizes; the un-pruned window's sort spill is what broke the
    // r15 sf100 rung on one box: 10⁹ candidate rows through one
    // probe-keyed exchange). EXACT: the global (cosine desc, vec_id)
    // top-k restricted to one cell preserves rank, so it is contained
    // in the union of per-cell top-ks under the same total order, and
    // (probe, vec) pairs are unique across cells (cells disjoint) —
    // bit-identical edges (the family's oracle keys stay hash-green).
    // the local prune is a WINDOW, not a collect_list aggregate: at
    // n·cellsize ≈ 10⁹ candidates the per-(probe, cell) group count
    // forces ObjectHashAggregate past its sort fallback anyway, and
    // the window's one map-side sort of the NARROW candidate rows
    // (no embeddings ride past the select) spills compressed without
    // a shuffle write+fetch on top
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id", "centroid_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    assigned
      .join(probeCells.hint("merge"), Seq("centroid_id"))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("centroid_id"), col("vec_id"), col("label"),
        round(cosine(col("_pe"), col("embedding")), 6).as("cosine"))
      .withColumn("_ln", row_number().over(wLocal))
      .filter(col("_ln") <= k)
      .drop("_ln", "centroid_id")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
      .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
  }

  /** [[knnGraph]] with BOTH sides two-level — the production variant
    * at corpus-scaled nCentroids, where the flat argmin's
    * O(n·k·dim) assignment dominates (measured 18.5×/decade at k ∝ n,
    * SCALE.md r13 — the same law D4's flat path hit): assignment and
    * probe lists via [[hierGraphKernels]], in-plan at every nc (each
    * per-row stage is one matrix expression per probed arm, so the
    * plan does not grow with nc·dim). Edge semantics within a probed
    * cell are identical (same 6-dp cosine, same rank tie-breaks); only
    * the probed CELL SETS differ by the coarse-quantizer
    * approximation — the [[semanticPairsHier]] caveat, and the
    * declared oracle-checked key stays on the flat portable path. With
    * few enough super-cells (≤ superProbe) both stages fall back to
    * the flat ranking, so the hier variant degrades to [[knnGraph]]
    * EXACTLY (spec-pinned).
    */
  def knnGraphHier(
      embeddings: DataFrame,
      k: Int = 4,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      superK: Int = 0,
      superProbe: Int = SuperProbeDefault): DataFrame = {
    val (assign, probedCells) = hierGraphKernels(
      seedCentroids(embeddings, nCentroids), superK, nProbe, superProbe)
    val assigned = embeddings
      .withColumn("centroid_id", assign)
      .select(col("centroid_id"), col("vec_id"), col("embedding"), col("label"))
    val probeCells = embeddings.select(
      col("vec_id").as("probe_id"), col("embedding").as("_pe"),
      explode(probedCells).as("centroid_id"))
    graphTail(assigned, probeCells, k)
  }

  /** The two per-row kernels of [[knnGraphHier]] — the assignment
    * (centroid id) and the probed cell ids (array) over `embedding` —
    * from ONE [[superCells]] partition, so a graph build or an append
    * runs the k-point super-cell Lloyd once. Fallback parity: when every
    * super-cell is probed the hier graph must equal [[knnGraph]]
    * BIT-FOR-BIT, so the degraded assignment is the same PORTABLE flat
    * argmin the flat graph uses (the two-level argmin's own fallback
    * is the unrounded flat argmin, which can split 6-dp ties
    * differently).
    */
  private def hierGraphKernels(
      centroids: Seq[(Long, Seq[Float])],
      superK: Int,
      nProbe: Int,
      superProbe: Int): (Column, Column) = {
    val cells = superCells(centroids, superK)
    val assign =
      if (cells.size <= superProbe) nearestCentroidPortable(centroids)
      else twoLevelArgmin(centroids, cells, superProbe)
    (assign, probeCellsTwoLevel(centroids, cells, nProbe, superProbe))
  }

  /** The two-level analogue of [[probeCellsOf]]'s per-row cell
    * ranking: rank ≈√k super-centroids, concatenate the `superProbe`
    * best supers' member (dist, cid) structs, and take the `nProbe`
    * best cells of that union — one matrix expression per CASE arm like
    * [[nearestCentroidTwoLevel]], per-row kernels ≈(1+superProbe)·√k
    * instead of k. Ranking convention matches [[probeCellsOf]]
    * (6-dp cosine desc, cid asc) so the fallback (supers ≤ superProbe
    * → rank ALL cells) is bit-identical to the flat probe list.
    */
  private def probeCellsTwoLevel(
      centroids: Seq[(Long, Seq[Float])],
      cells: Seq[(Seq[Float], Seq[(Long, Seq[Float])])],
      nProbe: Int,
      superProbe: Int): Column = {
    require(superProbe >= 1, s"superProbe must be >= 1: $superProbe")
    if (cells.size <= superProbe) probedCellIds(centroids, nProbe)
    else {
      // each arm is its cell's own nProbe best, so the union's nProbe
      // best are the whole union's
      val union = concat(probedArms(cells, superProbe)(
        rankCentroids(_, rounded = true, topN = Some(nProbe))): _*)
      transform(slice(array_sort(union), 1, nProbe), x => x.getField("cid"))
    }
  }

  /** One round of LABEL PROPAGATION over the [[knnGraph]] edge table —
    * corpus-wide pseudo-labeling (Zhu & Ghahramani 2002, CMU-CALD-02-107;
    * the semi-supervised step a labeled-subset corpus uses to extend
    * labels, and a leave-one-out embedding-quality audit when every
    * vertex is labeled): each vector takes the cosine-WEIGHTED majority
    * label of its k graph neighbors (self excluded by the graph), ties
    * to the smallest label. Output one row per vector:
    * `vec_id, label, pred_label, vote_w, n_votes, agrees` — `agrees`
    * is the per-vertex quality verdict (does the neighborhood confirm
    * the label?).
    *
    * Portability: edge cosines are 6-dp, so the per-(vertex, label)
    * vote sums are DECIMAL(16,6)-exact; the winner is an aggregate
    * argmax (max vote join + min label at the max) — no window over
    * the corpus, both aggregates vertex-bounded. Scale inherits
    * [[knnGraph]]'s shuffle-join law; the vote adds two map-side-
    * combinable aggregates keyed by vec_id.
    */
  /** Per-vertex winning vote from a `(vec_id, pred_label, vote_w,
    * n_votes)` table in ONE map-side-combinable aggregate:
    * `max(struct(vote_w, −pred_label, n_votes))` IS the (max vote,
    * ties to smallest label) argmax — struct comparison orders by
    * vote_w first, then by negated label (labels are distinct within a
    * vertex, so n_votes never participates in the ordering; it rides
    * along as the winner's own count). Replaces the previous
    * max-join-filter-min-join shape — four shuffles per round down to
    * one — with the identical relational result (the declared keys'
    * oracles keep the explicit argmax SQL; both stayed hash-green).
    */
  private[graft] def voteWinner(votes: DataFrame): DataFrame =
    votes.groupBy("vec_id")
      .agg(max(struct(col("vote_w"),
        (-col("pred_label")).as("_np"), col("n_votes"))).as("_w"))
      .select(col("vec_id"),
        (-col("_w._np")).as("pred_label"),
        col("_w.vote_w").as("vote_w"),
        col("_w.n_votes").as("n_votes"))

  /** One propagation VOTE round over a frozen weighted edge table
    * `edges(probe_id, nbr_id, w)` and a carried label frame
    * `cur(vec_id, cur_label)`: decimal-exact per-(vertex, label) vote
    * sums, then [[voteWinner]]'s one-aggregate argmax — the shared
    * kernel under the fixed-depth and convergence-detected
    * propagation loops (one text, no drift).
    */
  private def voteRound(edges: DataFrame, cur: DataFrame): DataFrame =
    voteWinner(edges
      .join(cur.select(col("vec_id").as("nbr_id"),
        col("cur_label").as("pred_label")), Seq("nbr_id"))
      .groupBy(col("probe_id").as("vec_id"), col("pred_label"))
      .agg(sum("w").as("vote_w"), count(lit(1)).as("n_votes")))

  /** Carry-forward for voteless vertices: winner's label where one
    * exists, else the previous round's — shared by both loops.
    */
  private def carryForward(cur: DataFrame, winner: DataFrame): DataFrame =
    cur.join(winner.select(col("vec_id"), col("pred_label")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("pred_label"), col("cur_label")).as("cur_label"))

  /** The propagation output projection (`vec_id, label, pred_label,
    * vote_w, n_votes, agrees`, total order) from a final winner frame
    * — ONE text for [[labelPropagate]] and [[labelPropagateIter]], so
    * the one-round and iterated keys can never drift in their output
    * semantics.
    */
  private def propagationOutput(
      embeddings: DataFrame, winner: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("label"))
      .join(winner, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("pred_label"),
        col("vote_w").cast("double").as("vote_w"),
        coalesce(col("n_votes"), lit(0L)).as("n_votes"),
        coalesce(col("pred_label") === col("label"), lit(false)).as("agrees"))
      .orderBy("vec_id")

  def labelPropagate(
      embeddings: DataFrame,
      k: Int = 4,
      nCentroids: Int = 16,
      nProbe: Int = 4): DataFrame = {
    // pinned: the vote table would otherwise recompute the whole graph
    // build (assignment + candidate join + rank) wherever exchange
    // reuse fails to cover a consumer
    val votes = graft.core.CacheScope.persist(
      knnGraph(embeddings, k, nCentroids, nProbe)
        .groupBy(col("probe_id").as("vec_id"), col("label").as("pred_label"))
        .agg(sum(col("cosine").cast("decimal(16,6)")).as("vote_w"),
          count(lit(1)).as("n_votes")))
    propagationOutput(embeddings, voteWinner(votes))
  }

  /** One NN-DESCENT refinement round over the [[knnGraph]] edge table
    * (Dong, Moses & Li 2011, WWW '11 — "a vector's neighbor's
    * neighbors are likely its neighbors"): the candidate set per
    * vertex is its current k edges UNION its neighbors-of-neighbors
    * (two hops along the directed graph, self excluded), re-scored
    * with the exact 6-dp cosine and cut back to top-k. Because the
    * current edges are IN the candidate set and the rank keeps the
    * best k of a superset, per-vertex recall vs the exact graph is
    * MONOTONE non-decreasing (spec-gated: measured recall strictly
    * improves on the near-isotropic fixture, where the IVF graph's
    * cell approximation leaves the most room). The full NN-Descent
    * algorithm iterates exactly this step to convergence.
    *
    * Scale: |edges| = n·k, the two-hop self-join emits ≤ n·k² rows
    * (k is small by construction), two id-keyed embedding joins fetch
    * the vector pairs, and the per-vertex top-k window is the graph
    * family's usual per-probe state — no corpus-quadratic term, no
    * new shuffle class.
    */
  def knnGraphRefine(
      embeddings: DataFrame,
      k: Int = 4,
      nCentroids: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val g = graft.core.CacheScope.persist(
      knnGraph(embeddings, k, nCentroids, nProbe)
        .select(col("probe_id"), col("vec_id")))
    refineRound(embeddings, g, k)
      .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
  }

  /** ONE NN-Descent round over an id-only edge frame `g(probe_id,
    * vec_id)`: candidates = current edges ∪ neighbors-of-neighbors
    * (two-hop self-join, self excluded), exact 6-dp re-score through
    * the two id-keyed embedding joins, per-vertex top-k. The shared
    * kernel under [[knnGraphRefine]] (one round) and
    * [[knnGraphRefineIter]] (fixed depth), so the candidate and
    * ranking semantics can never drift between them.
    */
  private def refineRound(
      embeddings: DataFrame, g: DataFrame, k: Int): DataFrame = {
    val twoHop = g.as("a")
      .join(g.as("b"), col("a.vec_id") === col("b.probe_id"))
      .filter(col("b.vec_id") =!= col("a.probe_id"))
      .select(col("a.probe_id").as("probe_id"), col("b.vec_id").as("vec_id"))
    val cand = g.unionByName(twoHop).distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    cand
      .join(embeddings.select(col("vec_id").as("probe_id"),
        col("embedding").as("_pe")), Seq("probe_id"))
      .join(embeddings.select(col("vec_id"), col("embedding"), col("label")),
        Seq("vec_id"))
      .select(col("probe_id"), col("vec_id"), col("label"),
        round(cosine(col("_pe"), col("embedding")), 6).as("cosine"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** NN-Descent run to FIXED DEPTH (Dong et al. 2011's iteration, the
    * [[labelPropagateIter]] recipe applied to graph refinement): the
    * approximate graph is built once, then each round expands
    * candidates two hops over the PREVIOUS round's edges and re-scores
    * exactly. Per-vertex recall vs the exact graph is MONOTONE
    * non-decreasing round over round (each round's candidate set
    * contains the previous round's surviving edges), so extra rounds
    * can only help — the classic trade is rounds × (≤ n·k² candidate
    * rows + two id-keyed embedding joins + the per-vertex rank
    * window), no corpus-quadratic term at any depth. Each round's
    * id-frame is persisted: round r's plan is one two-hop join deep,
    * never a growing lineage. rounds=1 is [[knnGraphRefine]] exactly
    * (spec-pinned bit-identical).
    */
  def knnGraphRefineIter(
      embeddings: DataFrame,
      k: Int = 4,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      rounds: Int = 2): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    var g = graft.core.CacheScope.persist(
      knnGraph(embeddings, k, nCentroids, nProbe)
        .select(col("probe_id"), col("vec_id")))
    var scored: DataFrame = null
    for (r <- 1 to rounds) {
      scored = refineRound(embeddings, g, k)
      // the final round's edge frame has exactly one consumer (the
      // ordered output) — no pin, matching labelPropagateIter's tail
      if (r < rounds)
        g = graft.core.CacheScope.persist(scored.select("probe_id", "vec_id"))
    }
    scored.orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
  }

  /** ITERATED label propagation — Zhu & Ghahramani 2002's algorithm
    * run to a fixed round count over the FROZEN [[knnGraph]] edge
    * table (r13 verdict #3): round r votes with the labels round r−1
    * produced, each round the same decimal-exact cosine-weighted
    * majority as [[labelPropagate]] (aggregate argmax, ties to the
    * smallest label); a vertex with no winning vote carries its
    * previous label forward. `rounds = 1` equals [[labelPropagate]]
    * BIT-FOR-BIT (spec-pinned): same votes, same winner, same output
    * columns — `pred_label`/`vote_w`/`n_votes` are the FINAL round's
    * winning vote (pred_label NULL for a voteless vertex, exactly the
    * one-round semantics).
    *
    * Scale: the graph builds ONCE and persists (the expensive part —
    * [[knnGraph]]'s shuffle-join law); each round adds one
    * labels-sized equi-join onto the edge table plus two map-side-
    * combinable vertex-keyed aggregates — O(|edges|) per round with
    * a fixed round count, never a growing lineage (each round's
    * label frame is persisted, so round r's plan is one join deep).
    */
  def labelPropagateIter(
      embeddings: DataFrame,
      k: Int = 4,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      rounds: Int = 2): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val edges = graft.core.CacheScope.persist(
      knnGraph(embeddings, k, nCentroids, nProbe)
        .select(col("probe_id"), col("vec_id").as("nbr_id"),
          col("cosine").cast("decimal(16,6)").as("w")))
    var cur = embeddings.select(col("vec_id"), col("label").as("cur_label"))
    var lastWinner: DataFrame = null
    for (r <- 1 to rounds) {
      // voteRound's votes table has one consumer (the argmax), so it
      // needs no pin; the winner frame feeds both the carry and (on
      // the last round) the output
      val winner = graft.core.CacheScope.persist(voteRound(edges, cur))
      lastWinner = winner
      // the final round's carry-forward frame has no consumer — the
      // output reads lastWinner directly
      if (r < rounds)
        cur = graft.core.CacheScope.persist(carryForward(cur, winner))
    }
    propagationOutput(embeddings, lastWinner)
  }

  /** INCREMENTAL kNN-graph maintenance (r14 verdict #2a) — the
    * [[appendToClustered]] posture applied to the EDGE TABLE: fold an
    * arriving vector batch into a persisted [[knnGraph]] without the
    * full rebuild, against the FROZEN quantizer `centroids` (the
    * [[ivfDrift]] monitor stays the judge of when the quantizer itself
    * is due for retraining).
    *
    *  1. NEWCOMER edges: the batch probes its `nProbe` cells and ranks
    *     candidates from the UNION corpus — the same [[graphTail]]
    *     kernel a rebuild runs, restricted to the batch's probe rows.
    *  2. AFFECTED vertices: the base vertices whose probed-cell sets
    *     intersect the batch's assigned cells — exactly those whose
    *     candidate set a rebuild would change. Their new candidate
    *     pairs (vertex × batch member sharing a probed cell) are
    *     scored once and RE-RANKED against the vertex's existing edge
    *     rows. The incremental re-rank is EXACT, not approximate:
    *     top-k(top-k(A) ∪ B) = top-k(A ∪ B) under the family's total
    *     order (6-dp cosine desc, vec_id) — any old candidate outside
    *     the stored top-k is dominated by k stored rows and can never
    *     re-enter.
    *  3. UNTOUCHED vertices keep their edge rows verbatim (anti-join)
    *     — the appendToClustered untouched-partition contract in edge
    *     form, spec-pinned.
    *
    * Result: BIT-IDENTICAL to [[knnGraph]] rebuilt over base ∪ batch
    * with the same frozen centroids (spec-pinned, and hash-gated by
    * the declared `knn_graph_append_embeddings` key whose oracle IS
    * the rebuild). Cost: the batch's own probe/rank work + one
    * probe-cell assignment pass over the base corpus (per-row argmin,
    * no joins; at production scale the probe-cell frame is the
    * persisted graph artifact's sidecar and the pass is a read) +
    * |affected probe rows × batch cell members| pair scoring — never
    * the corpus×corpus rebuild.
    */
  def appendToGraph(
      baseGraph: DataFrame,
      base: DataFrame,
      batch: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      k: Int = 4,
      nProbe: Int = 4): DataFrame = {
    val p = appendEdgePieces(baseGraph, base, batch, centroids, k, nProbe)
    // untouched vertices' rows pass through verbatim
    val untouched = baseGraph.join(p.affected, Seq("probe_id"), "left_anti")
    untouched.unionByName(p.rescored).unionByName(p.newcomerEdges)
      .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
  }

  /** The three frames an incremental graph append produces — shared by
    * [[appendToGraph]] (whole-table result) and
    * [[appendToGraphClustered]] (bounded partition rewrite), so the
    * append semantics live in ONE kernel.
    */
  private[ext] final case class GraphAppend(
      affected: DataFrame,      // (probe_id) — base vertices whose top-k may move
      rescored: DataFrame,      // their re-ranked edge rows
      newcomerEdges: DataFrame, // the batch vertices' own edges
      batchAssigned: DataFrame) // (centroid_id, vec_id, embedding, label)

  /** The route threshold of the append family, in
    * superProbe·nCentroids·dim terms, read by [[appendKernels]] alone:
    * at or under it a layout is assigned and probed with the PORTABLE
    * flat kernels, above it with [[knnGraphHier]]'s two-level kernels.
    * It fixes which assignment a stored layout is written with
    * ([[writeHnswClustered]]) and so which one its appends maintain.
    * The name is historical: the value once bounded the float literals
    * a centroid CASE chain could hold before compilation dominated
    * (SCALE.md r14); the centroids are one packed matrix now.
    */
  val GraphLiteralMaxTerms: Long = 50000L

  /** The assignment + probe-cell kernels the append family runs,
    * picked by [[GraphLiteralMaxTerms]]: at or under it, the PORTABLE
    * flat kernels the declared keys freeze (oracle-checkable 6-dp
    * argmin); above it, [[knnGraphHier]]'s two-level kernels
    * ([[hierGraphKernels]]) over the same FROZEN centroid matrix,
    * super-cells derived deterministically from the centroids alone.
    * Both are per-row deterministic functions of (embedding, centroid
    * matrix), so append ≡ rebuild holds — against [[knnGraph]] under
    * the threshold and [[knnGraphHier]] at the same nc above it
    * (spec-pinned).
    */
  private def appendKernels(
      centroids: Seq[(Long, Seq[Float])],
      nProbe: Int): (DataFrame => DataFrame, DataFrame => DataFrame) = {
    val dim = centroids.headOption.map(_._2.length).getOrElse(0)
    val (assign, probedCells) =
      if (centroids.isEmpty ||
          SuperProbeDefault.toLong * centroids.size * dim <= GraphLiteralMaxTerms)
        (nearestCentroidPortable(centroids), probedCellIds(centroids, nProbe))
      else hierGraphKernels(centroids, superK = 0, nProbe, SuperProbeDefault)
    (df => df.withColumn("centroid_id", assign)
       .select(col("centroid_id"), col("vec_id"), col("embedding"), col("label")),
     df => df.select(col("probe_id"), col("embedding").as("_pe"),
       explode(probedCells).as("centroid_id")))
  }

  private def appendEdgePieces(
      baseGraph: DataFrame,
      base: DataFrame,
      batch: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      k: Int,
      nProbe: Int): GraphAppend = {
    val (assign, probeCells) = appendKernels(centroids, nProbe)
    val batchAssigned = assign(batch)
    val unionAssigned = assign(base).unionByName(batchAssigned)
    // 1. the newcomers' own edges: the rebuild kernel, batch probes only
    val batchProbeCells = probeCells(
      batch.select(col("vec_id").as("probe_id"), col("embedding")))
    val newcomerEdges = graphTail(unionAssigned, batchProbeCells, k)
    // 2. affected base vertices: probe-cell rows that hit a batch cell
    // (the batch's distinct cells are ≤ min(|batch|, nCentroids) — a
    // broadcast join, never a shuffle of the probe frame); pinned —
    // consumed twice (the pair scoring and the affected-id frame)
    val batchCells = batchAssigned.select("centroid_id").distinct()
    val touchedProbe = graft.core.CacheScope.persist(
      probeCells(base.select(col("vec_id").as("probe_id"), col("embedding")))
        .join(broadcast(batchCells), Seq("centroid_id")))
    val newPairs = touchedProbe.join(batchAssigned, Seq("centroid_id"))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"), col("label"),
        round(cosine(col("_pe"), col("embedding")), 6).as("cosine"))
    val affected = touchedProbe.select("probe_id").distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    val rescored = baseGraph.join(affected, Seq("probe_id"), "left_semi")
      .unionByName(newPairs)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
    GraphAppend(affected, rescored, newcomerEdges, batchAssigned)
  }

  /** Persist a kNN-graph edge table PARTITIONED by the owning vertex's
    * assigned cell (`g_cell` = the probe vertex's nearest centroid) —
    * the [[writeClustered]] layout idea applied to EDGES, so
    * incremental maintenance can rewrite only the partitions holding
    * affected vertices instead of the whole edge table. `assigned` is
    * the corpus assignment frame (vec_id, centroid_id) the graph was
    * built over.
    */
  def writeGraphClustered(
      edges: DataFrame, assigned: DataFrame, path: String): Unit =
    edges
      .join(assigned.select(col("vec_id").as("probe_id"),
        col("centroid_id").as("g_cell")), Seq("probe_id"))
      // cluster the write by the partition column: without this every
      // task writes a file into every cell it touches (≤ tasks ×
      // cells files — at production nc the serving walk's repeated
      // edge scans drown in file listings/opens; measured 13× on the
      // descent at nc=1568). One shuffle at write time buys ONE file
      // per cell, the layout a 100 TB artifact needs anyway.
      .repartition(col("g_cell"))
      .write.mode("overwrite").partitionBy("g_cell").parquet(path)

  /** INCREMENTAL maintenance of a [[writeGraphClustered]] layout — the
    * [[appendToClustered]] contract applied to the EDGE table:
    *
    *  1. IDEMPOTENT: batch vectors whose vertex id already exists in
    *     the layout are dropped (anti-join against the stored vertex
    *     ids) — a re-delivered batch is a no-op, so at-least-once
    *     delivery upstream cannot duplicate the graph.
    *  2. The [[appendToGraph]] kernel computes the newcomers' edges
    *     and the affected vertices' exact re-rank.
    *  3. ONLY the partitions holding affected or newcomer vertices
    *     rewrite (eager localCheckpoint + dynamic partition overwrite,
    *     the [[compactClustered]] recipe); untouched partitions' files
    *     are never listed, read, or rewritten — byte-identical by
    *     construction (spec-pinned). Write amplification is bounded by
    *     the CELLS the batch lands in or probes into, never the graph.
    *
    * `base` is the corpus the stored graph covers (vec_id, embedding,
    * label — typically the sibling [[writeClustered]] vector layout),
    * and must be the PRE-batch corpus: [[graft.streaming.StreamGraphMaintain]]
    * sequences the two appends so that holds across crash/replay.
    * ENFORCED (r15 advice): any stored vertex absent from `base` — the
    * overlapping-redelivery shape, where newcomers would score against
    * a corpus missing live graph vertices — fails the append loudly
    * rather than silently diverging from the rebuild.
    *
    * @return the rewritten g_cell partition ids (empty = no-op)
    */
  def appendToGraphClustered(
      spark: SparkSession,
      path: String,
      base: DataFrame,
      batch: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      k: Int = 4,
      nProbe: Int = 4): Seq[Long] = {
    val stored = spark.read.parquet(path)
    val storedVerts = stored.select(col("probe_id").as("vec_id")).distinct()
    val fresh = batch
      .join(storedVerts, Seq("vec_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE guard job instead of two (r18: the isEmpty action and the
      // orphan count each scanned the stored vertex set — the two
      // single-row aggregates cross-join into one collect, and the
      // shared storedVerts subtree reuses its exchange):
      //  - freshCnt: re-delivery no-op detection (checked FIRST, so an
      //    exact replay still returns Nil without tripping the orphan
      //    guard — the historical short-circuit order);
      //  - orphans: the pre-batch-corpus contract (r15 advice) — every
      //    stored vertex must appear in `base`, else genuine newcomers
      //    would score against a corpus silently missing live vertices
      //    (edges to them never created, never re-ranked — divergence
      //    from the rebuild). Fail loudly instead.
      val guard = fresh.agg(count(lit(1)).as("freshCnt"))
        .crossJoin(
          storedVerts.join(base.select("vec_id"), Seq("vec_id"), "left_anti")
            .agg(count(lit(1)).as("orphans")))
        .collect()(0)
      if (guard.getLong(0) == 0L) return Nil
      val orphaned = guard.getLong(1)
      require(orphaned == 0L,
        s"appendToGraphClustered: $orphaned stored vertices absent from " +
          "`base` - base must be the full pre-batch corpus the stored " +
          "graph covers (the overlapping-redelivery shape); scoring " +
          "against a smaller corpus would silently diverge from the " +
          "rebuild")
      val p = appendEdgePieces(
        stored.drop("g_cell"), base, fresh, centroids, k, nProbe)
      foldIntoLayout(spark, path, stored, base, p, centroids, nProbe)
    } finally fresh.unpersist(blocking = false)
  }

  /** The fold TAIL shared by [[appendToGraphClustered]] (exact append)
    * and [[refreshGraphClustered]] (deferred-debt settlement): place
    * each rewritten vertex, compute the rewrite set, stage the touched
    * partitions in an eager localCheckpoint and write them by dynamic
    * overwrite. One body, so the two faces can never drift on
    * placement or rewrite semantics.
    */
  private def foldIntoLayout(
      spark: SparkSession,
      path: String,
      stored: DataFrame,
      base: DataFrame,
      p: GraphAppend,
      centroids: Seq[(Long, Seq[Float])],
      nProbe: Int): Seq[Long] = {
    // the owning cell of every rewritten vertex: an affected vertex's
    // rows live where the STORED layout says they live (r15 advice:
    // re-deriving via ivfAssignPortableTo(base, centroids) silently
    // mismatches a layout whose g_cell was not produced by the flat
    // portable argmin — e.g. a knnGraphHier build — leaving the
    // vertex's stale rows in a never-rewritten partition); newcomers
    // carry their own frozen-quantizer cell. A degenerate affected
    // vertex with NO stored rows (zero prior edges) falls back to
    // the frozen quantizer, scored over the affected slice only.
    // partition-column type inference may read g_cell back narrower
    // than the written long — normalize once here
    val storedCells = stored
      .select(col("probe_id"), col("g_cell").cast("long").as("g_cell"))
      .distinct()
    val affectedStored = p.affected.join(storedCells, Seq("probe_id"))
    val (assignK, _) = appendKernels(centroids, nProbe)
    val fallback = assignK(
        base.join(p.affected.select(col("probe_id").as("vec_id")),
          Seq("vec_id"), "left_semi"))
      .select(col("vec_id").as("probe_id"), col("centroid_id").as("_fb"))
    val placeCell = p.affected
      .join(affectedStored.groupBy("probe_id").agg(min("g_cell").as("_sc")),
        Seq("probe_id"), "left")
      .join(fallback, Seq("probe_id"), "left")
      .select(col("probe_id"), coalesce(col("_sc"), col("_fb")).as("g_cell"))
    // one driver-side job for the rewrite set: every cell HOLDING an
    // affected vertex's rows (stale-row purge — for a malformed
    // layout with a vertex in two cells, both rewrite and the
    // re-rank lands in one: self-healing), every placement cell, and
    // every cell the batch lands in
    val rewritten = affectedStored.select("g_cell")
      .unionByName(placeCell.select("g_cell"))
      .unionByName(p.batchAssigned.select(col("centroid_id").as("g_cell")))
      .distinct().collect().map(_.getLong(0)).toSet
    val cells = rewritten.toSeq.sorted
    // the rewritten partitions' NEW contents: in-cell untouched rows
    // verbatim + the re-ranked affected rows + the newcomers
    val untouchedInCells = stored
      .filter(col("g_cell").isin(cells: _*))
      .join(p.affected, Seq("probe_id"), "left_anti")
    val slice = untouchedInCells.unionByName(
        p.rescored.join(placeCell, Seq("probe_id")))
      .unionByName(
        p.newcomerEdges.join(
          p.batchAssigned.select(col("vec_id").as("probe_id"),
            col("centroid_id").as("g_cell")), Seq("probe_id")))
    // a file-source write refuses to overwrite a path it also reads, so
    // the slice must materialize BEFORE the dynamic overwrite. r17 paid
    // a full scratch-parquet round trip (write slice → read back →
    // repartition → overwrite — the slice crosses storage twice); an
    // eager localCheckpoint after the one-file-per-cell repartition
    // severs the self-read lineage with ONE materialization instead
    // (guide §5: localCheckpoint as the cheap lineage cut). Fault
    // posture is unchanged in practice: checkpoint blocks lost to an
    // executor failure fail this fold's write, and the whole append is
    // idempotently re-runnable (vertex anti-join + dynamic overwrite).
    val staged = slice
      // same one-file-per-cell discipline as writeGraphClustered —
      // an append must not degrade the layout it maintains
      .repartition(col("g_cell"))
      .localCheckpoint(true)
    try staged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("g_cell")
      .parquet(path)
    finally org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(staged)
    cells
  }

  /** O(batch) DEFERRED fold into a [[writeGraphClustered]] layout
    * (r17 — the escape from the exact fold's write amplification that
    * SCALE.md names): the newcomers' own edges are computed EXACTLY
    * (scored against the full pre-batch corpus) and appended into the
    * cells the batch lands in — and NOTHING else is touched: no
    * corpus-wide probe-cell pass, no affected-vertex re-rank; write
    * amplification is the batch's own cells, full stop. Until
    * [[refreshGraphClustered]] settles the debt, EXISTING vertices'
    * stored top-k may miss edges toward newcomers (the graph serves
    * slightly stale — the posture production ANN services run:
    * arrivals searchable immediately, exactness amortized across
    * folds). Every deferred cell is recorded as an idempotent marker
    * under `_pending/` (an underscore sidecar, invisible to parquet
    * listings), so the debt survives crashes and accumulates across
    * folds. Same vertex anti-join idempotency and pre-batch-corpus
    * contract as the exact fold.
    *
    * @return the batch's cells (rewritten + marked pending)
    */
  def appendToGraphClusteredDeferred(
      spark: SparkSession,
      path: String,
      base: DataFrame,
      batch: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      k: Int = 4,
      nProbe: Int = 4): Seq[Long] = {
    val stored = spark.read.parquet(path)
    val storedVerts = stored.select(col("probe_id").as("vec_id")).distinct()
    val fresh = batch
      .join(storedVerts, Seq("vec_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one guard job for both checks — the appendToGraphClustered
      // rationale (freshness short-circuit first, then the
      // pre-batch-corpus contract)
      val guard = fresh.agg(count(lit(1)).as("freshCnt"))
        .crossJoin(
          storedVerts.join(base.select("vec_id"), Seq("vec_id"), "left_anti")
            .agg(count(lit(1)).as("orphans")))
        .collect()(0)
      if (guard.getLong(0) == 0L) return Nil
      val orphaned = guard.getLong(1)
      require(orphaned == 0L,
        s"appendToGraphClusteredDeferred: $orphaned stored vertices " +
          "absent from `base` - base must be the full pre-batch corpus")
      val (assign, probeCells) = appendKernels(centroids, nProbe)
      val batchAssigned = assign(fresh)
      val unionAssigned = assign(base).unionByName(batchAssigned)
      val batchProbeCells = probeCells(
        fresh.select(col("vec_id").as("probe_id"), col("embedding")))
      val newcomerEdges = graphTail(unionAssigned, batchProbeCells, k)
      val cells = batchAssigned.select("centroid_id").distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
      val slice = stored.filter(col("g_cell").isin(cells: _*))
        .unionByName(newcomerEdges.join(
          batchAssigned.select(col("vec_id").as("probe_id"),
            col("centroid_id").as("g_cell")), Seq("probe_id")))
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the debt ledger: one empty marker per deferred cell, created
      // BEFORE the data lands (r17 advice): a crash between the data
      // write and marker creation would otherwise lose the re-rank debt
      // forever — the replayed batch no-ops on the vertex anti-join and
      // never reaches the marker code. A marker with no actual debt is
      // harmless (refresh re-ranks the cell to the values it already
      // holds); a lost marker is unrecoverable.
      fs.mkdirs(new org.apache.hadoop.fs.Path(root, "_pending"))
      cells.foreach(c => fs.createNewFile(
        new org.apache.hadoop.fs.Path(root, s"_pending/cell=$c")))
      // eager localCheckpoint instead of the scratch-parquet round trip
      // (the foldIntoLayout rationale): one materialization severs the
      // read-path lineage before the dynamic overwrite
      val staged = slice.repartition(col("g_cell")).localCheckpoint(true)
      try staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("g_cell")
        .parquet(path)
      finally org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(staged)
      cells
    } finally fresh.unpersist(blocking = false)
  }

  /** Settle the deferred debt: the exact re-rank the deferred folds
    * skipped, run lazily/periodically. Affected = every corpus vertex
    * whose probe cells include a PENDING cell; candidates = the
    * pending cells' CURRENT members — a superset of the deferred
    * newcomers, and scoring the extra old members is
    * exactness-preserving (they were already reflected in the stored
    * top-k: `top-k(top-k(A) ∪ X) = top-k(A)` for `X ⊆ A` under the
    * family's total order). After refresh the layout EQUALS the exact
    * fold's result — deferred-fold(s) + refresh ≡
    * [[appendToGraphClustered]](s) ≡ the rebuild, spec-pinned — and
    * the pending markers clear. `corpus` must be the full CURRENT
    * corpus (base ∪ every folded batch).
    *
    * @return the rewritten cells (empty = no pending debt)
    */
  def refreshGraphClustered(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      k: Int = 4,
      nProbe: Int = 4): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pendDir = new org.apache.hadoop.fs.Path(root, "_pending")
    if (!fs.exists(pendDir)) return Nil
    val pending = fs.listStatus(pendDir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("cell=")).map(_.stripPrefix("cell=").toLong)
      .sorted
    if (pending.isEmpty) return Nil
    val stored = spark.read.parquet(path)
    val orphaned = stored.select(col("probe_id").as("vec_id")).distinct()
      .join(corpus.select("vec_id"), Seq("vec_id"), "left_anti")
      .count()
    require(orphaned == 0L,
      s"refreshGraphClustered: $orphaned stored vertices absent from " +
        "`corpus` - it must be the full current corpus the layout covers")
    val (assign, probeCells) = appendKernels(centroids, nProbe)
    import spark.implicits._
    val pendDf = pending.toDF("centroid_id")
    val touchedProbe = graft.core.CacheScope.persist(
      probeCells(corpus.select(col("vec_id").as("probe_id"), col("embedding")))
        .join(broadcast(pendDf), Seq("centroid_id")))
    val members = assign(corpus).join(broadcast(pendDf), Seq("centroid_id"))
    val newPairs = touchedProbe.join(members, Seq("centroid_id"))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"), col("label"),
        round(cosine(col("_pe"), col("embedding")), 6).as("cosine"))
    val affected = touchedProbe.select("probe_id").distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    // DISTINCT before the rank: unlike the exact fold (whose new pairs
    // all point at genuinely-new vertices), a stored edge row whose
    // target lives in a pending cell is re-derived verbatim by the
    // member scoring — both copies carry identical 6-dp values
    val rescored = stored.drop("g_cell")
      .select("probe_id", "vec_id", "label", "cosine")
      .join(affected, Seq("probe_id"), "left_semi")
      .unionByName(newPairs)
      .distinct()
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
    val cells = foldIntoLayout(spark, path, stored, corpus,
      GraphAppend(affected, rescored,
        stored.drop("g_cell")
          .select("probe_id", "vec_id", "label", "cosine").limit(0),
        members.limit(0)),
      centroids, nProbe)
    pending.foreach(c => fs.delete(
      new org.apache.hadoop.fs.Path(root, s"_pending/cell=$c"), false))
    cells
  }

  /** GRAPH-WALK retrieval (r14 verdict #2b) — the serving face the kNN
    * graph exists for: per-probe BEAM SEARCH over the frozen edge
    * table (the search step of the NSW/HNSW lineage — Malkov &
    * Yashunin 2016, arXiv:1603.09320 — on the single-layer k-NN
    * graph), unrolled to fixed depth like every other trajectory
    * oracle. The beam seeds from the ENTRY set (the quantizer's seed
    * vertices — deterministic, and already the index's coarse
    * landmarks); each round expands ONE hop over the edges, re-scores
    * exactly (6-dp cosine, vec_id tie-break) and keeps the best
    * `beam`. The previous beam is always in the candidate set, so the
    * best-found cosine per probe is MONOTONE non-decreasing in depth
    * (spec-gated).
    *
    * Scale: per round ONE edge join keyed on the beam's vertex ids
    * (|probes|·beam rows against the k-sparse edge table) + one
    * id-keyed embedding lookup join — no round scans the corpus, and
    * the walk serves from the same persisted edge artifact
    * [[appendToGraph]] maintains. Each round's beam is EAGERLY
    * localCheckpoint'd and the previous round's released as soon as
    * the next has materialized (the [[DedupClusters]] CC-loop
    * discipline — r15 advice: the per-round CacheScope pins
    * accumulated rounds+1 frames per serving CALL, leaking across
    * repeated calls until some caller's releaseAll). Only the FINAL
    * beam survives the call, CacheScope-tracked so the session's
    * normal release lifecycle frees it.
    */
  def graphSearch(
      embeddings: DataFrame,
      edges: DataFrame,
      probes: DataFrame,
      entryIds: Seq[Long],
      beam: Int = 10,
      rounds: Int = 3): DataFrame = {
    // entry candidates: per probe, the literal entry-id list exploded —
    // no join (a crossJoin here would plan a BroadcastNestedLoopJoin;
    // the entry set is driver-resident by contract, like a probe list)
    val entry = probes.select(col("probe_id"),
      explode(array(entryIds.map(lit(_)): _*)).as("vec_id"))
    beamSearchFrom(embeddings, edges, probes, entry, beam, rounds)
  }

  /** The beam-search kernel behind [[graphSearch]] and [[hnswSearch]]:
    * walk `edges` from a PER-PROBE entry frame (`probe_id`, `vec_id`)
    * — the generalization the layer descent needs, where each layer's
    * entries are the previous layer's beam, not a global literal list.
    * Same contract as [[graphSearch]] otherwise (eager per-round
    * checkpoints, previous beam released once the next materializes,
    * final frame CacheScope-tracked).
    */
  private[ext] def beamSearchFrom(
      embeddings: DataFrame,
      edges: DataFrame,
      probes: DataFrame,
      entry: DataFrame,
      beam: Int,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    require(beam >= 1, s"beam must be >= 1: $beam")
    val g = edges.select(col("probe_id").as("_src"), col("vec_id").as("_dst"))
    val pe = probes.select(col("probe_id"), col("embedding").as("_pe"))
    val corpus = embeddings.select(col("vec_id"), col("embedding"), col("label"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    // score a candidate id-frame and keep the per-probe beam; the probe
    // batch is bounded (the serving contract) and broadcasts
    def ranked(cand: DataFrame): DataFrame =
      cand.join(corpus, Seq("vec_id"))
        .join(broadcast(pe), Seq("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("label"),
          round(cosine(col("_pe"), col("embedding")), 6).as("cosine"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= beam)
        .drop("_rn")
    var cur = ranked(entry.select("probe_id", "vec_id")).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val hop = cur.select("probe_id", "vec_id")
        .join(g, col("vec_id") === col("_src"))
        .select(col("probe_id"), col("_dst").as("vec_id"))
      val cand = cur.select("probe_id", "vec_id").unionByName(hop).distinct()
      // eager checkpoint: `cur` is fully consumed before its release
      val next = ranked(cand).localCheckpoint(true)
      org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(cur)
      cur = next
    }
    graft.core.CacheScope.track(cur)
      .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
  }

  /** The DISTINCT probed cells of a probe BATCH under the frozen
    * quantizer — driver-resident by the same contract as
    * [[probeCentroidIds]] (bounded by nCentroids, never by the corpus
    * or the batch): the literal list [[graphSearchClustered]] pushes
    * into the edge scan as `PartitionFilters`.
    */
  def probeCellIds(
      probes: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      nProbe: Int = 4): Seq[Long] =
    probeCellsOf(probes.select(col("probe_id"), col("embedding")),
        centroids, nProbe)
      .select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq.sorted

  /** [[graphSearch]] SERVING from a [[writeGraphClustered]] layout with
    * IVF-style cell restriction: the walk expands only edges whose
    * owning vertex lives in one of the probe batch's probed cells, so
    * the literal cell list prunes parquet FILES at the scan
    * (`PartitionFilters` — the [[ivfTopKClustered]] recipe applied to
    * the edge artifact). The SPANN-style locality trade (Chen et al.
    * 2021, arXiv:2111.08566: search only the nearest coarse cells'
    * posting lists): a vertex outside the probed cells can still be
    * SCORED when an in-cell edge reaches it, but is not expanded
    * further. Deterministic given the frozen quantizer — the declared
    * key's oracle replicates the restriction as a WHERE on the edge
    * CTE — and IO is bounded by the probed cells, never the graph.
    *
    * GATHERED READ: the pruned subgraph is read once and every round
    * walks on the driver, instead of a join, a distinct, a rank window
    * and an eager checkpoint per round:
    *  1. the probe rows with their embeddings and probed cells (one
    *     narrow job; the distinct cells are taken on the driver);
    *  2. in one collect, the probed cells' edges, `probe_id → vec_id`,
    *     from the pruned scan, and `(vec_id, label, embedding)` of the
    *     entry ids and every edge target (a left-semi join against a
    *     broadcast id relation, whose broadcast is one more job).
    * The walk keeps [[beamSearchFrom]]'s contract row for row: the
    * same candidate rule, ids with no corpus row dropped (the inner
    * join), duplicate entry ids kept (the explode), the same cosine
    * kernel through [[graft.functions.VectorOps.round6]], and Spark's
    * double ordering with the `vec_id` tie-break (NaN first, nulls
    * last). The result is the walked rows as a local relation under a
    * one-partition global `ORDER BY (probe_id, cosine desc, vec_id)`:
    * collecting it is one job with no exchange, and nothing stays
    * pinned.
    *
    * MEMORY BOUND and SIZE ROUTE: the driver holds the probe batch
    * (driver-resident by the serving contract — the distributed kernel
    * broadcasts it), the probed cells' edges and the embeddings those
    * edges reach. That is bounded by the probed cells, which is every
    * cell once `nProbe·|probes| ≥ nCentroids`. So the gathered read
    * runs only while the pruned edge files' bytes (a driver-side
    * listing, no job) stay within the session's
    * `spark.sql.autoBroadcastJoinThreshold`, the bound Spark puts on a
    * relation it gathers. Past it, when it is `-1`, or when an id
    * column is not BIGINT, the same pruned edge frame is walked
    * distributed by [[graphSearch]].
    */
  def graphSearchClustered(
      embeddings: DataFrame,
      storedEdges: DataFrame,
      probes: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      entryIds: Seq[Long],
      nProbe: Int = 4,
      beam: Int = 10,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    require(beam >= 1, s"beam must be >= 1: $beam")
    val probeRows = probes.select(col("probe_id"), col("embedding"),
      probedCellIds(centroids, nProbe)).collect()
    val cells = probeRows.flatMap(_.getSeq[Long](2)).distinct.sorted.toSeq
    val edges = storedEdges.filter(col("g_cell").isin(cells: _*)).drop("g_cell")
    val limit = org.apache.spark.sql.GraftBridge
      .autoBroadcastThreshold(embeddings.sparkSession)
    val longIds = Seq(probes.schema("probe_id"), embeddings.schema("vec_id"),
      edges.schema("probe_id"), edges.schema("vec_id"))
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (limit < 0 || !longIds || scannedBytes(edges) > limit)
      graphSearch(embeddings, edges, probes, entryIds, beam, rounds)
    else gatheredWalk(embeddings, edges, probeRows, probes.schema("probe_id"),
      entryIds, beam, rounds)
  }

  /** Bytes `df` reads: the pruned listing of its file scans (driver-side,
    * no job) when every leaf is a file scan, else the optimizer's size
    * estimate.
    */
  private def scannedBytes(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val leaves = df.queryExecution.sparkPlan.collectLeaves()
    if (leaves.nonEmpty && leaves.forall(_.isInstanceOf[FileSourceScanExec]))
      leaves.collect { case f: FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files).map(_.getLen).sum
      }.sum
    else df.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong
  }

  /** One scored candidate of the gathered walk (`cosine` null when
    * either embedding is null, as the plan's cosine is).
    */
  private final case class Hit(vecId: Long, label: Any, cosine: java.lang.Double)

  /** Spark's `ORDER BY cosine DESC, vec_id` over [[Hit]]s: NaN is the
    * greatest double, nulls sort last.
    */
  private val hitOrder: Ordering[Hit] = (a, b) => {
    val c =
      if (a.cosine == null) { if (b.cosine == null) 0 else 1 }
      else if (b.cosine == null) -1
      else org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareDoubles(b.cosine, a.cosine)
    if (c != 0) c else java.lang.Long.compare(a.vecId, b.vecId)
  }

  /** [[graphSearchClustered]]'s driver-side walk over the gathered
    * subgraph (see there for the reads and the contract).
    */
  private def gatheredWalk(
      embeddings: DataFrame,
      edges: DataFrame,
      probeRows: Array[org.apache.spark.sql.Row],
      probeIdField: org.apache.spark.sql.types.StructField,
      entryIds: Seq[Long],
      beam: Int,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val spark = embeddings.sparkSession
    def floats(r: Row, i: Int): Array[Float] =
      if (r.isNullAt(i)) null else r.getSeq[Float](i).toArray
    // each probe id's embeddings, one per probe row (the kernel's probe
    // join); a null probe id joins nothing
    val probeEmbs = probeRows.filterNot(_.isNullAt(0))
      .groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(floats(_, 1)) }
    val walked = if (probeEmbs.isEmpty) Seq.empty[Row] else {
      // the edges and the embeddings of the entry ids and every edge
      // target come back in ONE collect (the id relation's broadcast is
      // the only other job), told apart by `_edge`
      val pairs = edges.select(col("probe_id"), col("vec_id"))
      val entry = spark.createDataFrame(entryIds.distinct.map(Row(_)).asJava,
        StructType(Seq(StructField("vec_id", LongType, nullable = false))))
      val reached = embeddings.select(col("vec_id"), col("label"), col("embedding"))
        .join(broadcast(pairs.select("vec_id").unionByName(entry)), Seq("vec_id"),
          "left_semi")
      val (edgeRows, corpusRows) = pairs
        .select(lit(true).as("_edge"), col("probe_id"), col("vec_id"),
          lit(null).cast(embeddings.schema("label").dataType).as("label"),
          lit(null).cast(embeddings.schema("embedding").dataType).as("embedding"))
        .unionByName(reached.select(lit(false).as("_edge"),
          lit(null).cast(LongType).as("probe_id"), col("vec_id"), col("label"),
          col("embedding")))
        .collect().partition(_.getBoolean(0))
      val out = edgeRows.filterNot(r => r.isNullAt(1) || r.isNullAt(2))
        .groupBy(_.getLong(1)).map { case (v, rs) => v -> rs.map(_.getLong(2)) }
      val corpus = corpusRows.groupBy(_.getLong(2))
        .map { case (v, rs) => v -> rs.map(r => (r.get(3), floats(r, 4))) }
      probeEmbs.keys.toSeq.sorted.flatMap { p =>
        val pes = probeEmbs(p)
        def ranked(cand: Seq[Long]): Seq[Hit] = cand.flatMap { v =>
          corpus.getOrElse(v, Array.empty[(Any, Array[Float])]).toSeq.flatMap {
            case (label, e) => pes.map(pe => Hit(v, label,
              if (pe == null || e == null) null
              else graft.functions.VectorOps.round6(
                graft.functions.VectorOps.cosine(pe, e))))
          }
        }.sorted(hitOrder).take(beam)
        var cur = ranked(Seq.fill(pes.length)(entryIds).flatten)
        for (_ <- 1 to rounds) {
          val beamIds = cur.map(_.vecId).distinct
          cur = ranked((beamIds ++ beamIds.flatMap(out.getOrElse(_, Array.empty[Long])))
            .distinct)
        }
        cur.map(h => Row(p, h.vecId, h.label, h.cosine))
      }
    }
    // already in order; the one-partition global sort keeps the total
    // ORDER BY every served result ends in, at no exchange
    spark.createDataFrame(walked.asJava, StructType(Seq(probeIdField,
      StructField("vec_id", LongType), embeddings.schema("label"),
      StructField("cosine", DoubleType))))
      .coalesce(1).orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
  }

  /** Layer-`l` membership predicate of the HNSW hierarchy: the
    * DETERMINISTIC geometric rule `hash64("v:" ⧺ vec_id) & Long.Max
    * % ratio^l == 0` — the portable stand-in for HNSW's exponential
    * level draw. HASH of the id, not the raw id residue: any
    * correlation between id arithmetic and content (interleaved
    * cluster ids, sharded id ranges) would otherwise make a "layer" a
    * content-biased sample (the clustered fixture catches exactly
    * this). The masked-hash-mod form is the engine/oracle cross-hash
    * contract ([[graft.functions.GraftFunctions.hash64]] /
    * `hash64Ctes`, the writeShards recipe).
    */
  private[graft] def hnswLayerPredicate(l: Int, ratio: Int): Column = {
    val m = math.pow(ratio.toDouble, l.toDouble).toLong
    (graft.functions.GraftFunctions.hash64(
      concat(lit("v:"), col("vec_id").cast("string")))
      .bitwiseAND(lit(Long.MaxValue)) % m) === 0
  }

  /** The HNSW layer hierarchy over the kNN-graph family (Malkov &
    * Yashunin 2016 §4: a geometric stack of ever-sparser graphs whose
    * upper layers make ENTRY-POINT selection logarithmic — the walk
    * descends from a single top-layer entry instead of scoring every
    * coarse landmark per probe). Layer membership is
    * [[hnswLayerPredicate]] (deterministic, so the DuckDB oracle
    * replicates every layer bit-exactly). Element 0 is the base graph
    * — [[knnGraph]] unchanged.
    *
    * Each UPPER layer is the family kernel over the layer's subset
    * (its own lowest-16-id seed quantizer) UNION a LANDMARK STAR:
    * every layer vertex gains an edge to each of the subset's 16
    * quantizer seeds (≤16 extra edges per layer vertex, literal-array
    * explode — no join). The star is the long-range-link half of
    * HNSW's edge mix, and it is load-bearing: a pure kNN graph over
    * clustered data has no cross-cluster edges (nearest neighbors are
    * in-cluster by construction), so a beam entering a layer at the
    * wrong cluster could never leave it — the navigability failure
    * Malkov & Yashunin's insertion heuristic exists to prevent,
    * re-created here deterministically. The BASE layer stays pure
    * kNN: its entries arrive already in-neighborhood from layer 1.
    *
    * Per-layer builder: the declared key keeps the oracle-checkable
    * flat [[knnGraph]] at nc=16. At corpus scale pass `nCentroidsOf =
    * Some(n => n/cellSize)` (the SemDeDup nc ∝ corpus law — fixed nc
    * makes the flat kernel's candidate mass quadratic per decade) and
    * `hier = true`, which builds every layer with the two-level
    * [[knnGraphHier]] (SCALE.md r15).
    */
  def hnswLayerGraphs(
      embeddings: DataFrame,
      levels: Int = 2,
      ratio: Int = 4,
      k: Int = 4,
      nCentroidsOf: Option[Long => Int] = None,
      hier: Boolean = false): Seq[DataFrame] = {
    require(levels >= 1, s"levels must be >= 1: $levels")
    require(ratio >= 2, s"ratio must be >= 2: $ratio")
    def build(sub: DataFrame): DataFrame = {
      val nc = nCentroidsOf.map(f => f(sub.count())).getOrElse(16)
      if (hier) knnGraphHier(sub, k, nc) else knnGraph(sub, k, nc)
    }
    build(embeddings) +: (1 to levels).map { l =>
      val sub = embeddings.filter(hnswLayerPredicate(l, ratio))
      // loud degenerate-corpus guard (r16 advice): a corpus too small
      // for the hierarchy hashes to an EMPTY layer subset, and
      // seedCentroids over it would yield zero landmarks — an opaque
      // analysis error at build time, BEFORE hnswSearch's top-layer
      // guard could ever fire. Name the remedy here instead.
      require(!sub.isEmpty,
        s"hnswLayerGraphs: layer $l (ratio $ratio) holds no vertices - " +
          "the corpus is too small for this hierarchy; lower `levels` " +
          "(or serve the lower levels with graphSearch directly)")
      val cents = seedCentroids(sub, 16)
      build(sub).unionByName(landmarkStar(sub, cents, sub)).distinct()
    }
  }

  /** The LANDMARK-STAR edges of one HNSW layer: every vertex of
    * `vertices` gains an edge to each of the layer's 16 quantizer
    * seeds (`cents`), self excluded — ≤16 extra edges per vertex via a
    * literal-array explode, no join. `labelSrc` supplies the landmark
    * LABELS (the layer subset — landmarks are layer members; `vertices`
    * may be a batch that does not contain them). ONE kernel for the
    * in-memory hierarchy ([[hnswLayerGraphs]]), the persisted build
    * ([[writeHnswClustered]]), and the incremental star append
    * ([[appendToHnswClustered]]) — so the star semantics can never
    * diverge between build and maintenance.
    */
  private[ext] def landmarkStar(
      vertices: DataFrame,
      cents: Seq[(Long, Seq[Float])],
      labelSrc: DataFrame): DataFrame = {
    val ids = cents.map(_._1)
    // landmark labels: 16 rows, configuration-bounded driver collect
    val labOf = labelSrc.filter(col("vec_id").isin(ids: _*))
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lmArr = array(cents.map { case (id, v) =>
      struct(lit(id).as("lid"), array(v.map(lit): _*).as("lvec"),
        lit(labOf(id)).as("llab"))
    }.toIndexedSeq: _*)
    vertices
      .select(col("vec_id").as("probe_id"), col("embedding").as("_pe"))
      .select(col("probe_id"), col("_pe"), explode(lmArr).as("_l"))
      .filter(col("probe_id") =!= col("_l.lid"))
      .select(col("probe_id"), col("_l.lid").as("vec_id"),
        col("_l.llab").as("label"),
        round(cosine(col("_pe"), col("_l.lvec")), 6).as("cosine"))
  }

  /** HNSW-style DESCENT search over [[hnswLayerGraphs]]: start at the
    * top layer's single entry vertex (its minimum id — deterministic),
    * beam-walk each upper layer at width `upperBeam` for `upperRounds`
    * hops, hand the surviving beam down as the NEXT layer's per-probe
    * entry set, and run the base layer exactly as [[graphSearch]] does
    * (`beam` × `rounds` — the bottom stage is unchanged, per the
    * lineage). vs landmark seeding: the entry stage scores ONE vertex
    * per probe instead of nCentroids, and each upper layer is
    * ratio^l-sparser than the corpus — the entry cost that made
    * [[graphSearch]]'s seeding linear in the landmark count becomes
    * logarithmic in corpus size. Fixed depths keep the whole descent
    * oracle-unrollable (the trajectory recipe, one CTE block per
    * layer).
    */
  def hnswSearch(
      embeddings: DataFrame,
      layers: Seq[DataFrame],
      probes: DataFrame,
      beam: Int = 10,
      rounds: Int = 3,
      upperBeam: Int = 4,
      upperRounds: Int = 2,
      ratio: Int = 4): DataFrame = {
    require(layers.size >= 2, s"need a base + >=1 upper layer: ${layers.size}")
    val levels = layers.size - 1
    val topRow = embeddings.filter(hnswLayerPredicate(levels, ratio))
      .agg(min("vec_id")).collect()(0)
    // loud degenerate-corpus guard: a corpus smaller than ~ratio^levels
    // can hash to an EMPTY top layer — name the remedy instead of
    // NPE-ing on the null min
    require(!topRow.isNullAt(0),
      s"hnswSearch: the top layer (level $levels, ratio $ratio) holds no " +
        "vertices - the corpus is too small for this hierarchy; lower " +
        "`levels` (or serve with graphSearch directly)")
    val topEntry = topRow.getLong(0)
    hnswDescend(embeddings, layers, probes, topEntry, beam, rounds,
      upperBeam, upperRounds)
  }

  /** The descent kernel behind [[hnswSearch]] and [[hnswSearchStored]]:
    * seed every probe at `topEntry`, beam-walk each upper layer and
    * hand the surviving beam down, then run the base stage — NO
    * corpus-wide work of any kind (the entry id arrives as a literal).
    */
  private def hnswDescend(
      embeddings: DataFrame,
      layers: Seq[DataFrame],
      probes: DataFrame,
      topEntry: Long,
      beam: Int,
      rounds: Int,
      upperBeam: Int,
      upperRounds: Int): DataFrame = {
    val levels = layers.size - 1
    var entry: DataFrame = probes.select(col("probe_id"))
      .withColumn("vec_id", lit(topEntry))
    for (l <- levels to 1 by -1)
      entry = beamSearchFrom(embeddings, layers(l), probes, entry,
        upperBeam, upperRounds).select("probe_id", "vec_id")
    beamSearchFrom(embeddings, layers(0), probes, entry, beam, rounds)
  }

  // ------------------------------------------ persisted HNSW hierarchy

  /** A LOADED [[writeHnswClustered]] hierarchy: the per-layer edge
    * frames (element 0 = base) plus the frozen top-entry vertex id and
    * the hierarchy's shape — everything [[hnswSearchStored]] needs to
    * descend with zero corpus-wide work before the first hop.
    */
  final case class HnswStored(
      layers: IndexedSeq[DataFrame],
      topEntry: Long,
      levels: Int,
      ratio: Int)

  /** PERSIST the HNSW hierarchy as a maintained artifact (r16 verdict
    * #1/#7 — the `graph_search` save→load→walk precedent one level
    * up). Layout under `path`:
    *
    *   - `l0`        — the base kNN graph, [[writeGraphClustered]]
    *     (g_cell-partitioned under the CORPUS quantizer — the same
    *     layout [[appendToGraphClustered]] maintains);
    *   - `l<j>/knn`  — layer j's kNN edges, [[writeGraphClustered]]
    *     under the LAYER's own lowest-16-id seed quantizer;
    *   - `l<j>/star` — layer j's landmark-star edges (append-only:
    *     maintenance appends newcomers' stars, landmarks are frozen);
    *   - `meta`      — one row `(top_entry, levels, ratio)`: the top
    *     layer's minimum vertex id, persisted WITH the hierarchy so
    *     serving never re-derives it with a corpus scan (r16 verdict
    *     #7 — the entry id is a property of the frozen artifact).
    *
    * A serving user pays the hierarchy build ONCE here; every
    * [[hnswSearchStored]] batch afterwards reads only the layer edges
    * its hops touch. kNN and star edges persist SEPARATELY because
    * they maintain differently (exact re-rank vs append-only) — the
    * read face re-unions them, and the layer-parity spec pins the
    * round trip bit-identical to [[hnswLayerGraphs]].
    *
    * Production nc (r17): `nCentroids` sets the base layout's cell
    * count and `nCentroidsOf` the per-layer build/layout nc ∝ layer
    * size; `hier = true` builds each layer's graph with
    * [[knnGraphHier]]. Every layout is assigned by [[appendKernels]]
    * (two-level above [[GraphLiteralMaxTerms]]), so the appends
    * maintain the assignment the layout was written with. The landmark
    * STAR stays at 16 seeds regardless (≤16 extra edges per vertex is
    * the hierarchy's design constant, not a layout knob).
    */
  def writeHnswClustered(
      spark: SparkSession,
      embeddings: DataFrame,
      path: String,
      levels: Int = 2,
      ratio: Int = 4,
      k: Int = 4,
      nCentroidsOf: Option[Long => Int] = None,
      hier: Boolean = false,
      nCentroids: Int = 16): Unit = {
    require(levels >= 1, s"levels must be >= 1: $levels")
    require(ratio >= 2, s"ratio must be >= 2: $ratio")
    // the levels+1 layer builds share NOTHING (disjoint outputs, each
    // reads the immutable corpus) — submit them concurrently so the
    // small upper-layer jobs fill the scheduler gaps of the base build
    // (on a cluster: independent stages over one immutable input; the
    // write wall-clock is max(layer), not sum).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val baseF = Future {
      val nc0 = nCentroidsOf.map(f => f(embeddings.count()))
        .getOrElse(nCentroids)
      val g = if (hier) knnGraphHier(embeddings, k, nc0)
        else knnGraph(embeddings, k, nc0)
      val cents = seedCentroids(embeddings, nCentroids)
      writeGraphClustered(g,
        appendKernels(cents, 4)._1(embeddings), s"$path/l0")
    }
    val upperF = (1 to levels).map { l =>
      Future {
        val sub = embeddings.filter(hnswLayerPredicate(l, ratio))
        // one driver job: the emptiness guard, the layer minimum, and
        // the layer size together
        val mc = sub.agg(min("vec_id"), count(lit(1))).collect()(0)
        require(!mc.isNullAt(0),
          s"writeHnswClustered: layer $l (ratio $ratio) holds no " +
            "vertices - the corpus is too small for this hierarchy; " +
            "lower `levels`")
        val nc = nCentroidsOf.map(f => f(mc.getLong(1))).getOrElse(16)
        val g = if (hier) knnGraphHier(sub, k, nc)
          else knnGraph(sub, k, nc)
        val starCents = seedCentroids(sub, 16)
        val layoutCents =
          if (nc <= 16) starCents else seedCentroids(sub, nc)
        writeGraphClustered(g,
          appendKernels(layoutCents, 4)._1(sub), s"$path/l$l/knn")
        landmarkStar(sub, starCents, sub)
          .write.mode("overwrite").parquet(s"$path/l$l/star")
        (mc.getLong(0), nc)
      }
    }
    Await.result(baseF, scala.concurrent.duration.Duration.Inf)
    val upper = upperF.map(Await.result(_, scala.concurrent.duration.Duration.Inf))
    import spark.implicits._
    // layer_nc: each layer's LAYOUT quantizer size, frozen with the
    // artifact (r17 advice): an append must run under the nc the layer
    // was WRITTEN with — re-deriving f(count) at append time drifts as
    // folds grow the layer, silently mismatching the stored layout.
    Seq((upper.last._1, levels, ratio, upper.map(_._2)))
      .toDF("top_entry", "levels", "ratio", "layer_nc")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[writeHnswClustered]] hierarchy: each upper layer is the
    * stored kNN edges ∪ its landmark star, DISTINCT — exactly the
    * [[hnswLayerGraphs]] union, now over parquet scans instead of a
    * rebuilt plan (the whole point: the descent's repeated hop joins
    * re-read small files, never re-run the build DAG).
    */
  def readHnswClustered(spark: SparkSession, path: String): HnswStored = {
    val m = spark.read.parquet(s"$path/meta").collect()(0)
    val topEntry = m.getLong(m.fieldIndex("top_entry"))
    val levels = m.getInt(m.fieldIndex("levels"))
    val ratio = m.getInt(m.fieldIndex("ratio"))
    val cols = Seq("probe_id", "vec_id", "label", "cosine").map(col)
    val base = spark.read.parquet(s"$path/l0").select(cols: _*)
    val uppers = (1 to levels).map { l =>
      spark.read.parquet(s"$path/l$l/knn").select(cols: _*)
        .unionByName(spark.read.parquet(s"$path/l$l/star").select(cols: _*))
        .distinct()
    }
    HnswStored((base +: uppers).toIndexedSeq, topEntry, levels, ratio)
  }

  /** [[hnswSearch]] SERVING from a loaded artifact: the descent starts
    * at the PERSISTED top-entry id — no `agg(min)` corpus scan, no
    * layer build; the only corpus touches are the beam stages' bounded
    * id-keyed embedding lookups (r16 verdict #7: zero O(corpus) work
    * before the first hop).
    */
  def hnswSearchStored(
      embeddings: DataFrame,
      stored: HnswStored,
      probes: DataFrame,
      beam: Int = 10,
      rounds: Int = 3,
      upperBeam: Int = 4,
      upperRounds: Int = 2): DataFrame =
    hnswDescend(embeddings, stored.layers, probes, stored.topEntry,
      beam, rounds, upperBeam, upperRounds)

  /** INCREMENTAL maintenance of a [[writeHnswClustered]] hierarchy
    * (r16 verdict #2): [[hnswLayerPredicate]] is deterministic per id,
    * so an arriving vector's layer memberships are known at arrival —
    * fold the batch into EVERY layer it hashes into:
    *
    *   - base layer: [[appendToGraphClustered]] verbatim (vertex
    *     anti-join idempotency, bounded partition rewrite);
    *   - each upper layer's kNN half: the same kernel over the layer
    *     SUBSET under the layer's frozen lowest-16-id quantizer;
    *   - each upper layer's star half: the newcomers' landmark-star
    *     edges APPENDED (landmarks are frozen layer seeds; existing
    *     vertices' stars never change), anti-joined against the stored
    *     star's vertex ids so a re-delivered batch no-ops;
    *   - `meta` is INVARIANT: the top entry is the top layer's lowest
    *     frozen seed, and the seed-cut guard below rejects any arrival
    *     that could undercut it — maintenance never rewrites it.
    *
    * Append ≡ rebuild-over-union PER LAYER (the declared
    * `hnsw_appended` key hash-gates it against the full-rebuild
    * oracle) under the same invariant every incremental face carries:
    * arriving ids must not displace any frozen seed — enforced loudly
    * per layer, since a batch id below a layer's seed cut would change
    * the rebuild's quantizer and silently diverge.
    *
    * `base` must be the full PRE-batch corpus the stored hierarchy
    * covers (the [[appendToGraphClustered]] contract, checked there);
    * `centroids` is the corpus-level quantizer the base layer was
    * written under. Write amplification: the touched g_cell partitions
    * per layer + the newcomers' star rows — never a layer rebuild.
    *
    * @return per-level rewritten g_cell partition ids (level → cells;
    *         empty everywhere = the re-delivery no-op)
    */
  def appendToHnswClustered(
      spark: SparkSession,
      path: String,
      base: DataFrame,
      batch: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      k: Int = 4,
      nProbe: Int = 4,
      nCentroidsOf: Option[Long => Int] = None): Map[Int, Seq[Long]] = {
    val m = spark.read.parquet(s"$path/meta").collect()(0)
    val storedTop = m.getLong(m.fieldIndex("top_entry"))
    val levels = m.getInt(m.fieldIndex("levels"))
    val ratio = m.getInt(m.fieldIndex("ratio"))
    // the per-layer layout nc FROZEN at write time (r17 advice): after
    // the first fold the layer count grows, so re-deriving
    // nCentroidsOf(count) at append time can differ from the nc the
    // layer was written with — the seed-cut guard and probe/assign
    // kernels would then run under a quantizer that no longer matches
    // the stored layout. Artifacts written before layer_nc existed fall
    // back to the caller's nCentroidsOf (the historical behavior).
    val layerNc: Option[Seq[Int]] =
      if (m.schema.fieldNames.contains("layer_nc"))
        Some(m.getSeq[Int](m.fieldIndex("layer_nc")))
      else None
    // per-layer folds touch DISJOINT artifacts (l0, l<j>/knn, l<j>/star)
    // over immutable inputs — run them concurrently, like the build
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val baseF = Future {
      0 -> appendToGraphClustered(spark, s"$path/l0", base, batch,
        centroids, k, nProbe)
    }
    val upperF = (1 to levels).map { l =>
      Future {
        val subBase = base.filter(hnswLayerPredicate(l, ratio))
        val subBatch = batch.filter(hnswLayerPredicate(l, ratio))
        // one driver job: emptiness AND the arriving minimum together
        val minRow = subBatch.agg(min("vec_id")).collect()(0)
        if (minRow.isNullAt(0)) l -> (Nil: Seq[Long])
        else {
          // the star landmarks are ALWAYS the layer's 16 lowest-id
          // seeds; the kNN layout's quantizer is the one the layer was
          // WRITTEN with (meta's layer_nc — frozen, so repeated folds
          // can never drift it; pre-layer_nc artifacts fall back to the
          // caller's nCentroidsOf) and its lowest-nc id set NESTS the
          // star's, so one cut guards both
          val starCents = seedCentroids(subBase, 16)
          val ncOpt = layerNc.map(_(l - 1))
            .orElse(nCentroidsOf.map(f => f(subBase.count())))
          val layoutCents = ncOpt match {
            case None => starCents
            case Some(nc) =>
              if (nc <= 16) starCents else seedCentroids(subBase, nc)
          }
          val seedCut = layoutCents.map(_._1).max
          val minBatch = minRow.getLong(0)
          require(minBatch > seedCut,
            s"appendToHnswClustered: layer $l batch holds vec_id " +
              s"$minBatch <= the layer's frozen seed cut $seedCut - " +
              "arriving ids below a layer's frozen quantizer seeds " +
              "would change the rebuild's quantizer and silently " +
              "diverge from it")
          val cells = appendToGraphClustered(spark, s"$path/l$l/knn",
            subBase, subBatch, layoutCents, k, nProbe)
          val storedStar = spark.read.parquet(s"$path/l$l/star")
          val freshStar = subBatch.join(
            storedStar.select(col("probe_id").as("vec_id")).distinct(),
            Seq("vec_id"), "left_anti")
          if (!freshStar.isEmpty)
            landmarkStar(freshStar, starCents, subBase)
              .write.mode("append").parquet(s"$path/l$l/star")
          l -> cells
        }
      }
    }
    val out = (baseF +: upperF)
      .map(Await.result(_, scala.concurrent.duration.Duration.Inf)).toMap
    // the top entry is INVARIANT under valid appends: it is the top
    // layer's minimum id — i.e. its lowest frozen seed — and the
    // per-layer seed-cut requirement above already rejects any arrival
    // at or below the top layer's 16th-lowest id, so no arrival can
    // undercut it; `meta` never rewrites (storedTop read above only to
    // document the invariant at the call site)
    val _ = storedTop
    out
  }

  /** Brute-force per-probe exact top-k with probes as DATA — the
    * ground-truth kernel for batch recall evaluation ([[topK]]'s
    * contract per probe, [[knnJoin]]'s output shape). The bounded
    * probe batch (small by the serving contract) broadcasts and
    * cross-joins the corpus ONCE — a BroadcastNestedLoopJoin by
    * design: exact recall ground truth is linear in the corpus by
    * definition, and the inner loop is probe-batch-sized (a constant).
    * An EVALUATION shape (recall gates, index-quality audits), never
    * a serving path — serve through [[knnJoin]]/[[knnJoinPq]].
    */
  def knnJoinExact(
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    embeddings
      .crossJoin(broadcast(probes.select(
        col("probe_id"), col("embedding").as("_pe"))))
      .select(col("probe_id"), col("vec_id"), col("label"),
        round(cosine(col("_pe"), col("embedding")), 6).as("cosine"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
      .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
  }

  /** [[knnJoin]] upgraded to the PRODUCTION retrieval stack — the
    * [[ivfPqTopK]] composition (IVF cell restriction → PQ ADC
    * shortlist → exact re-rank) with probes as DATA: per-probe
    * equality with `ivfPqTopK` is bit-exact (spec-asserted), so a
    * probe batch and the declared capstone key share ONE kernel.
    *
    * Plan, beyond [[knnJoinAssigned]]'s cell stage:
    *   - candidate (probe, vector) pairs carry IDS ONLY — no float
    *     payload in the candidate join or the ADC aggregate;
    *   - PQ codes are computed ONCE per distinct candidate vector
    *     (encoding is restriction-independent), never per pair;
    *   - the per-probe ADC table (probe × m·ksub rows: 6-dp-rounded
    *     sub-dot and sub-norm parts — index-ascending accumulation,
    *     the cross-engine float contract) broadcasts over the code
    *     stream; per-(probe, vector) sums run in DECIMAL(16,6),
    *     order-independent;
    *   - floats are touched only for each probe's `shortlist` re-rank
    *     rows — at 100 TB the corpus is read as 8 small ints/row.
    */
  def knnJoinPq(
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      shortlist: Int = IvfPqShortlist,
      codebooks: Option[IndexedSeq[IndexedSeq[Array[Float]]]] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = seedCentroids(embeddings, nCentroids)
    val cbs = codebooks.getOrElse {
      if (cents.length >= PqSubCentroids)
        pqBooksFromSeeds(
          cents.take(PqSubCentroids).map(_._2.toArray).toIndexedSeq, PqSubspaces)
      else pqCodebooks(embeddings)
    }
    val m = cbs.length
    val dsub = cbs.head.head.length
    // per-probe probed cells — the knnJoinAssigned ranking (bounded
    // ≤ nCentroids cell-id collect, pushed as literals)
    val probeCells = probeCellsOf(probes, cents, nProbe)
    val cellIds = probeCells.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    // pinned: candidate vectors feed the pair join AND the PQ encode
    val assigned = graft.core.CacheScope.persist(
      embeddings
        .withColumn("centroid_id", nearestCentroidPortable(cents))
        .filter(col("centroid_id").isin(cellIds: _*)))
    val pairs = assigned.select("vec_id", "label", "centroid_id")
      .join(broadcast(probeCells.select("probe_id", "centroid_id")),
        Seq("centroid_id"))
      .select("probe_id", "vec_id", "label")
    val codes = pqAssignments(
      assigned.select("vec_id", "label", "embedding"), cbs)
      .select("vec_id", "j", "code")
    // per-probe ADC parts: q_j·c and |c|² at 6 dp, both accumulated in
    // ascending index order (zip_with/aggregate — the JVM-loop twin)
    val cb = cbs.zipWithIndex.flatMap { case (centsj, j) =>
      centsj.zipWithIndex.map { case (cvec, code) => (j, code, cvec.toSeq) }
    }.toDF("j", "code", "cvec")
    val probeSlices = probes.select(col("probe_id"),
      posexplode(array((0 until m).map(j =>
        slice(col("embedding"), j * dsub + 1, dsub)): _*)).as(Seq("j", "qsub")))
    val adc = probeSlices.join(broadcast(cb), Seq("j"))
      .select(col("probe_id"), col("j"), col("code"),
        round(aggregate(
          zip_with(col("qsub"), col("cvec"),
            (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0), (acc, x) => acc + x), 6).as("dot6"),
        round(aggregate(col("cvec"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")), 6).as("sq6"))
    val qn = probes.select(col("probe_id"),
      sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))).as("qnorm"))
    val ws = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("pq_cosine").desc, col("vec_id"))
    val short = pairs.join(codes, Seq("vec_id"))
      .join(broadcast(adc), Seq("probe_id", "j", "code"))
      .groupBy("probe_id", "vec_id")
      .agg(
        sum(col("dot6").cast("decimal(16,6)")).as("dots"),
        sum(col("sq6").cast("decimal(16,6)")).as("sqs"))
      .join(broadcast(qn), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        when(col("sqs") === 0.0 || col("qnorm") === 0.0, lit(0.0))
          .otherwise(round(col("dots").cast("double") /
            (col("qnorm") * sqrt(col("sqs").cast("double"))), 6))
          .as("pq_cosine"))
      .withColumn("_rn", row_number().over(ws))
      .filter(col("_rn") <= shortlist)
      .select("probe_id", "vec_id")
    val wr = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    embeddings.join(short, Seq("vec_id"))
      .join(broadcast(probes.select(col("probe_id"), col("embedding").as("_pe"))),
        Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("label"),
        round(cosine(col("_pe"), col("embedding")), 6).as("cosine"))
      .withColumn("_rn", row_number().over(wr))
      .filter(col("_rn") <= k)
      .drop("_rn")
      .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
  }

  /** Per-probe probed-cell expansion — the stage shared by
    * [[knnJoinAssigned]], [[knnJoinPq]], and [[hardNegativesAssigned]]
    * (ONE definition, so a cell-ranking or tie-break fix moves all
    * three): the centroid matrix ranks per probe as a single
    * [[graft.functions.NearestCentroidExpr]] (narrow, no exchange, no
    * per-centroid row blowup, and a plan that does not grow with
    * k·dim), and the top `nProbe` cell ids explode to one row per
    * (probe, probed cell). `carry` names extra probe columns to keep
    * through the expansion (e.g. the probe's label for negative
    * mining).
    */
  private[ext] def probeCellsOf(
      probes: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      nProbe: Int,
      carry: Seq[String] = Nil): DataFrame =
    probes.select(
      col("probe_id") +: col("embedding").as("_pe") +: carry.map(col) :+
        explode(probedCellIds(centroids, nProbe)).as("centroid_id"): _*)

  /** The `nProbe` probed cell ids of the row's `embedding`, ranked
    * nearest first — the array [[probeCellsOf]] explodes.
    */
  private def probedCellIds(
      centroids: Seq[(Long, Seq[Float])], nProbe: Int): Column = {
    transform(rankCentroids(centroids, rounded = true, topN = Some(nProbe)),
      x => x.getField("cid"))
  }

  /** Hard-NEGATIVE mining — the contrastive-training data-prep step of
    * the dense-retriever lineage (DPR, Karpukhin et al. 2020,
    * arXiv:2004.04906 §3.2; ANCE, Xiong et al. 2020, arXiv:2007.00808
    * mines negatives from exactly this kind of ANN index): for every
    * anchor in a probe TABLE (`probe_id`, `embedding`, `probe_label`),
    * the `k` corpus vectors MOST similar to the anchor whose label
    * DIFFERS — the confusable near-misses that teach an embedding
    * model its decision boundary, which random negatives never touch.
    *
    * Same serving shape as [[knnJoin]] (the IVF kernel with probes as
    * data): negatives are mined from the anchor's `nProbe` nearest
    * cells — the ANN-restricted mining that ANCE §4 runs per
    * checkpoint, not a corpus scan. The label filter runs on the
    * candidate stream BEFORE the per-probe rank window, so a
    * same-label-dense cell costs candidate rows, never window rows.
    */
  def hardNegatives(
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val cents = seedCentroids(embeddings, nCentroids)
    hardNegativesAssigned(probes, ivfAssignPortableTo(embeddings, cents),
      cents, k, nProbe)
  }

  /** [[hardNegatives]] over a pre-assigned corpus — [[knnJoinAssigned]]
    * with the anchor's label carried through the cell expansion and a
    * `label != probe_label` filter on the candidate stream. Every
    * ranking compares at 6 dp with id tie-breaks (the family's
    * oracle-portability contract); the one driver collect is the
    * ≤ nCentroids probed-cell-id set.
    */
  def hardNegativesAssigned(
      probes: DataFrame,
      assigned: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      k: Int = 10,
      nProbe: Int = 4): DataFrame =
    knnNeighbors(probes, assigned, centroids, k, nProbe,
      carry = Seq("probe_label"),
      candidateKeep = Some(col("label") =!= col("probe_label")))

  /** k-NN CLASSIFICATION over the IVF kernel — the standard
    * embedding-quality evaluation (Fix & Hodges 1951's rule at
    * ANN-index scale): each probe is classified by the MAJORITY label
    * of its `k` nearest corpus neighbors, the probe's own row
    * excluded (leave-one-out — without the exclusion a corpus probe
    * trivially votes for itself and the accuracy is meaningless).
    * Output per probe: the true label, the predicted label (max
    * votes, smallest label breaking ties — deterministic
    * cross-engine), the winning vote count, and a 0/1 `correct` flag
    * ready for aggregation into an accuracy gate.
    *
    * All heavy lifting is [[knnNeighbors]] (the shared serving
    * kernel); the vote is one probe-bounded aggregate over ≤ k rows
    * per probe — integer counts, exactly portable.
    */
  def knnClassify(
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val cents = seedCentroids(embeddings, nCentroids)
    val neigh = knnNeighbors(probes, ivfAssignPortableTo(embeddings, cents),
      cents, k, nProbe,
      carry = Seq("probe_label"),
      candidateKeep = Some(col("vec_id") =!= col("probe_id")))
    val votes = neigh.groupBy("probe_id", "probe_label", "label")
      .agg(count(lit(1)).as("n_votes"))
    val wv = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("n_votes").desc, col("label").asc)
    votes
      .withColumn("_rn", row_number().over(wv))
      .filter(col("_rn") === 1)
      .select(col("probe_id"), col("probe_label"),
        col("label").as("predicted_label"), col("n_votes"),
        when(col("label") === col("probe_label"), lit(1L)).otherwise(lit(0L))
          .as("correct"))
      .orderBy("probe_id")
  }

  /** Johnson–Lindenstrauss compression of the embedding column —
    * Achlioptas 2003's ±1 sign projection (JCSS 66(4)), the cheap
    * dimensionality cut in FRONT of every O(dim) embedding operator
    * (SemDeDup pair scans, k-means training, LSH sketching): pairwise
    * distances are preserved within the JL distortion bound at a
    * dim/kOut cost reduction for everything downstream.
    *
    * Plan: ONE codegen'd kernel call per row ([[graft.functions.VectorOps.randomProject]])
    * then posexplode — narrow, shuffle-free, no join against a
    * projection-matrix table (the hash-seeded sign matrix is a
    * plan-time constant; at 100 TB the matrix never moves, only the
    * data). Output stays EXPLODED (vec_id, j, proj) — the flat
    * oracle-comparable shape of the embedding family; parts are 6-dp
    * micro-unit exact, so the projection is engine-reproducible
    * bit-for-bit, not merely approximately.
    */
  def randomProjection(embeddings: DataFrame, kOut: Int): DataFrame =
    embeddings
      .select(col("vec_id"),
        posexplode(graft.functions.GraftFunctions.randomProject(
          col("embedding"), kOut)).as(Seq("j", "proj")))
      .select(col("vec_id"), col("j").cast("bigint").as("j"), col("proj"))
      .orderBy("vec_id", "j")

  /** Cosine over two array<double> columns — the codegen'd
    * projected-space kernel (graft.functions.CosineSimDExpr; one fused
    * JVM loop per pair — the first interpreted zip_with/aggregate cut
    * of the recall gate cost 10.5 of its 13.2 s at sf0.1):
    * ascending-index double accumulation, the exact contract the
    * oracle's list_sum replays.
    */
  private def cosineD(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSimD(a, b)

  /** Per-probe recall@k of PROJECTED-space retrieval against full-dim
    * ground truth — the measurement that decides whether
    * [[randomProjection]]'s kOut is usable as a cheap prefilter for
    * the O(dim) embedding family: for each probe in the bounded
    * batch, the exact top-k by cosine over the kOut-dim projections
    * intersected with the exact top-k over the original vectors.
    * Both sides are evaluation shapes (broadcast-bounded cross joins,
    * the [[knnJoinExact]] design — recall ground truth is
    * corpus-linear by definition); the projected side reads dim/kOut
    * of the vector bytes, which is the saving being measured.
    */
  def projectionRecall(
      embeddings: DataFrame,
      probes: DataFrame,
      kOut: Int,
      k: Int = RecallK): DataFrame = {
    // pinned: without the materialization barrier Catalyst collapses
    // the projection INTO the cross join and re-derives randomProject
    // (1024 exact roundings per vector) once per PAIR instead of once
    // per vector — measured 13 s vs 3 s at sf0.1 (the knnJoinPq
    // `assigned` lesson: pin what two plan arms or a pair join reuse)
    val pc = graft.core.CacheScope.persist(
      embeddings.select(col("vec_id"),
        graft.functions.GraftFunctions.randomProject(col("embedding"), kOut)
          .as("pv")))
    val pp = graft.core.CacheScope.persist(
      probes.select(col("probe_id"),
        graft.functions.GraftFunctions.randomProject(col("embedding"), kOut)
          .as("ppv")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
      .orderBy(col("pcos").desc, col("vec_id"))
    val projTop = pc.crossJoin(broadcast(pp))
      .select(col("probe_id"), col("vec_id"),
        round(cosineD(col("ppv"), col("pv")), 6).as("pcos"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select("probe_id", "vec_id")
    val exact = knnJoinExact(embeddings, probes, k)
      .select("probe_id", "vec_id")
    val hits = projTop.join(exact, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_hits"))
    probes.select("probe_id").join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble), 4)
          .as(s"recall_at_$k"))
      .orderBy("probe_id")
  }

  /** Per-vector int8 (0–255) min–max quantization — the storage path
    * for vector corpora at scale (4× smaller than float32 before
    * compression; IVF/LSH recall is barely affected at 8 bits). Pure
    * narrow projection; `floor` (not `round`) keeps the binning
    * bit-identical across engines, and the vector is serialized to CSV
    * for the driver's hash compare. Constant vectors quantize to 0s.
    */
  /** Per-label centroid, one row per (label, dimension): the class-mean
    * step behind k-NN classifiers, cluster seeding, and per-source
    * embedding drift monitoring. Output is kept EXPLODED (label,
    * dim_idx, centroid) rather than re-assembled into arrays — the
    * flat shape is oracle-comparable and join-ready.
    *
    * Plan: posexplode (narrow, ×dim) then one hash aggregate on
    * (label, dim_idx). Partial aggregation collapses every map
    * partition to ≤ |labels|·dim rows before the exchange, so the
    * shuffle volume is O(partitions · labels · dim) — independent of
    * row count; at 100 TB this is the cheapest possible reduction
    * shape (no window, no sort, no driver collect). Means are
    * accumulated in double and rounded to 6 dp, the engine-portability
    * convention the similarity family already uses.
    */
  /** Cross-modal enrichment: each document joined to its embedding row
    * (`doc_id = vec_id`), carrying the text-side quality score and the
    * vector-side L2 norm + label — the retrieval-augmented curation
    * view (filter by text quality AND vector health in one pass; a
    * near-zero norm flags a failed embedding job). Plain equi-join:
    * co-partitioned hash join at scale, no special machinery; the norm
    * folds left-to-right in double and rounds at 6 dp (the cosine
    * family's portability contract).
    */
  def docVectorJoin(documents: DataFrame, embeddings: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("lang"),
        graft.ext.TextStats.qualityScoreColumn(col("text")).as("quality_score"))
      .join(embeddings.select(col("vec_id").as("doc_id"), col("label"),
        round(sqrt(aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 6)
          .as("vec_norm")),
        Seq("doc_id"))
      .select("doc_id", "lang", "label", "quality_score", "vec_norm")
      .orderBy("doc_id")

  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim_idx", "v")))
      .groupBy(col("label"), col("dim_idx").cast("bigint").as("dim_idx"))
      .agg(round(avg(col("v").cast("double")), 6).as("centroid"),
        count(lit(1)).as("n_vectors"))
      .orderBy("label", "dim_idx")

  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val mn = array_min(col("embedding")).cast("double")
    val mx = array_max(col("embedding")).cast("double")
    embeddings
      .select(col("vec_id"), mn.as("mn"), mx.as("mx"), col("embedding"))
      .select(col("vec_id"),
        round(col("mn"), 6).as("mn_r"),
        round(col("mx"), 6).as("mx_r"),
        concat_ws(",", transform(col("embedding"), v =>
          when(col("mx") === col("mn"), lit(0L))
            .otherwise(least(lit(255L),
              floor((v.cast("double") - col("mn")) * lit(256.0)
                / (col("mx") - col("mn")))))
            .cast("string"))).as("q_csv"))
      .orderBy("vec_id")
  }

  /** Centroid table for [[ivfTopK]] from a collected centroid set. */
  def centroidsDF(spark: SparkSession, centroids: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    centroids.toDF("centroid_id", "cvec")
  }

  /** Persist an IVF-assigned vector table PARTITIONED by `centroid_id` —
    * the physical index layout: at 100 TB an offline build job trains
    * the centroids, assigns, and writes exactly this; probes then prune
    * at the FILE level (`PartitionFilters` in the scan — only
    * nProbe/nCentroids of the files are ever listed or read), not just
    * at the compute level the way a post-scan semi-join does.
    * PruningSpec proves the file-count claim.
    */
  def writeClustered(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** INCREMENTAL index maintenance (r13 verdict #4): fold an arriving
    * vector batch into an existing [[writeClustered]] layout without
    * the full retrain+rewrite that was previously the only option —
    * the [[graft.ext.Dedup]] `dedup_incremental` posture applied to
    * the index, with [[ivfDrift]] remaining the judge of when a real
    * retrain is due instead.
    *
    *  1. ASSIGN the batch against the FROZEN centroids (a loaded
    *     [[saveIndex]] artifact) — same [[ivfAssignTo]] argmin the
    *     full build uses, so an appended vector lands in exactly the
    *     partition a rebuild would put it in.
    *  2. Anti-join the batch against ONLY its touched partitions
    *     (partition-pruned scan): a re-delivered batch is a no-op —
    *     at-least-once ingestion upstream cannot duplicate the index.
    *  3. APPEND the surviving rows — new files land only under the
    *     touched `centroid_id=` directories; every file of every
    *     untouched partition stays BYTE-IDENTICAL by construction
    *     (append never rewrites), spec-pinned.
    *  4. [[compactClustered]] bounds the small-file accumulation the
    *     append model creates (the Loader.compact posture): touched
    *     partitions exceeding `maxFilesPerPartition` are rewritten
    *     in place via an eager localCheckpoint + dynamic partition
    *     overwrite — still bounded by the touched partitions, never
    *     the index.
    *
    * Serving equivalence (spec-pinned): the same vector set serves
    * identically from an appended layout and a from-scratch rebuild
    * over the union, because assignment is frozen-centroid argmin and
    * [[ivfTopKClustered]] ranking is file-layout-independent.
    *
    * @return the touched centroid ids (≤ min(|batch|, k) of them)
    */
  def appendToClustered(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      index: IvfIndex,
      maxFilesPerPartition: Int = 8,
      portable: Boolean = false): Seq[Long] = {
    // pinned for the call (local persist, released in finally — NOT
    // CacheScope: the streaming face calls this per micro-batch and a
    // scope-queued pin would accumulate until some caller's
    // releaseAll): the argmin assignment has two consumers (the
    // touched-id collect, then the anti-joined append write) —
    // unpinned, every batch would pay the full per-row argmin twice.
    // `portable` = the 6-dp assignment argmin, for layouts whose base
    // was written portably (the oracle-checked keys): appended vectors
    // must land in the cell the SAME ranking gives, or a 6-dp tie
    // could strand a vector outside the rebuild's cell
    val assigned = (if (portable) ivfAssignPortableTo(batch, index.centroids)
      else ivfAssignTo(batch, index.centroids))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = assigned.select("centroid_id").distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
      if (touched.isEmpty) return Nil
      val existingTouched = spark.read.parquet(path)
        .filter(col("centroid_id").isin(touched: _*))
        .select(col("vec_id"))
      val fresh = assigned.join(existingTouched, Seq("vec_id"), "left_anti")
      fresh.write.mode("append").partitionBy("centroid_id").parquet(path)
      compactClustered(spark, path, touched, maxFilesPerPartition)
      touched
    } finally assigned.unpersist(blocking = false)
  }

  /** Per-partition small-file compaction for a [[writeClustered]]
    * layout — rewrites ONLY the named partitions whose data-file count
    * exceeds the threshold, byte-identical rows, via an eager
    * localCheckpoint + dynamic partition overwrite (file-source writes
    * refuse to overwrite a path they also read; the checkpoint severs
    * that lineage with one materialization instead of a scratch-parquet
    * round trip). Returns partitions rewritten.
    */
  def compactClustered(
      spark: SparkSession,
      path: String,
      partitions: Seq[Long],
      maxFilesPerPartition: Int = 8): Int = {
    require(maxFilesPerPartition >= 1, "threshold must be >= 1 file")
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    val over = partitions.filter { cid =>
      val d = new org.apache.hadoop.fs.Path(root, s"centroid_id=$cid")
      // data files only: '_' metadata AND '.'-prefixed checksum
      // sidecars (.part-*.crc on checksummed filesystems) are excluded,
      // else every data file counts double and under-threshold
      // partitions get rewritten on every touching micro-batch
      fs.exists(d) && fs.listStatus(d)
        .count(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".")) >
        maxFilesPerPartition
    }
    if (over.isEmpty) 0
    else {
      // eager localCheckpoint instead of the scratch-parquet round trip
      // (the foldIntoLayout rationale): one materialization severs the
      // read-path lineage before the dynamic overwrite
      val staged = spark.read.parquet(path)
        .filter(col("centroid_id").isin(over: _*))
        .repartition(col("centroid_id"))
        .localCheckpoint(true)
      try staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("centroid_id")
        .parquet(path)
      finally org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(staged)
      over.size
    }
  }

  /** The `nProbe` centroid ids nearest the probe, ranked exactly as
    * [[ivfTopK]]'s broadcast probe list (cosine desc, centroid_id
    * tie-break). The centroid frame is driver-resident (k×dim), so the
    * collect moves `nProbe` longs — not data.
    */
  def probeCentroidIds(
      centroidsOf: DataFrame,
      probe: Seq[Float],
      nProbe: Int = 4,
      portable: Boolean = false): Seq[Long] = {
    val probeCol = array(probe.map(lit): _*)
    val sim = cosine(col("cvec"), probeCol)
    centroidsOf
      .withColumn("sim", if (portable) round(sim, 6) else sim)
      .orderBy(col("sim").desc, col("centroid_id"))
      .limit(nProbe)
      .select("centroid_id")
      .collect().map(_.getLong(0)).toSeq
  }

  /** IVF top-k over a [[writeClustered]] layout: the probe-list literals
    * reach the scan as `PartitionFilters`, so file listing and IO are
    * bounded by nProbe/nCentroids BEFORE any row is read — the missing
    * half of IVF pruning (the semi-join variant prunes compute only).
    * Row-for-row identical to [[ivfTopK]] on the same assignment.
    */
  def ivfTopKClustered(
      clustered: DataFrame,
      probeIds: Seq[Long],
      probe: Seq[Float],
      k: Int = 10): DataFrame = {
    val probeCol = array(probe.map(lit): _*)
    clustered
      .filter(col("centroid_id").isin(probeIds: _*))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), probeCol), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF probe: search only the `nProbe` centroids closest to the probe
    * vector — scans nProbe/nCentroids of the data.
    */
  def ivfTopK(
      assigned: DataFrame,
      centroidsOf: DataFrame,
      probe: Seq[Float],
      k: Int = 10,
      nProbe: Int = 4): DataFrame = {
    val probeCol = array(probe.map(lit): _*)
    val near = centroidsOf
      .withColumn("sim", cosine(col("cvec"), probeCol))
      .orderBy(col("sim").desc, col("centroid_id"))
      .limit(nProbe)
      .select("centroid_id")
    assigned
      .join(broadcast(near), Seq("centroid_id"), "left_semi")
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), probeCol), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------ product quantization

  /** PQ geometry: `PqSubspaces` disjoint slices of the embedding, each
    * quantized against `PqSubCentroids` sub-centroids → one byte-sized
    * code per slice. 8×16 on the 64-dim table = 8 codes per vector —
    * a 32× compression of the float payload, the IVF-PQ second half
    * (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 33(1)) at the scale where raw vectors stop fitting
    * the cluster's memory.
    */
  val PqSubspaces = 8
  val PqSubCentroids = 16

  /** Seed sub-codebooks: the first `ksub` vectors' slices — the
    * deterministic-seed recipe of [[seedCentroids]]/[[ivfSeedTopK]],
    * which keeps the whole chain (codebook → encode → ADC scoring)
    * DuckDB-oracle-expressible. Production swaps a trained codebook in
    * through the same shape ([[kMeansCentroids]] per slice).
    */
  def pqCodebooks(
      embeddings: DataFrame,
      m: Int = PqSubspaces,
      ksub: Int = PqSubCentroids): IndexedSeq[IndexedSeq[Array[Float]]] =
    pqBooksFromSeeds(
      embeddings.orderBy("vec_id").limit(ksub)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
        .toIndexedSeq,
      m)

  /** The sub-codebook slicing over already-collected seed vectors —
    * shared by [[pqCodebooks]] and [[ivfPqTopK]] (which reuses its IVF
    * centroid collect instead of re-scanning for seeds).
    */
  private def pqBooksFromSeeds(
      seeds: IndexedSeq[Array[Float]], m: Int): IndexedSeq[IndexedSeq[Array[Float]]] = {
    require(seeds.nonEmpty, "empty embedding table")
    val dim = seeds(0).length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    (0 until m).map(j =>
      seeds.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)))
  }

  /** The IVF candidate restriction shared by [[ivfSeedTopK]] and
    * [[ivfPqTopK]]: assign every vector to its portable seed-centroid
    * cell and semi-join the `nProbe` cells nearest the probe — ONE
    * recipe, so a tie-break or probe-ranking fix can never diverge the
    * two operators' cell restriction.
    */
  private def ivfCandidates(
      embeddings: DataFrame,
      cents: Seq[(Long, Seq[Float])],
      probeCol: Column,
      nProbe: Int): DataFrame = {
    val near = centroidsDF(embeddings.sparkSession, cents)
      .withColumn("sim", round(cosine(col("cvec"), probeCol), 6))
      .orderBy(col("sim").desc, col("centroid_id"))
      .limit(nProbe)
      .select("centroid_id")
    embeddings
      .withColumn("centroid_id", nearestCentroidPortable(cents))
      .join(broadcast(near), Seq("centroid_id"), "left_semi")
  }

  /** The 6-dp L2 argmin over a centroid set — the PQ quantization
    * objective as an assignment Column (ties by cid, the portable
    * contract). [[nearestCentroidPortable]]'s cosine twin: PQ training
    * must minimize the SAME squared-error its encode argmin uses
    * (Jégou et al. 2011 train per-slice L2 k-means), or vectors train
    * under one centroid and encode under another.
    */
  def nearestCentroidL2Portable(centroids: Seq[(Long, Seq[Float])]): Column = {
    val scored = array(centroids.map { case (cid, v) =>
      val d = v.zipWithIndex.map { case (c, i) =>
        val e = element_at(col("embedding"), i + 1).cast("double") - lit(c.toDouble)
        e * e
      }.reduce(_ + _)
      struct(round(d, 6).as("d"), lit(cid).as("cid"))
    }.toIndexedSeq: _*)
    array_min(scored).getField("cid")
  }

  /** TRAINED sub-codebooks: per-slice portable Lloyd with the L2
    * assignment objective ([[nearestCentroidL2Portable]] — matching
    * the encode argmin, NOT the IVF loop's cosine), through the shared
    * [[kMeansLoop]]; centroid order = cid order, so codes stay
    * deterministic. This is the production path — PQ's accuracy is a
    * trained-codebook property (the seed recipe exists for
    * oracle-expressibility); [[pqEncode]]/[[pqTopK]] accept either.
    * The SOURCE is scanned once: the (vec_id, embedding) projection is
    * pinned for the duration and every slice training reads the cache
    * (the per-slice Lloyd loops themselves serialize on their driver
    * collects — inherent to Lloyd, not to this wrapper).
    */
  def pqCodebooksTrained(
      embeddings: DataFrame,
      m: Int = PqSubspaces,
      ksub: Int = PqSubCentroids,
      iterations: Int = 3): IndexedSeq[IndexedSeq[Array[Float]]] = {
    val pinned = graft.core.CacheScope.persist(
      embeddings.select(col("vec_id"), col("embedding")))
    val dim = pinned.select(size(col("embedding"))).limit(1)
      .collect()(0).getInt(0)
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    (0 until m).toIndexedSeq.map { j =>
      kMeansLoop(
        pinned.select(col("vec_id"),
          slice(col("embedding"), j * dsub + 1, dsub).as("embedding")),
        nCentroids = ksub, iterations = iterations, portable = true,
        assignOf = nearestCentroidL2Portable)
        .sortBy(_._1).map(_._2.toArray).toIndexedSeq
    }
  }

  /** Per-(vector, subspace) code assignments — the 6-dp L2 argmin over
    * the sub-codebook, ties by code (the portable-argmin contract).
    *
    * Shape: slice the embedding into its m sub-vectors (posexplode),
    * broadcast-join the m·ksub-row codebook on the subspace, fold the
    * dsub-element squared difference per joined row, and take the
    * argmin as a MAP-SIDE-COMBINED `min(struct(d, code))` aggregate —
    * the stream is n·m·ksub small rows, the shuffle n·m after partial
    * aggregation. (The first cut inlined the whole codebook as one
    * m·ksub·dsub-term literal projection — narrow, but past the
    * whole-stage-codegen method limit it evaluated INTERPRETED at
    * ~1.6 ms/row, unusable at corpus scale; the join shape is ~5×
    * faster here and scales with executors.)
    */
  private[ext] def pqAssignments(
      embeddings: DataFrame,
      codebooks: IndexedSeq[IndexedSeq[Array[Float]]]): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val cb = codebooks.zipWithIndex.flatMap { case (cents, j) =>
      cents.zipWithIndex.map { case (cvec, code) => (j, code, cvec.toSeq) }
    }.toDF("j", "code", "cvec")
    val slices = array((0 until m).map(j =>
      slice(col("embedding"), j * dsub + 1, dsub)): _*)
    val sq = zip_with(col("subvec"), col("cvec"), (a, b) => {
      val e = a.cast("double") - b.cast("double")
      e * e
    })
    embeddings
      .select(col("vec_id"), col("label"),
        posexplode(slices).as(Seq("j", "subvec")))
      .join(broadcast(cb), Seq("j"))
      .withColumn("d", round(aggregate(sq, lit(0.0), (acc, x) => acc + x), 6))
      .groupBy("vec_id", "label", "j")
      .agg(min(struct(col("d"), col("code"))).as("best"))
      .select(col("vec_id"), col("label"), col("j"),
        col("best.code").as("code"))
  }

  /** PQ encode: the per-subspace assignments reassembled as an m-entry
    * `codes` array in subspace order — the corpus is read once and
    * leaves as 8 small ints per row; at 100 TB THIS is the stored
    * representation.
    */
  def pqEncode(
      embeddings: DataFrame,
      codebooks: IndexedSeq[IndexedSeq[Array[Float]]]): DataFrame =
    pqAssignments(embeddings, codebooks)
      .groupBy("vec_id", "label")
      .agg(sort_array(collect_list(struct(col("j"), col("code")))).as("jc"))
      .select(col("vec_id"), col("label"),
        transform(col("jc"), x => x.getField("code")).as("codes"))

  /** Compressed-domain top-k (ADC — asymmetric distance computation):
    * score every vector WITHOUT touching its floats. The probe builds a
    * driver-side (subspace, code) → (q·c, |c|²) table — m·ksub rows,
    * 6-dp-rounded — which broadcasts over the posexploded code stream;
    * per-vector sums run in DECIMAL(16,6) (order-independent, the
    * ivf_cell_stats recipe), and the score is the cosine of the probe
    * against the RECONSTRUCTION: dot/(|q|·|x̂|) with |x̂|² = Σⱼ|c_j|²
    * (subspaces are disjoint). Plan: narrow encode → broadcast
    * equi-join on (j, code) → one aggregate → top-k; no float payload
    * in any shuffle.
    */
  def pqTopK(
      embeddings: DataFrame,
      probe: Seq[Float],
      m: Int = PqSubspaces,
      ksub: Int = PqSubCentroids,
      k: Int = 10,
      codebooks: Option[IndexedSeq[IndexedSeq[Array[Float]]]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // default = the oracle-expressible seed recipe; pass
    // [[pqCodebooksTrained]]'s books for the production path. Provided
    // codebooks CARRY the geometry — m/ksub args apply only to the
    // seed-derivation default (a passed book of a different shape is
    // intentional, e.g. test fixtures or retuned budgets)
    val cbs = codebooks.getOrElse(pqCodebooks(embeddings, m, ksub))
    require(cbs.nonEmpty && cbs.forall(_.length == cbs.head.length),
      s"ragged codebooks: ${cbs.map(_.length)}")
    val dsub = cbs.head.head.length
    require(cbs.forall(_.forall(_.length == dsub)),
      "ragged sub-centroid dims: every sub-centroid must have the " +
        s"subspace width $dsub")
    val mUse = cbs.length
    require(probe.length == mUse * dsub,
      s"probe dim ${probe.length} != ${mUse * dsub}")
    def r6(d: Double): Double = graft.functions.VectorOps.round6(d)
    val adc = for {
      j <- 0 until mUse
      (cvec, code) <- cbs(j).zipWithIndex
    } yield {
      var dot = 0.0
      var sq = 0.0
      var i = 0
      while (i < dsub) {
        dot += cvec(i).toDouble * probe(j * dsub + i).toDouble
        sq += cvec(i).toDouble * cvec(i).toDouble
        i += 1
      }
      (j, code, r6(dot), r6(sq))
    }
    var qn = 0.0
    probe.foreach(x => qn += x.toDouble * x.toDouble)
    val qnorm = math.sqrt(qn)
    val dt = adc.toDF("j", "code", "dot6", "sq6")
    pqAssignments(embeddings, cbs)
      .join(broadcast(dt), Seq("j", "code"))
      .groupBy("vec_id", "label")
      .agg(
        sum(col("dot6").cast("decimal(16,6)")).as("dots"),
        sum(col("sq6").cast("decimal(16,6)")).as("sqs"))
      .select(col("vec_id"), col("label"),
        when(col("sqs") === 0.0 || lit(qnorm) === 0.0, lit(0.0))
          .otherwise(round(col("dots").cast("double") /
            (lit(qnorm) * sqrt(col("sqs").cast("double"))), 6))
          .as("pq_cosine"))
      .orderBy(col("pq_cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-label vector-table health report — the ingest trust check for
    * the EMBEDDING side of the corpus (the `profile_documents` analogue):
    * vector counts, dimension min/max (a ragged table breaks every
    * kernel downstream), zero-norm count (TRUE zero vectors — all
    * elements 0, the dead/failed-encode case where cosine silently
    * returns 0; flagged on the UNROUNDED sum of squares, so a tiny
    *-but-live vector under the 6-dp floor is not miscounted as dead),
    * and the 6-dp norm min/sum/max (drift in norm distribution is the
    * standard embedding-version-skew signal; min can print 0.0 for a
    * sub-5e-7-norm vector that is NOT counted dead — the 6-dp display
    * floor). One narrow map-side-combined aggregate; the norm MASS
    * sums in DECIMAL(16,6) of per-row 6-dp values — exact and
    * order-independent (the [[ivfCellStats]] portability recipe), mean
    * = sum/n derivable by the reader.
    */
  def embeddingStats(embeddings: DataFrame): DataFrame = {
    val sumSq = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val norm = round(sqrt(sumSq), 6)
    embeddings
      .select(col("label"), size(col("embedding")).as("_dims"),
        norm.as("_norm"), sumSq.as("_ss"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("_dims")).cast("long").as("dims_min"),
        max(col("_dims")).cast("long").as("dims_max"),
        // NULL embedding counts as dead alongside true zero vectors —
        // the oracle's COALESCE(list_sum(...), 0.0) makes the same
        // choice for both NULL and empty lists; without the coalesce a
        // NULL row would silently fall to the live branch here
        sum(when(coalesce(col("_ss"), lit(0.0)) === 0.0, 1L).otherwise(0L))
          .as("n_zero_norm"),
        min(col("_norm")).as("min_norm"),
        sum(col("_norm").cast("decimal(16,6)")).cast("double").as("sum_norm"),
        max(col("_norm")).as("max_norm"))
      .orderBy("label")
  }

  // ------------------------------------- two-level (hierarchical) argmin

  /** Group the k centroids into ≈`superK` super-cells by a DRIVER-side
    * Lloyd run over the centroid matrix itself (k×dim floats — already
    * driver-resident in every IVF path here; for k=512, dim=64 this is
    * ~130 KB and microseconds of work). Returns only NON-empty supers:
    * (super-centroid vector, member centroids). Deterministic: seeds are
    * the first `superK` centroids by centroid_id, ties in the argmin
    * break toward the lower super index. `superK = 0` → ≈√k.
    */
  private[ext] def superCells(
      centroids: Seq[(Long, Seq[Float])],
      superK: Int,
      iterations: Int = 4): Seq[(Seq[Float], Seq[(Long, Seq[Float])])] = {
    require(superK >= 0, s"superK must be >= 0: $superK")
    val cents = centroids.sortBy(_._1).toIndexedSeq
    val k = math.min(
      if (superK > 0) superK
      else math.max(1, math.round(math.sqrt(cents.size.toDouble)).toInt),
      cents.size)
    val dim = cents.head._2.length
    var sup: IndexedSeq[Array[Double]] =
      cents.take(k).map(_._2.map(_.toDouble).toArray)
    def negCos(a: Array[Double], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) {
        val x = a(i); val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0 || nb == 0) 0.0 else -dot / math.sqrt(na * nb)
    }
    var assign: IndexedSeq[Int] = IndexedSeq.empty
    for (_ <- 0 until iterations) {
      assign = cents.map { case (_, v) =>
        var best = 0; var bestD = Double.MaxValue; var s = 0
        while (s < sup.size) {
          val d = negCos(sup(s), v)
          if (d < bestD) { bestD = d; best = s }
          s += 1
        }
        best
      }
      sup = sup.indices.map { s =>
        val members = cents.indices.filter(assign(_) == s)
        if (members.isEmpty) sup(s)
        else {
          val acc = new Array[Double](dim)
          members.foreach { m =>
            var i = 0; while (i < dim) { acc(i) += cents(m)._2(i); i += 1 }
          }
          acc.map(_ / members.size)
        }
      }
    }
    sup.indices.flatMap { s =>
      val members = cents.indices.filter(assign(_) == s).map(cents)
      if (members.isEmpty) None
      else Some((sup(s).map(_.toFloat).toSeq, members))
    }
  }

  /** Probed super-cells for the two-level argmin. 1 is the textbook
    * coarse quantizer; the default 2 buys back the boundary-vector
    * misroutes (the synthetic corpus is near-isotropic — the worst case
    * for a coarse quantizer, single-probe agreed with the flat argmin
    * only ~74% there; 2-probe ≥90%, spec-pinned). Clustered production
    * embeddings sit far above both numbers.
    */
  val SuperProbeDefault = 2

  /** TWO-LEVEL nearest-centroid assignment: rank ≈√k super-centroids,
    * then exact argmin WITHIN the `superProbe` best super-cells' member
    * centroids (min-merge of the per-cell argmin structs) — per-row
    * kernel count drops from k to ≈(1+2·superProbe)·√k (k=512,
    * probe=2: 512 → ~115 cosine kernels/row), which is what keeps
    * assignment sub-linear when nCentroids scales ∝ corpus (the
    * SemDeDup operating law — SCALE.md).
    *
    * The assignment is the standard coarse-quantizer approximation: a
    * vector whose true centroid hides in an unprobed cell lands with a
    * neighbor; SemDeDup's within-cluster pair search tolerates exactly
    * this class of error (Abbas et al. 2023 §3 run their clustering
    * approximately too). The declared oracle-checked keys stay on the
    * flat portable argmin.
    *
    * Plan shape: ONE narrow projection — the ranked super array is a
    * common subexpression of the probe branches (evaluated once per row
    * under whole-stage codegen), and each probe's CASE chain evaluates
    * ONLY the branch its super id selects. Plan SIZE is
    * O(superProbe·√k) nodes: each arm is one matrix expression over its
    * cell's members, so no centroid float enters the plan.
    * `superK = 0` → ⌈√k⌉.
    */
  def nearestCentroidTwoLevel(
      centroids: Seq[(Long, Seq[Float])],
      superK: Int = 0,
      superProbe: Int = SuperProbeDefault): Column =
    twoLevelArgmin(centroids, superCells(centroids, superK), superProbe)

  /** [[nearestCentroidTwoLevel]] over a PRECOMPUTED super-cell
    * partition — so [[hierGraphKernels]], which shares one partition
    * with its probe lists, never runs the k-point super-cell Lloyd twice.
    */
  private def twoLevelArgmin(
      centroids: Seq[(Long, Seq[Float])],
      cells: Seq[(Seq[Float], Seq[(Long, Seq[Float])])],
      superProbe: Int): Column = {
    require(superProbe >= 1, s"superProbe must be >= 1: $superProbe")
    // probing every cell IS the flat argmin — skip the detour
    if (cells.size <= superProbe) nearestCentroid(centroids)
    else {
      array_min(array(probedArms(cells, superProbe)(nearestCentroidStruct): _*))
        .getField("cid")
    }
  }

  /** [[ivfAssignTo]] with the two-level argmin — the production
    * assignment path for corpus-scaled nCentroids.
    */
  def ivfAssignTwoLevelTo(
      embeddings: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      superK: Int = 0): DataFrame =
    embeddings
      .withColumn("centroid_id", nearestCentroidTwoLevel(centroids, superK))
      .select("vec_id", "embedding", "label", "centroid_id")

  /** Index build with BOTH phases hierarchical ([[kMeansCentroidsFast]]):
    * the 100 TB SemDeDup build path when nCentroids ∝ corpus.
    */
  def buildIvfIndexFast(
      embeddings: DataFrame,
      nCentroids: Int,
      iterations: Int = 3,
      superK: Int = 0): IvfIndex =
    IvfIndex(kMeansCentroidsFast(embeddings, nCentroids, iterations, superK))

  /** SemDeDup's own training recipe (Abbas et al. 2023 cluster on a
    * subset/approximately): Lloyd over a DETERMINISTIC hash-addressed
    * sample of ≈ nCentroids·samplePerCell vectors, assigned with the
    * in-plan two-level argmin ([[kMeansCentroidsFast]]'s loop). With
    * k ∝ n the full-corpus train pass is O(n·√k) per iteration — the
    * measured n^1.5 law (SCALE.md round-11); sampling caps the rows at
    * samplePerCell per cell, so training is O(k·samplePerCell·√k)
    * regardless of corpus size. The returned centroids feed the same
    * full-corpus assignment every other path uses.
    *
    * The sample filter is `xxhash64(vec_id) % modulus == 0` — stable
    * across runs and executors, no shuffle, no RNG. If the corpus is
    * smaller than the target the sample degenerates to the full table.
    */
  def kMeansCentroidsSampled(
      embeddings: DataFrame,
      nCentroids: Int,
      iterations: Int = 3,
      samplePerCell: Int = 32,
      superK: Int = 0): Seq[(Long, Seq[Float])] = {
    require(samplePerCell >= 1, s"samplePerCell must be >= 1: $samplePerCell")
    val proj = embeddings.select(col("vec_id"), col("embedding"))
    val n = proj.count()
    val target = nCentroids.toLong * samplePerCell
    val modulus = math.max(1L, n / math.max(1L, target))
    val sample =
      if (modulus <= 1) proj
      else proj.filter(pmod(xxhash64(col("vec_id")), lit(modulus)) === 0)
    kMeansCentroidsFast(sample, nCentroids, iterations, superK)
  }

  /** Index build with sampled training — the 100 TB SemDeDup build when
    * nCentroids ∝ corpus (training cost bounded by the sample, not the
    * corpus).
    */
  def buildIvfIndexSampled(
      embeddings: DataFrame,
      nCentroids: Int,
      iterations: Int = 3,
      samplePerCell: Int = 32,
      superK: Int = 0): IvfIndex =
    IvfIndex(kMeansCentroidsSampled(
      embeddings, nCentroids, iterations, samplePerCell, superK))

  // ------------------------------------------------- semantic dedup

  /** Cosine threshold for semantic duplicates. SemDeDup sweeps
    * ε ∈ [0.9…0.99] on CLIP/OPT embeddings — but the synthetic test
    * corpus is ISOTROPIC (max pairwise cosine ≈ 0.48; no true semantic
    * duplicates by construction), so the engine default sits in the
    * distribution's upper tail instead: the pair/keep paths carry real
    * weight in every oracle check rather than vacuously matching on
    * empty sets. Production corpora with genuine near-duplicates should
    * raise this to the paper's range.
    */
  val SemDedupMinCos = 0.32

  /** SemDeDup-style semantic near-duplicate PAIRS (Abbas et al. 2023,
    * arXiv:2303.09540): embeddings are k-means-clustered, then pairwise
    * cosine runs ONLY within a cluster — the O(n²) global comparison
    * drops to Σᵢ cᵢ², bounded by the cluster-size distribution, and
    * each cluster's self-join co-locates on the `centroid_id` shuffle
    * key (no vector ever compares across clusters; the paper shows the
    * cross-cluster miss rate is negligible at these thresholds).
    *
    * Scale: nCentroids grows ∝ corpus (SemDeDup uses 50k clusters for
    * LAION-440M) so expected cluster size — and the per-cluster
    * quadratic term — stays constant; with a [[writeClustered]] layout
    * the self-join reads each cluster file once, co-partitioned.
    * Training is the [[buildIvfIndex]] portable Lloyd run, so the whole
    * operator (training + assignment + pair scores at 6 dp) is
    * DuckDB-oracle-checkable.
    */
  def semanticPairs(
      embeddings: DataFrame,
      index: IvfIndex,
      minCos: Double = SemDedupMinCos): DataFrame =
    // pinned: the O(n·k·dim) argmin assignment would otherwise
    // recompute on BOTH sides of the self-join (measured 2× the whole
    // pairs phase at k=160 on sf1)
    semanticPairsFrom(
      graft.core.CacheScope.persist(
        ivfAssignPortableTo(embeddings, index.centroids)
          .select(col("centroid_id"), col("vec_id"), col("embedding"))),
      minCos)

  /** [[semanticPairs]] with the TWO-LEVEL assignment — the production
    * path at corpus-scaled nCentroids, where the flat O(n·k·dim) argmin
    * would dominate the whole operator (SCALE.md r9 measured it at
    * k=512). Pair semantics within a cell are identical (same 6-dp
    * cosine, same keep-lowest-id ordering); only the cell boundaries
    * differ by the coarse-quantizer approximation. The assignment is
    * [[ivfAssignTwoLevelTo]] at every cluster count — in-plan, one
    * matrix expression per probed arm.
    */
  def semanticPairsHier(
      embeddings: DataFrame,
      index: IvfIndex,
      minCos: Double = SemDedupMinCos,
      superK: Int = 0): DataFrame =
    semanticPairsFrom(
      graft.core.CacheScope.persist(
        ivfAssignTwoLevelTo(embeddings, index.centroids, superK)
          .select(col("centroid_id"), col("vec_id"), col("embedding"))),
      minCos)

  /** Within-cell pair kernel shared by the flat and hierarchical
    * assignment paths: co-located self-join on `centroid_id`, 6-dp
    * cosine, keep pairs ≥ minCos.
    */
  private def semanticPairsFrom(assigned: DataFrame, minCos: Double): DataFrame = {
    val b = assigned
      .select(col("centroid_id"), col("vec_id").as("vec_id_b"),
        col("embedding").as("_eb"))
    assigned
      .select(col("centroid_id"), col("vec_id").as("vec_id_a"),
        col("embedding").as("_ea"))
      .join(b, Seq("centroid_id"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .withColumn("cos_sim", round(cosine(col("_ea"), col("_eb")), 6))
      .filter(col("cos_sim") >= lit(minCos))
      .select(col("vec_id_a"), col("vec_id_b"), col("centroid_id"),
        col("cos_sim"))
      .orderBy("vec_id_a", "vec_id_b")
  }

  /** Semantic dedup KEEP set: drop any vector that has a lower-id
    * semantic duplicate in its cluster (deterministic keep-lowest-id
    * representative — the engine's standard keeper rule, cf.
    * `Dedup.exact`). One distinct drop-list (vec_id_b of
    * [[semanticPairs]]) anti-joined back — vectors never re-shuffle by
    * anything but their id.
    */
  def semanticDedup(
      embeddings: DataFrame,
      index: IvfIndex,
      minCos: Double = SemDedupMinCos): DataFrame =
    semanticDedupFrom(embeddings, semanticPairs(embeddings, index, minCos))

  /** [[semanticDedup]] over the two-level assignment path. */
  def semanticDedupHier(
      embeddings: DataFrame,
      index: IvfIndex,
      minCos: Double = SemDedupMinCos,
      superK: Int = 0): DataFrame =
    semanticDedupFrom(embeddings, semanticPairsHier(embeddings, index, minCos, superK))

  private def semanticDedupFrom(embeddings: DataFrame, pairs: DataFrame): DataFrame = {
    val drops = pairs.select(col("vec_id_b").as("vec_id")).distinct()
    embeddings
      .join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  // ------------------------------------------------- prototype pruning

  /** Default keep fraction for [[prunePrototypes]]: 70% — Sorscher et
    * al.'s abundant-data regime prunes the EASY (most prototypical)
    * 20-30% first; the exact fraction is a tuning knob per corpus.
    */
  val PrototypeKeepPct = 70

  /** SSL-prototype data pruning (Sorscher et al. 2022,
    * arXiv:2206.14486 "Beyond neural scaling laws"): a vector's
    * prototypicality is its cosine to its OWN cluster centroid (6 dp —
    * the portable-argmin contract, so the score is the assignment's
    * winning distance, recomputation-free); within each cluster the
    * LEAST prototypical `keepPct`% survive — the paper's abundant-data
    * rule keeps HARD examples (far from the prototype) and prunes the
    * redundant core that SGD learns from any few exemplars.
    *
    * Scale shape: assignment is the narrow argmin projection
    * (zero exchanges); the per-cluster rank windows partition on
    * `centroid_id`, whose cardinality grows ∝ corpus under the
    * SemDeDup k ∝ n law — expected partition size stays constant, so
    * the window never funnels (the same argument as [[semanticPairs]]'
    * self-join, with a LINEAR per-cluster term instead of quadratic).
    * Every row is emitted with its `selected` verdict (the
    * `dsir_select` reporting contract): the caller filters or audits.
    */
  def prunePrototypes(
      embeddings: DataFrame,
      index: IvfIndex,
      keepPct: Int = PrototypeKeepPct): DataFrame =
    pruneRank(
      embeddings
        .withColumn("_a", nearestCentroidScoredPortable(index.centroids))
        .select(col("vec_id"), col("label"),
          col("_a").getField("cid").as("centroid_id"),
          (-col("_a").getField("d")).as("proto_cos")),
      keepPct)

  /** [[prunePrototypes]] over the TWO-LEVEL assignment — the production
    * path at corpus-scaled nCentroids, where the flat O(n·k·dim)
    * argmin is itself the super-linear term (the SemDeDup hier
    * story applied to pruning). The prototypicality score comes from a
    * broadcast join against the (centroid_id, cvec) table (k never
    * enters the plan); rank
    * semantics are the shared [[pruneRank]] kernel, identical to the
    * declared key's.
    */
  def prunePrototypesHier(
      embeddings: DataFrame,
      index: IvfIndex,
      keepPct: Int = PrototypeKeepPct,
      superK: Int = 0): DataFrame = {
    val cents = centroidsDF(embeddings.sparkSession, index.centroids)
    pruneRank(
      ivfAssignTwoLevelTo(embeddings, index.centroids, superK)
        .join(broadcast(cents), Seq("centroid_id"))
        .select(col("vec_id"), col("label"), col("centroid_id"),
          round(cosine(col("embedding"), col("cvec")), 6).as("proto_cos")),
      keepPct)
  }

  /** Shared per-cluster keep-rank kernel: (proto_cos asc, vec_id) rank
    * within each cluster, keep = rank ≤ ⌊n·pct/100⌋ (the topPctBy floor
    * contract — exact integer boundary in both engines: long·int
    * product, double div).
    */
  private def pruneRank(scored: DataFrame, keepPct: Int): DataFrame = {
    require(keepPct >= 0 && keepPct <= 100, s"keepPct out of range: $keepPct")
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("centroid_id").orderBy(col("proto_cos"), col("vec_id"))
    val cntW = org.apache.spark.sql.expressions.Window.partitionBy("centroid_id")
    scored
      .withColumn("_rn", row_number().over(rankW))
      .withColumn("_n", count(lit(1)).over(cntW))
      .withColumn("selected",
        when(col("_rn") <= floor(col("_n") * lit(keepPct) / lit(100)), lit(1L))
          .otherwise(lit(0L)))
      .select(col("vec_id"), col("label"), col("centroid_id"),
        col("proto_cos"), col("selected"))
      .orderBy("vec_id")
  }

  /** D4 data selection (Tirumala et al. 2023, arXiv:2308.12284):
    * SemDeDup first (drop near-exact semantic duplicates), then
    * RE-CLUSTER the survivors and prototype-prune — the paper's point
    * is that dedup shifts the density landscape, so prototypicality
    * must be measured against centroids trained on the DEDUPED set,
    * not recycled from the dedup pass.
    *
    * Both phases ride existing oracle-checked kernels
    * ([[semanticDedup]], portable-Lloyd [[buildIvfIndex]],
    * [[prunePrototypes]]); the survivor set is pinned because Lloyd's
    * iterations AND the final assignment re-read it. Output =
    * [[prunePrototypes]] rows over the survivors ( `selected` = the
    * final D4 keep verdict; dropped semantic duplicates never appear).
    */
  def d4Select(
      embeddings: DataFrame,
      nCentroids: Int = 16,
      iterations: Int = 3,
      minCos: Double = SemDedupMinCos,
      keepPct: Int = PrototypeKeepPct): DataFrame = {
    val index1 = buildIvfIndex(embeddings, nCentroids, iterations, portable = true)
    val keep = semanticDedup(embeddings, index1, minCos).select("vec_id")
    val survivors = graft.core.CacheScope.persist(
      embeddings.join(keep, Seq("vec_id"), "left_semi"))
    val index2 = buildIvfIndex(survivors, nCentroids, iterations, portable = true)
    prunePrototypes(survivors, index2, keepPct)
  }

  /** [[d4Select]] with every phase on its production kernel — the
    * composition a 100 TB run needs when nCentroids ∝ corpus: sampled
    * two-level training ([[buildIvfIndexSampled]] — train cost bounded
    * by the sample), two-level dedup assignment
    * ([[semanticDedupHier]]), sampled RE-training on the survivors,
    * two-level prototype pruning ([[prunePrototypesHier]]). The
    * declared `d4_select_embeddings` key keeps the flat portable path
    * (oracle-checkable); this variant exists because the flat argmin
    * is O(n·k·dim) = O(n²·dim) at k ∝ n — D4ScaleProbe measures both,
    * one decade apart (SCALE.md round-12).
    */
  def d4SelectHier(
      embeddings: DataFrame,
      nCentroids: Int,
      iterations: Int = 3,
      minCos: Double = SemDedupMinCos,
      keepPct: Int = PrototypeKeepPct,
      superK: Int = 0,
      samplePerCell: Int = 32): DataFrame = {
    val index1 = buildIvfIndexSampled(
      embeddings, nCentroids, iterations, samplePerCell, superK)
    val keep = semanticDedupHier(embeddings, index1, minCos, superK).select("vec_id")
    val survivors = graft.core.CacheScope.persist(
      embeddings.join(keep, Seq("vec_id"), "left_semi"))
    val index2 = buildIvfIndexSampled(
      survivors, nCentroids, iterations, samplePerCell, superK)
    prunePrototypesHier(survivors, index2, keepPct, superK)
  }
}
