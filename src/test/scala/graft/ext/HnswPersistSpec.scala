package graft.ext

import graft.SparkSpec
import graft.io.Sources
import org.apache.spark.sql.functions._

/** The persisted HNSW hierarchy (r16 verdict #1/#2/#7): write→read
  * layer parity, descent-only serving equivalence, per-layer
  * incremental maintenance ≡ rebuild-over-union, re-delivery
  * idempotency, the seed-cut refusal, and the descent's bounded
  * lineage.
  */
class HnswPersistSpec extends SparkSpec {

  private lazy val embs =
    Sources.table(spark, "/root/testdata/sf0.001", "embeddings")

  /** The declared key's split: arriving ids must clear the corpus seed
    * cut AND every layer's lowest-16-id seed cut (layers nest under
    * the hash rule), so every frozen quantizer equals the union's.
    */
  private def layerSplit(levels: Int, ratio: Int) = {
    val cents = Similarity.seedCentroids(embs, 16)
    var arriving = col("vec_id") % 10 === 9 &&
      col("vec_id") > cents.map(_._1).max
    for (l <- 1 to levels) {
      val cut = Similarity.seedCentroids(
        embs.filter(Similarity.hnswLayerPredicate(l, ratio)), 16)
        .map(_._1).max
      arriving = arriving &&
        (!Similarity.hnswLayerPredicate(l, ratio) || col("vec_id") > cut)
    }
    (cents, embs.filter(!arriving), embs.filter(arriving))
  }

  private def files(path: java.nio.file.Path): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(path).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => path.relativize(p).toString ->
        (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis))
      .toMap
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) = df
    .select("probe_id", "vec_id", "label", "cosine")
    .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
    .collect().map(_.toSeq).toSeq

  test("writeHnswClustered/readHnswClustered: per-layer parity with hnswLayerGraphs; stored descent ≡ in-memory hnswSearch; top entry persisted (r17)") {
    val root = java.nio.file.Files.createTempDirectory("graft-hnswp")
    val path = root.resolve("hnsw").toString
    Similarity.writeHnswClustered(spark, embs, path, levels = 2, ratio = 4,
      k = 4)
    val idx = Similarity.readHnswClustered(spark, path)
    assert(idx.levels == 2 && idx.ratio == 4)
    // the persisted top entry IS the top layer's minimum id — serving
    // never re-derives it with a corpus scan (r16 verdict #7)
    val expectTop = embs.filter(Similarity.hnswLayerPredicate(2, 4))
      .agg(min("vec_id")).collect()(0).getLong(0)
    assert(idx.topEntry == expectTop,
      s"persisted top entry ${idx.topEntry} != layer minimum $expectTop")
    // layer parity: each loaded layer holds exactly the hnswLayerGraphs
    // rows (the round trip through the split knn/star artifacts)
    val mem = Similarity.hnswLayerGraphs(embs, levels = 2, ratio = 4, k = 4)
    for (l <- 0 to 2)
      assert(rowsOf(idx.layers(l)) == rowsOf(mem(l)),
        s"stored layer $l diverged from hnswLayerGraphs")
    // descent-only serving: bit-identical to the in-memory descent
    val probes = embs.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val stored = Similarity.hnswSearchStored(embs, idx, probes,
      beam = 10, rounds = 3, upperBeam = 4, upperRounds = 2)
      .collect().map(_.toSeq).toSeq
    val inMem = Similarity.hnswSearch(embs, mem, probes,
      beam = 10, rounds = 3, upperBeam = 4, upperRounds = 2, ratio = 4)
      .collect().map(_.toSeq).toSeq
    assert(stored == inMem, "stored descent diverged from the in-memory one")
    graft.core.CacheScope.releaseAll()
  }

  test("appendToHnswClustered: append ≡ rebuild-over-union PER LAYER; re-delivery leaves every artifact file-identical (r17)") {
    val (cents, base, batch) = layerSplit(2, 4)
    assert(batch.count() > 0, "fixture must yield a non-empty batch")
    val root = java.nio.file.Files.createTempDirectory("graft-hnswa")
    val path = root.resolve("hnsw").toString
    Similarity.writeHnswClustered(spark, base, path, levels = 2, ratio = 4,
      k = 4)
    val cells = Similarity.appendToHnswClustered(spark, path, base, batch,
      cents, k = 4)
    assert(cells(0).nonEmpty, "a non-empty batch must rewrite base cells")
    // per-layer equality with the from-scratch hierarchy over the union
    val idx = Similarity.readHnswClustered(spark, path)
    val rebuilt = Similarity.hnswLayerGraphs(embs, levels = 2, ratio = 4,
      k = 4)
    for (l <- 0 to 2)
      assert(rowsOf(idx.layers(l)) == rowsOf(rebuilt(l)),
        s"appended layer $l diverged from the rebuild over the union")
    // top entry invariant under valid appends (it is the lowest frozen
    // seed of the top layer; the seed-cut guard protects it)
    assert(idx.topEntry ==
      embs.filter(Similarity.hnswLayerPredicate(2, 4))
        .agg(min("vec_id")).collect()(0).getLong(0))
    // re-delivery: every layer's anti-join no-ops — the whole artifact
    // tree is file-identical, and the returned cells are empty
    val snap = files(java.nio.file.Paths.get(path))
    val redo = Similarity.appendToHnswClustered(spark, path, embs, batch,
      cents, k = 4)
    assert(redo.values.forall(_.isEmpty),
      s"re-delivery rewrote cells: $redo")
    assert(files(java.nio.file.Paths.get(path)) == snap,
      "re-delivered batch must leave the hierarchy file-identical")
    graft.core.CacheScope.releaseAll()
  }

  test("appendToHnswClustered: an arrival at or below a layer's frozen seed cut fails loudly (r17)") {
    // hierarchy over the EVEN-id half so odd ids are genuinely new —
    // the fixture's ids are dense, so an unseen sub-cut id must be
    // manufactured from the held-out half
    val evens = embs.filter(col("vec_id") % 2 === 0)
    val cents = Similarity.seedCentroids(evens, 16)
    val root = java.nio.file.Files.createTempDirectory("graft-hnswg")
    val path = root.resolve("hnsw").toString
    Similarity.writeHnswClustered(spark, evens, path, levels = 2, ratio = 4,
      k = 4)
    // adversarial batch: a NEW layer-1 member whose id is AT/BELOW the
    // layer's frozen seed cut — the rebuild's quantizer would change,
    // so the append must refuse (an absent re-delivered seed would be
    // caught by the orphan check instead; this id was never stored)
    val l1cut = Similarity.seedCentroids(
      evens.filter(Similarity.hnswLayerPredicate(1, 4)), 16).map(_._1).max
    import spark.implicits._
    val badId = (1L until l1cut by 2).find { id =>
      Seq(id).toDF("vec_id")
        .filter(Similarity.hnswLayerPredicate(1, 4)).count() == 1
    }
    assume(badId.nonEmpty, "no odd sub-cut layer-1 id at this SF")
    val dim = embs.select("embedding").head.getSeq[Float](0).length
    val bad = Seq((badId.get, Seq.fill(dim)(0.1f), 0))
      .toDF("vec_id", "embedding", "label")
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendToHnswClustered(spark, path, evens, bad, cents, k = 4)
    }
    assert(ex.getMessage.contains("frozen seed cut"),
      s"wrong refusal: ${ex.getMessage}")
    graft.core.CacheScope.releaseAll()
  }

  test("hnswSearchStored: the final beam's lineage is checkpoint-bounded — plan has no joins and does not grow with layer count (r16 verdict #7)") {
    val root = java.nio.file.Files.createTempDirectory("graft-hnswl")
    val probes = embs.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    def planOf(levels: Int): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
      val path = root.resolve(s"hnsw$levels").toString
      Similarity.writeHnswClustered(spark, embs, path, levels = levels,
        ratio = 2, k = 4)
      Similarity.hnswSearchStored(embs,
        Similarity.readHnswClustered(spark, path), probes,
        beam = 10, rounds = 3, upperBeam = 4, upperRounds = 2)
        .queryExecution.optimizedPlan
    }
    def joins(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
        .size
    val p2 = planOf(2)
    val p3 = planOf(3)
    // every beam stage ends in an eager localCheckpoint, so the frame a
    // caller holds is Sort-over-LogicalRDD: zero joins, and a deeper
    // hierarchy cannot grow the terminal lineage (the per-layer hop
    // joins stay one-hop-deep behind their checkpoints)
    assert(joins(p2) == 0, s"descent lineage leaked joins:\n$p2")
    assert(joins(p3) == 0 && p3.treeString.count(_ == '\n') ==
      p2.treeString.count(_ == '\n'),
      "terminal lineage grew with layer count")
    graft.core.CacheScope.releaseAll()
  }

  test("appendToGraphClustered at PRODUCTION nc (two-level regime): append ≡ the knnGraphHier rebuild over the union (r17)") {
    val maxId = embs.agg(max("vec_id")).collect()(0).getLong(0)
    val arriving = col("vec_id") >= maxId - maxId / 50
    val base = embs.filter(!arriving)
    val batch = embs.filter(arriving)
    assert(batch.count() > 0)
    // nc chosen inside appendKernels' two-level regime (2·nc·dim past
    // GraphLiteralMaxTerms) but under the base's size so the frozen
    // lowest-nc seed set equals the union's (the high-id tail invariant)
    val nc = 400
    val cents = Similarity.seedCentroids(base, nc)
    assert(cents.size == nc &&
      2L * cents.size * cents.head._2.length > Similarity.GraphLiteralMaxTerms,
      s"fixture in the flat regime: ${cents.size} x ${cents.head._2.length}")
    val root = java.nio.file.Files.createTempDirectory("graft-gprod")
    val p = root.resolve("g").toString
    // an ARBITRARY deterministic placement (not the append's argmin) —
    // the stored-cell derivation must place affected vertices where
    // the LAYOUT says, and placement never changes the edge ROWS
    Similarity.writeGraphClustered(
      Similarity.knnGraphHier(base, k = 4, nCentroids = nc),
      base.select(col("vec_id"), (col("vec_id") % 29).as("centroid_id")), p)
    Similarity.appendToGraphClustered(spark, p, base, batch, cents, k = 4)
    val appended = spark.read.parquet(p)
      .select("probe_id", "vec_id", "label", "cosine")
      .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
      .collect().map(_.toSeq).toSeq
    val rebuilt = Similarity.knnGraphHier(embs, k = 4, nCentroids = nc)
      .collect().map(_.toSeq).toSeq
    assert(appended == rebuilt,
      "production-nc append diverged from the hier rebuild")
    graft.core.CacheScope.releaseAll()
  }

  test("maintainBatchHnsw: vector+hierarchy converge to the rebuild; crash-replay mid-hierarchy heals (face 15, layered)") {
    val (cents, base, batch) = layerSplit(2, 4)
    val index = Similarity.IvfIndex(cents)
    val root = java.nio.file.Files.createTempDirectory("graft-hnswm")
    val vPath = root.resolve("vectors").toString
    val hPath = root.resolve("hnsw").toString
    Similarity.writeClustered(
      Similarity.ivfAssignPortableTo(base, cents), vPath)
    Similarity.writeHnswClustered(spark, base, hPath, levels = 2, ratio = 4,
      k = 4)
    // the crash state: the BASE layer's fold landed, the upper layers
    // and the vector append did not — reproduce by appending to l0
    // alone, then replay the whole batch through the face
    Similarity.appendToGraphClustered(spark, s"$hPath/l0", base, batch,
      cents, k = 4)
    val (cells, replayJobs) = jobsRun(
      graft.streaming.StreamGraphMaintain.maintainBatchHnsw(
        spark, batch, index, vPath, hPath))
    assert(cells.nonEmpty)
    // exact pin: a change in the count is a plan change to explain
    assert(replayJobs == 12, s"crash replay ran $replayJobs jobs")
    val idx = Similarity.readHnswClustered(spark, hPath)
    val rebuilt = Similarity.hnswLayerGraphs(embs, levels = 2, ratio = 4,
      k = 4)
    for (l <- 0 to 2)
      assert(rowsOf(idx.layers(l)) == rowsOf(rebuilt(l)),
        s"replayed layer $l diverged from the rebuild")
    assert(spark.read.parquet(vPath).count() == embs.count(),
      "vector layout must hold the batch exactly once after replay")
    // full re-delivery through the face: file-identical no-op
    val vSnap = files(java.nio.file.Paths.get(vPath))
    val hSnap = files(java.nio.file.Paths.get(hPath))
    assert(graft.streaming.StreamGraphMaintain.maintainBatchHnsw(
      spark, batch, index, vPath, hPath) == Map.empty)
    assert(files(java.nio.file.Paths.get(vPath)) == vSnap &&
      files(java.nio.file.Paths.get(hPath)) == hSnap,
      "re-delivered batch must leave both artifacts file-identical")
    graft.core.CacheScope.releaseAll()
  }

  test("maintainHnsw: streamed micro-batches through the layered sink equal the per-layer rebuild (face 15, layered)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{GmVec, StreamGraphMaintain}
    val (cents, base, batch) = layerSplit(2, 4)
    val ids = batch.select("vec_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val (b1, b2) = (batch.filter(col("vec_id") < mid),
      batch.filter(col("vec_id") >= mid))
    assert(b1.count() > 0 && b2.count() > 0)
    val root = java.nio.file.Files.createTempDirectory("graft-hnsws")
    val vPath = root.resolve("vectors").toString
    val hPath = root.resolve("hnsw").toString
    Similarity.writeClustered(
      Similarity.ivfAssignPortableTo(base, cents), vPath)
    Similarity.writeHnswClustered(spark, base, hPath, levels = 2, ratio = 4,
      k = 4)
    def vecsOf(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "embedding", "label").collect()
      .map(r => GmVec(r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[GmVec]
    // continuous micro-batch trigger: the AvailableNow default would
    // terminate before the post-start addData batches arrive
    val q = StreamGraphMaintain.maintainHnsw(input.toDF(),
        Similarity.IvfIndex(cents), vPath, hPath, k = 4,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    try {
      input.addData(vecsOf(b1).toSeq: _*)
      q.processAllAvailable()
      input.addData(vecsOf(b2).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val idx = Similarity.readHnswClustered(spark, hPath)
    val rebuilt = Similarity.hnswLayerGraphs(embs, levels = 2, ratio = 4,
      k = 4)
    for (l <- 0 to 2)
      assert(rowsOf(idx.layers(l)) == rowsOf(rebuilt(l)),
        s"streamed layer $l diverged from the rebuild over the union")
    assert(spark.read.parquet(vPath).count() == embs.count(),
      "vector layout must hold every streamed vector exactly once")
    graft.core.CacheScope.releaseAll()
  }
}
