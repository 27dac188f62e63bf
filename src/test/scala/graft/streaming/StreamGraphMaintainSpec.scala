package graft.streaming

import graft.SparkSpec
import graft.ext.Similarity
import graft.io.Sources
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class GmVec(vec_id: Long, embedding: Seq[Float], label: Int)

/** Streaming face 15: continuous kNN-graph maintenance over the
  * clustered vector + edge layout pair.
  */
class StreamGraphMaintainSpec extends SparkSpec {

  private lazy val embs = Sources.table(spark, "/root/testdata/sf0.001", "embeddings")

  /** (cents, base, b1, b2): a high-id tail split whose seed vertices
    * all stay in base, so the frozen quantizer equals the union's and
    * append-vs-rebuild comparisons are exact.
    */
  private def tailSplit() = {
    val cents = Similarity.seedCentroids(embs, 16)
    val seedCut = cents.map(_._1).max
    val cut = embs.agg(max("vec_id")).collect()(0).getLong(0) * 9 / 10
    val arriving = col("vec_id") > seedCut && col("vec_id") >= cut
    val base = embs.filter(!arriving)
    val batch = embs.filter(arriving)
    val ids = batch.select("vec_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    (cents, base,
      batch.filter(col("vec_id") < mid), batch.filter(col("vec_id") >= mid))
  }

  private def graphFiles(path: java.nio.file.Path): Map[String, (Long, Long)] = {
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

  private def edgeRows(path: String) =
    spark.read.parquet(path).drop("g_cell")
      .select("probe_id", "vec_id", "label", "cosine")
      .orderBy(col("probe_id"), col("cosine").desc, col("vec_id"))
      .collect().map(_.toSeq).toSeq

  test("appendToGraphClustered: equals the rebuild; untouched cells byte-identical; re-delivery no-op") {
    val (cents, base, b1, b2) = tailSplit()
    assert(b1.count() > 0 && b2.count() > 0)
    val root = java.nio.file.Files.createTempDirectory("graft-gclust")
    val gPath = root.resolve("graph").toString
    val baseAssigned = Similarity.ivfAssignPortableTo(base, cents)
    Similarity.writeGraphClustered(
      Similarity.knnGraph(base, k = 4), baseAssigned, gPath)
    val before = graphFiles(java.nio.file.Paths.get(gPath))
    val cells1 = Similarity.appendToGraphClustered(
      spark, gPath, base, b1, cents, k = 4)
    assert(cells1.nonEmpty, "a non-empty batch must rewrite some cells")
    // untouched partitions: every file outside the rewritten cells is
    // byte-identical (path + size + mtime)
    val after1 = graphFiles(java.nio.file.Paths.get(gPath))
    val rewritten = cells1.map(c => s"g_cell=$c/").toSet
    before.foreach { case (rel, meta) =>
      if (!rewritten.exists(rel.startsWith)) {
        assert(after1.get(rel).contains(meta),
          s"untouched graph file changed: $rel")
      }
    }
    // fold the second batch in (base is now base ∪ b1), then compare
    // the whole layout against the from-scratch rebuild over the union
    Similarity.appendToGraphClustered(
      spark, gPath, base.unionByName(b1), b2, cents, k = 4)
    val rebuilt = Similarity.knnGraph(embs, k = 4)
      .collect().map(_.toSeq).toSeq
    assert(edgeRows(gPath) == rebuilt,
      "appended clustered graph diverged from the rebuild over the union")
    // re-delivery: the vertex anti-join makes it a no-op
    val snap = graphFiles(java.nio.file.Paths.get(gPath))
    assert(Similarity.appendToGraphClustered(
      spark, gPath, embs, b1, cents, k = 4) == Nil)
    assert(graphFiles(java.nio.file.Paths.get(gPath)) == snap,
      "re-delivered batch must leave the layout file-identical")
  }

  test("appendToGraphClustered: overlapping (not exact-replay) re-delivery with a smaller base fails loudly (r15 advice)") {
    val (cents, base, b1, b2) = tailSplit()
    assert(b1.count() > 0 && b2.count() > 0)
    val root = java.nio.file.Files.createTempDirectory("graft-gcomp")
    val gPath = root.resolve("graph").toString
    Similarity.writeGraphClustered(Similarity.knnGraph(base, k = 4),
      Similarity.ivfAssignPortableTo(base, cents), gPath)
    Similarity.appendToGraphClustered(spark, gPath, base, b1, cents, k = 4)
    // the dangerous shape: a re-delivered batch with DIFFERENT
    // composition (b1 ∪ b2 — b1 overlaps, b2 is fresh) against the
    // PRE-b1 base: b1's vertices are live in the graph but absent from
    // both base and fresh, so b2 would score against a corpus missing
    // them — must refuse, not silently diverge
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendToGraphClustered(
        spark, gPath, base, b1.unionByName(b2), cents, k = 4)
    }
    assert(ex.getMessage.contains("stored vertices absent"),
      s"wrong refusal message: ${ex.getMessage}")
    // the SAME overlapping batch with the honest pre-batch base (base
    // ∪ b1) is legal: overlap no-ops on the anti-join, b2 folds in
    Similarity.appendToGraphClustered(
      spark, gPath, base.unionByName(b1), b1.unionByName(b2), cents, k = 4)
    assert(edgeRows(gPath) ==
      Similarity.knnGraph(embs, k = 4).collect().map(_.toSeq).toSeq,
      "overlapping batch with honest base diverged from the rebuild")
  }

  test("appendToGraphClustered: a layout whose g_cell is NOT the flat argmin still purges stale rows (r15 advice)") {
    val (cents, base, b1, _) = tailSplit()
    val root = java.nio.file.Files.createTempDirectory("graft-gperm")
    val gPath = root.resolve("graph").toString
    // adversarial layout: cells permuted away from the portable argmin
    // (the knnGraphHier / non-portable-assignment shape the advice
    // names) — the append must derive each affected vertex's owning
    // cell from the STORED layout, or its stale rows survive in a
    // never-rewritten partition as duplicates
    val permuted = Similarity.ivfAssignPortableTo(base, cents)
      .withColumn("centroid_id", lit(1000L) + col("centroid_id"))
    val baseGraph = Similarity.knnGraph(base, k = 4)
    Similarity.writeGraphClustered(baseGraph, permuted, gPath)
    Similarity.appendToGraphClustered(spark, gPath, base, b1, cents, k = 4)
    val rows = edgeRows(gPath)
    val pairs = rows.map(r => (r(0), r(1)))
    assert(pairs.distinct.size == pairs.size,
      "stale rows survived in a never-rewritten partition (duplicate edges)")
    assert(rows ==
      Similarity.appendToGraph(
          graft.core.CacheScope.persist(Similarity.knnGraph(base, k = 4)),
          base, b1, cents, k = 4)
        .collect().map(_.toSeq).toSeq,
      "permuted-layout append diverged from the whole-table append")
    graft.core.CacheScope.releaseAll()
  }

  test("deferred fold: O(batch) write amplification, newcomers searchable immediately; refresh settles to the exact fold ≡ the rebuild (r17)") {
    val (cents, base, b1, b2) = tailSplit()
    assert(b1.count() > 0 && b2.count() > 0)
    val root = java.nio.file.Files.createTempDirectory("graft-gdefer")
    val gPath = root.resolve("graph").toString
    Similarity.writeGraphClustered(Similarity.knnGraph(base, k = 4),
      Similarity.ivfAssignPortableTo(base, cents), gPath)
    val before = graphFiles(java.nio.file.Paths.get(gPath))
    val cells1 = Similarity.appendToGraphClusteredDeferred(
      spark, gPath, base, b1, cents, k = 4)
    // the deferred bound, verbatim: rewritten cells == the cells the
    // batch LANDS in — never the affected vertices' home cells
    val batchCells = Similarity.ivfAssignPortableTo(b1, cents)
      .select("centroid_id").distinct().collect().map(_.getLong(0)).toSet
    assert(cells1.toSet == batchCells,
      s"deferred rewrite $cells1 != batch cells $batchCells")
    val after1 = graphFiles(java.nio.file.Paths.get(gPath))
    val rewritten = cells1.map(c => s"g_cell=$c/").toSet
    before.foreach { case (rel, meta) =>
      if (!rewritten.exists(rel.startsWith) && !rel.startsWith("_pending"))
        assert(after1.get(rel).contains(meta),
          s"cell outside the batch changed under a deferred fold: $rel")
    }
    // newcomers are searchable IMMEDIATELY: their own edge rows equal
    // the exact fold's newcomer rows (scored against the full
    // pre-batch corpus)
    val b1Ids = b1.select("vec_id").collect().map(_.getLong(0)).toSet
    val deferredNew = edgeRows(gPath).filter(r => b1Ids(r.head.asInstanceOf[Long]))
    val exactNew = Similarity.appendToGraph(
        graft.core.CacheScope.persist(Similarity.knnGraph(base, k = 4)),
        base, b1, cents, k = 4)
      .collect().map(_.toSeq).toSeq
      .filter(r => b1Ids(r.head.asInstanceOf[Long]))
    assert(deferredNew == exactNew,
      "deferred newcomers' edges diverged from the exact fold's")
    // a second deferred fold accumulates debt; ONE refresh settles
    // both — the layout must equal the from-scratch rebuild
    Similarity.appendToGraphClusteredDeferred(
      spark, gPath, base.unionByName(b1), b2, cents, k = 4)
    assert(Similarity.refreshGraphClustered(
      spark, gPath, embs, cents, k = 4).nonEmpty)
    assert(edgeRows(gPath) ==
      Similarity.knnGraph(embs, k = 4).collect().map(_.toSeq).toSeq,
      "settled layout diverged from the rebuild")
    // the debt is cleared: refresh again is a no-op; a re-delivered
    // batch no-ops on the vertex anti-join
    assert(Similarity.refreshGraphClustered(
      spark, gPath, embs, cents, k = 4) == Nil)
    assert(Similarity.appendToGraphClusteredDeferred(
      spark, gPath, embs, b1, cents, k = 4) == Nil)
    graft.core.CacheScope.releaseAll()
  }

  test("deferred fold crash windows: markers land BEFORE the data write, so every reachable crash state settles to the rebuild (r17 advice)") {
    val (cents, base, b1, _) = tailSplit()
    val root = java.nio.file.Files.createTempDirectory("graft-gdcrash")
    val gPath = root.resolve("graph").toString
    Similarity.writeGraphClustered(Similarity.knnGraph(base, k = 4),
      Similarity.ivfAssignPortableTo(base, cents), gPath)
    val fs = new org.apache.hadoop.fs.Path(gPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // reachable crash state (a): markers created, crash BEFORE the data
    // write — reproduce it by hand-creating the batch's landing-cell
    // markers with no data landed. The replayed fold must still fold the
    // batch (the anti-join sees no stored vertices) and refresh must
    // settle to the rebuild. Under the pre-fix ordering the symmetric
    // state (data landed, markers lost) was reachable and UNRECOVERABLE:
    // the replay no-ops on the anti-join before marker creation and the
    // re-rank debt is gone forever.
    val batchCells = Similarity.ivfAssignPortableTo(b1, cents)
      .select("centroid_id").distinct().collect().map(_.getLong(0)).sorted
    fs.mkdirs(new org.apache.hadoop.fs.Path(gPath, "_pending"))
    batchCells.foreach(c => fs.createNewFile(
      new org.apache.hadoop.fs.Path(gPath, s"_pending/cell=$c")))
    val replayCells = Similarity.appendToGraphClusteredDeferred(
      spark, gPath, base, b1, cents, k = 4)
    assert(replayCells.toSeq == batchCells.toSeq,
      "replay after a markers-only crash must fold the full batch")
    assert(Similarity.refreshGraphClustered(
      spark, gPath, base.unionByName(b1), cents, k = 4).nonEmpty)
    assert(edgeRows(gPath) ==
      Similarity.knnGraph(base.unionByName(b1), k = 4)
        .collect().map(_.toSeq).toSeq,
      "markers-only crash replay + refresh diverged from the rebuild")
    // reachable crash state (b): a marker with NO actual debt (the fold
    // completed; a later fold crashed right after re-creating markers).
    // Refresh must be a harmless identity rewrite of that cell.
    val snapRows = edgeRows(gPath)
    val strayCell = batchCells.head
    fs.mkdirs(new org.apache.hadoop.fs.Path(gPath, "_pending"))
    fs.createNewFile(new org.apache.hadoop.fs.Path(gPath, s"_pending/cell=$strayCell"))
    assert(Similarity.refreshGraphClustered(
      spark, gPath, base.unionByName(b1), cents, k = 4).nonEmpty)
    assert(edgeRows(gPath) == snapRows,
      "a debt-free marker must refresh to identical edge rows")
    assert(Similarity.refreshGraphClustered(
      spark, gPath, base.unionByName(b1), cents, k = 4) == Nil,
      "settled debt must clear its markers")
    graft.core.CacheScope.releaseAll()
  }

  test("maintainBatch: vector+graph pair converges to the rebuild; crash-replay at any point is a no-op (face 15)") {
    val (cents, base, b1, b2) = tailSplit()
    val index = Similarity.IvfIndex(cents)
    val root = java.nio.file.Files.createTempDirectory("graft-gmaint")
    val vPath = root.resolve("vectors").toString
    val gPath = root.resolve("graph").toString
    val baseAssigned = Similarity.ivfAssignPortableTo(base, cents)
    Similarity.writeClustered(baseAssigned, vPath)
    Similarity.writeGraphClustered(
      Similarity.knnGraph(base, k = 4), baseAssigned, gPath)
    val c1 = StreamGraphMaintain.maintainBatch(spark, b1, index, vPath, gPath)
    assert(c1.nonEmpty)
    // full re-delivery (both appends landed): must be a no-op end to
    // end — the "crashed between the appends" point gets its own test
    val vSnap = graphFiles(java.nio.file.Paths.get(vPath))
    val gSnap = graphFiles(java.nio.file.Paths.get(gPath))
    assert(StreamGraphMaintain.maintainBatch(spark, b1, index, vPath, gPath) == Nil)
    assert(graphFiles(java.nio.file.Paths.get(vPath)) == vSnap &&
      graphFiles(java.nio.file.Paths.get(gPath)) == gSnap,
      "re-delivered batch must leave both layouts file-identical")
    StreamGraphMaintain.maintainBatch(spark, b2, index, vPath, gPath)
    // both artifacts equal the offline rebuild over the full corpus
    assert(edgeRows(gPath) ==
      Similarity.knnGraph(embs, k = 4).collect().map(_.toSeq).toSeq,
      "maintained graph diverged from the rebuild")
    assert(spark.read.parquet(vPath).count() == embs.count(),
      "maintained vector layout must hold the full corpus")
  }

  test("maintainBatch job budget at fixture size: 56 jobs to fold a batch, 3 for its re-delivery") {
    val (cents, base, b1, _) = tailSplit()
    val index = Similarity.IvfIndex(cents)
    val root = java.nio.file.Files.createTempDirectory("graft-gjobs")
    val vPath = root.resolve("vectors").toString
    val gPath = root.resolve("graph").toString
    val baseAssigned = Similarity.ivfAssignPortableTo(base, cents)
    Similarity.writeClustered(baseAssigned, vPath)
    Similarity.writeGraphClustered(
      Similarity.knnGraph(base, k = 4), baseAssigned, gPath)
    val (cells, foldJobs) = jobsRun(
      StreamGraphMaintain.maintainBatch(spark, b1, index, vPath, gPath))
    assert(cells.nonEmpty)
    val (again, redeliveryJobs) = jobsRun(
      StreamGraphMaintain.maintainBatch(spark, b1, index, vPath, gPath))
    assert(again == Nil)
    // exact pins: a change in either count is a plan change to explain
    assert(foldJobs == 56, s"fold ran $foldJobs jobs")
    assert(redeliveryJobs == 3, s"re-delivery ran $redeliveryJobs jobs")
  }

  test("crash between the graph and vector appends: replay converges, no duplicate edges (face 15)") {
    val (cents, base, b1, _) = tailSplit()
    val index = Similarity.IvfIndex(cents)
    val root = java.nio.file.Files.createTempDirectory("graft-gcrash")
    val vPath = root.resolve("vectors").toString
    val gPath = root.resolve("graph").toString
    val baseAssigned = Similarity.ivfAssignPortableTo(base, cents)
    Similarity.writeClustered(baseAssigned, vPath)
    Similarity.writeGraphClustered(
      Similarity.knnGraph(base, k = 4), baseAssigned, gPath)
    // the crash state: the GRAPH append landed, the vector append did
    // not (maintainBatch's exact ordering) — reproduce it by calling
    // the graph append alone
    Similarity.appendToGraphClustered(spark, gPath, base, b1, cents, k = 4)
    // replay the whole batch through the face: the graph append no-ops
    // on its vertex anti-join, the vector append completes
    StreamGraphMaintain.maintainBatch(spark, b1, index, vPath, gPath)
    val union = base.unionByName(b1)
    assert(edgeRows(gPath) ==
      Similarity.appendToGraph(
          graft.core.CacheScope.persist(Similarity.knnGraph(base, k = 4)),
          base, b1, cents, k = 4)
        .collect().map(_.toSeq).toSeq,
      "replayed pair diverged from the single-delivery append")
    assert(spark.read.parquet(vPath).count() == union.count(),
      "vector layout must hold the batch exactly once after replay")
    graft.core.CacheScope.releaseAll()
  }

  test("streamed micro-batches through the sink equal the offline rebuild (face 15)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (cents, base, b1, b2) = tailSplit()
    val index = Similarity.IvfIndex(cents)
    val root = java.nio.file.Files.createTempDirectory("graft-gstream")
    val vPath = root.resolve("vectors").toString
    val gPath = root.resolve("graph").toString
    val baseAssigned = Similarity.ivfAssignPortableTo(base, cents)
    Similarity.writeClustered(baseAssigned, vPath)
    Similarity.writeGraphClustered(
      Similarity.knnGraph(base, k = 4), baseAssigned, gPath)
    def vecsOf(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "embedding", "label").collect()
      .map(r => GmVec(r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val input = MemoryStream[GmVec]
    // continuous micro-batch trigger: the AvailableNow default would
    // terminate before the post-start addData batches arrive
    val q = StreamGraphMaintain.maintain(input.toDF(), index, vPath, gPath,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    try {
      input.addData(vecsOf(b1).toSeq: _*)
      q.processAllAvailable()
      input.addData(vecsOf(b2).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(edgeRows(gPath) ==
      Similarity.knnGraph(embs, k = 4).collect().map(_.toSeq).toSeq,
      "streamed graph maintenance diverged from the rebuild")
    assert(spark.read.parquet(vPath).count() == embs.count())
  }
}
