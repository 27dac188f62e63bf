package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Enforces SCALE.md's scan-pruning claims as invariants: a projection
  * that only needs 3 columns must reach the parquet scan as a 3-column
  * `ReadSchema`, and metadata-only media queries must never read the
  * binary payload. A refactor that silently widens a scan fails here at
  * sf0.001 instead of multiplying IO by the table width at 100 TB.
  */
class PruningSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(flatten)
  }

  /** Column names read by each parquet scan, keyed by a path fragment. */
  private def scans(df: DataFrame): Seq[(String, Seq[String])] =
    flatten(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec =>
        (f.relation.location.rootPaths.mkString(","),
          f.requiredSchema.fieldNames.toSeq)
    }

  test("flagship: lineitem scan reads only the 3 referenced columns of 11") {
    val s = scans(SparkEntry.entry(spark))
      .filter(_._1.contains("lineitem"))
    graft.core.CacheScope.releaseAll()
    assert(s.nonEmpty)
    assert(s.forall(_._2.toSet == Set("l_orderkey", "l_extendedprice", "l_discount")),
      s"lineitem scan widened: $s")
  }

  test("media_stats on a persisted media table never reads the binary payload") {
    import graft.ext.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("media_prune")
    try {
      val path = dir.toString
      Multimodal.asMediaTable(graft.io.Sources.table(spark, sfDir, "documents"))
        .write.mode("overwrite").parquet(path)
      val stats = Multimodal.mediaStats(spark.read.parquet(path))
      val s = scans(stats)
      assert(s.nonEmpty)
      assert(s.forall(!_._2.contains("payload")),
        s"metadata-only query reads the payload column: $s")
      assert(stats.count() == 3) // and it still computes
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  test("sessionize: events scan skips the unused value/props columns") {
    val s = scans(SparkEntry.queries("sessionize_events")(spark, sfDir))
    graft.core.CacheScope.releaseAll()
    val ev = s.filter(_._1.contains("events"))
    assert(ev.nonEmpty)
    assert(ev.forall(c => !c._2.contains("props") && !c._2.contains("value")),
      s"sessionize reads unused wide columns: $ev")
  }

  test("revenue forecast: all three predicates reach the scan as PushedFilters") {
    val df = SparkEntry.queries("analytics_revenue_forecast")(spark, sfDir)
    val pushed = flatten(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.mkString(",").contains("lineitem") =>
        f.metadata.getOrElse("PushedFilters", "")
    }
    graft.core.CacheScope.releaseAll()
    assert(pushed.nonEmpty, "no lineitem scan found")
    val p = pushed.mkString
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(p.contains(c), s"predicate on $c not pushed to the scan: $p"))
  }

  test("IVF clustered layout: nProbe=4 probe prunes FILES, not just compute") {
    import graft.ext.Similarity
    val e = graft.io.Sources.table(spark, sfDir, "embeddings")
    val index = Similarity.buildIvfIndex(e, nCentroids = 16, iterations = 1)
    val assigned = Similarity.ivfAssignTo(e, index.centroids)
    val dir = java.nio.file.Files.createTempDirectory("ivf_prune")
    try {
      Similarity.writeClustered(assigned, dir.toString)
      val probe = Similarity.defaultProbe(e)
      val ids = Similarity.probeCentroidIds(index.toDF(spark), probe, nProbe = 4)
      val q = Similarity.ivfTopKClustered(spark.read.parquet(dir.toString), ids, probe)
      val scan = flatten(q.queryExecution.executedPlan)
        .collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(fail("no parquet scan in the clustered plan"))
      // the probe-id literals must reach the scan as PartitionFilters —
      // that is what bounds file listing/IO at nProbe/nCentroids
      assert(scan.partitionFilters.nonEmpty,
        "probe ids did not become PartitionFilters")
      val selected = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters)
      val all = scan.relation.location.listFiles(Nil, Nil)
      assert(all.size >= 12, s"degenerate layout: ${all.size} partitions")
      assert(selected.size <= 4,
        s"probe lists ${selected.size} partitions, expected <= 4")
      val selFiles = selected.map(_.files.size).sum
      val allFiles = all.map(_.files.size).sum
      assert(selFiles * 2 <= allFiles,
        s"file pruning ineffective: $selFiles of $allFiles files read")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  test("clustered graph serving: probed cells prune edge-table FILES (r15 verdict #1)") {
    import graft.ext.Similarity
    import org.apache.spark.sql.functions.col
    val e = graft.io.Sources.table(spark, sfDir, "embeddings")
    val cents = Similarity.seedCentroids(e, 16)
    val dir = java.nio.file.Files.createTempDirectory("graph_prune")
    try {
      val path = dir.resolve("graph").toString
      Similarity.writeGraphClustered(Similarity.knnGraph(e, k = 4),
        Similarity.ivfAssignPortableTo(e, cents), path)
      // a bounded probe batch (2 probes × nProbe 4 ≤ 8 cells): the
      // exact edge frame graphSearchClustered reads — gathered once for
      // the driver-side walk, or hop-joined past the broadcast
      // threshold; either way its result plan no longer shows the
      // scan, so the scan shape is pinned on the restricted frame itself
      val probes = e.filter(col("vec_id").isin(0L, 1L))
        .select(col("vec_id").as("probe_id"), col("embedding"))
      val cells = Similarity.probeCellIds(probes, cents, nProbe = 4)
      assert(cells.nonEmpty && cells.size <= 8)
      val q = spark.read.parquet(path)
        .filter(col("g_cell").isin(cells: _*)).drop("g_cell")
      val scan = flatten(q.queryExecution.executedPlan)
        .collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(fail("no parquet scan in the clustered edge plan"))
      assert(scan.partitionFilters.nonEmpty,
        "probed cells did not become PartitionFilters on the edge scan")
      val selected = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters)
      val all = scan.relation.location.listFiles(Nil, Nil)
      assert(all.size >= 12, s"degenerate graph layout: ${all.size} partitions")
      assert(selected.size <= cells.size,
        s"probe lists ${selected.size} partitions, expected <= ${cells.size}")
      assert(selected.size * 2 <= all.size,
        s"cell pruning ineffective: ${selected.size} of ${all.size} partitions read")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  test("token_count: documents scan reads only doc_id and text") {
    val s = scans(SparkEntry.queries("token_count_documents")(spark, sfDir))
    graft.core.CacheScope.releaseAll()
    val d = s.filter(_._1.contains("documents"))
    assert(d.nonEmpty)
    assert(d.forall(_._2.toSet == Set("doc_id", "text")),
      s"token_count scan widened: $d")
  }
}
