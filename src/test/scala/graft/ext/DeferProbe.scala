package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe (Test/runMain graft.ext.DeferProbe <sfDir>): the r17
  * DEFERRED-maintenance trade measured at production nc — exact fold
  * vs deferred fold vs the one refresh that settles the accumulated
  * debt, over the same high-id arriving tail the HnswScaleProbe uses.
  * The deferred bound under test: fold cost should track the BATCH
  * (its own edges + its own cells' rewrite), not the corpus's
  * affected-vertex re-rank; the refresh carries that re-rank once,
  * amortized over every fold since the last settle. Each arm's layout is
  * a [[Similarity.knnGraphHier]] build stored under the two-level
  * assignment ([[Similarity.ivfAssignTwoLevelTo]]) — the production-nc
  * build path.
  */
object DeferProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/testdata/sf10")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = graft.io.Sources.table(spark, sfDir, "embeddings")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = e.count()
    val maxId = e.agg(max("vec_id")).collect()(0).getLong(0)
    val arriving = col("vec_id") >= maxId - maxId / 50
    val base = e.filter(!arriving)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batch = e.filter(arriving)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (nBase, nBatch) = (base.count(), batch.count())
    val nc = math.max(16, (nBase / 125).toInt)
    val cents = Similarity.seedCentroids(base, nc)
    val assigned = Similarity.ivfAssignTwoLevelTo(base, cents)
    def freshLayout(tag: String): String = {
      val p = java.nio.file.Files.createTempDirectory(s"defer-$tag")
        .resolve("g").toString
      Similarity.writeGraphClustered(
        Similarity.knnGraphHier(base, k = 4, nCentroids = nc),
        assigned, p)
      p
    }
    // arm 1: the EXACT fold (the r17 write-amplification law's cost)
    val pE = freshLayout("exact")
    val t0 = System.nanoTime()
    val cellsE = Similarity.appendToGraphClustered(
      spark, pE, base, batch, cents, k = 4)
    val tExact = (System.nanoTime() - t0) / 1e9
    println(f"DEFER $sfDir n=$n batch=$nBatch nc=$nc EXACT fold=$tExact%.3f s cells=${cellsE.size}")
    // arm 2: the DEFERRED fold + the settling refresh
    val pD = freshLayout("defer")
    val t1 = System.nanoTime()
    val cellsD = Similarity.appendToGraphClusteredDeferred(
      spark, pD, base, batch, cents, k = 4)
    val tDefer = (System.nanoTime() - t1) / 1e9
    println(f"DEFER $sfDir n=$n batch=$nBatch nc=$nc DEFERRED fold=$tDefer%.3f s cells=${cellsD.size}")
    val t2 = System.nanoTime()
    val cellsR = Similarity.refreshGraphClustered(spark, pD, e, cents, k = 4)
    val tRef = (System.nanoTime() - t2) / 1e9
    println(f"DEFER $sfDir REFRESH settle=$tRef%.3f s cells=${cellsR.size}")
    // arm 3: a LOCALIZED batch (one label's arrivals — few cells):
    // the deferred bound's payoff case vs the exact fold's fixed
    // corpus probe pass
    val bLoc = batch.filter(col("label") === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nLoc = bLoc.count()
    val pE2 = freshLayout("exact-loc")
    val t3 = System.nanoTime()
    val cE2 = Similarity.appendToGraphClustered(
      spark, pE2, base, bLoc, cents, k = 4)
    val tE2 = (System.nanoTime() - t3) / 1e9
    println(f"DEFER $sfDir LOCALIZED batch=$nLoc EXACT fold=$tE2%.3f s cells=${cE2.size}")
    val pD2 = freshLayout("defer-loc")
    val t4 = System.nanoTime()
    val cD2 = Similarity.appendToGraphClusteredDeferred(
      spark, pD2, base, bLoc, cents, k = 4)
    val tD2 = (System.nanoTime() - t4) / 1e9
    println(f"DEFER $sfDir LOCALIZED batch=$nLoc DEFERRED fold=$tD2%.3f s cells=${cD2.size}")
    graft.core.CacheScope.releaseAll()
    spark.stop()
  }
}
