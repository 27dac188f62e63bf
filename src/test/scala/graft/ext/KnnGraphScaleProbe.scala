package graft.ext

import org.apache.spark.sql.functions._

/** Scale probe (Test/runMain graft.ext.KnnGraphScaleProbe <sfDir> <nc...>):
  * times kNN-graph construction (and the label-propagation round on
  * top of it) at a given cluster count — the declared key pins
  * nCentroids = 16 for oracle-checkability, which makes its candidate
  * volume quadratic per decade BY FIXTURE; the production rule is the
  * SemDeDup law the kernel shares with `semanticPairs`: nCentroids ∝
  * corpus holds per-cell size (and so per-vertex candidate count)
  * constant. The flat argmin assignment is O(n·k·dim) — at
  * corpus-scaled k the two-level kernels measured in SCALE.md r11/r12
  * (SemDeDup/D4 hier) are the assignment path; this probe measures the
  * flat law one decade up (`nc`) and the two-level build (`nc:hier`),
  * the same evidence shape as D4's.
  */
object KnnGraphScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // a spec is `nc` (flat — the declared-key kernel) or `nc:hier`
    // (knnGraphHier: two-level assignment + two-level probe lists)
    val specs =
      if (args.length > 1) args.drop(1).toSeq.map { s =>
        val parts = s.split(":")
        (parts(0).toInt, if (parts.length > 1) parts(1) else "flat")
      }
      else Seq((16, "flat"))
    val spark = graft.Harness.session(graft.Harness.cpus)
    val e = graft.io.Sources.table(spark, sfDir, "embeddings")
    val n = e.count()
    for ((nc, mode) <- specs; run <- 1 to 3) {
      val t0 = System.nanoTime()
      val g = mode match {
        case "hier" => Similarity.knnGraphHier(e, k = 4, nCentroids = nc)
        case _ => Similarity.knnGraph(e, k = 4, nCentroids = nc)
      }
      // edge count + an order-free result hash (sum of per-edge
      // xxhash64): two builds with equal hashes produced the same edges
      val r = g.agg(count(lit(1)),
        sum(xxhash64(g.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
        .collect()(0)
      val tg = (System.nanoTime() - t0) / 1e9
      println(f"KNNGRAPH $sfDir n=$n nc=$nc:$mode run$run graph=$tg%.3f s " +
        f"(edges=${r.getLong(0)} hash=${r.getDecimal(1)})")
      graft.Harness.release(spark)
    }
    spark.stop()
  }
}
