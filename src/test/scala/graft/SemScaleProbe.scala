package graft

import graft.ext.Similarity

/** Scale probe (Test/runMain graft.SemScaleProbe <sfDir> <spec...>):
  * times SemDeDup index build (train) and pair generation at a given
  * cluster count — the evidence behind SCALE.md's "nCentroids must
  * scale with the corpus" entry (fixed k at 10× data grows per-cluster
  * pair work ~100×; k scaled ∝ corpus holds per-cluster size, and so
  * the quadratic term, constant).
  *
  * A spec is `nc` (flat portable path — the declared-key kernel),
  * `nc:hier` (two-level assignment in BOTH train and pairs — the
  * production path at corpus-scaled k), or `nc:sampled` (round-11:
  * hash-sampled two-level training + hier pairs — the train phase
  * bounded by the sample instead of the corpus). Round-10 addition:
  * the hier mode is what shows train+assign staying sub-linear at 10×
  * data with k ∝ n, where the flat argmin is itself the super-linear
  * term; round-11 measures hier's own O(n^1.5) law one decade up and
  * the sampled trainer against it.
  */
object SemScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/testdata/sf1")
    val specs =
      if (args.length > 1) args.drop(1).toSeq.map { s =>
        val parts = s.split(":")
        (parts(0).toInt, if (parts.length > 1) parts(1) else "flat")
      }
      else Seq((160, "flat"))
    val spark = Harness.session(Harness.cpus)
    val e = graft.io.Sources.table(spark, sfDir, "embeddings")
    e.count()
    for ((nc, mode) <- specs; run <- 1 to 3) {
      val t0 = System.nanoTime()
      val idx = mode match {
        case "hier" =>
          Similarity.buildIvfIndexFast(e, nCentroids = nc, iterations = 3)
        case "sampled" =>
          Similarity.buildIvfIndexSampled(e, nCentroids = nc, iterations = 3)
        case _ =>
          Similarity.buildIvfIndex(e, nCentroids = nc, iterations = 3,
            portable = true)
      }
      val t1 = System.nanoTime()
      val n =
        (if (mode == "flat") Similarity.semanticPairs(e, idx)
         else Similarity.semanticPairsHier(e, idx)).count()
      val t2 = System.nanoTime()
      println(f"SEMSCALE nc=$nc mode=$mode run$run train ${(t1 - t0) / 1e9}%.3f s " +
        f"pairs ${(t2 - t1) / 1e9}%.3f s pairs=$n")
      Harness.release(spark)
    }
    spark.stop()
  }
}
