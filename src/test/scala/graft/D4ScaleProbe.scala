package graft

import graft.ext.Similarity

/** Scale probe (Test/runMain graft.D4ScaleProbe <sfDir> <nc...>):
  * times the composed D4 selection (SemDeDup → re-cluster survivors →
  * prototype-prune) at a given cluster count — the evidence behind
  * SCALE.md's round-12 entry. The declared key pins nCentroids = 16
  * for oracle-checkability, which makes its pair phase quadratic per
  * decade BY FIXTURE (per-cluster size grows 10× → pair work 100×);
  * the production rule is the SemDeDup law both phases inherit:
  * nCentroids ∝ corpus holds per-cluster size, and so the quadratic
  * term, constant. This probe measures exactly that: the same
  * composed operator at fixture k and at k ∝ n, one decade apart.
  */
object D4ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/testdata/sf1")
    // a spec is `nc` (flat portable path — the declared-key kernel) or
    // `nc:hier` (sampled two-level training + hier dedup + hier prune —
    // the production path at corpus-scaled k)
    val specs =
      if (args.length > 1) args.drop(1).toSeq.map { s =>
        val parts = s.split(":")
        (parts(0).toInt, if (parts.length > 1) parts(1) else "flat")
      }
      else Seq((16, "flat"))
    val spark = Harness.session(Harness.cpus)
    val e = graft.io.Sources.table(spark, sfDir, "embeddings")
    e.count()
    for ((nc, mode) <- specs; run <- 1 to 3) {
      val t0 = System.nanoTime()
      val n = mode match {
        case "hier" => Similarity.d4SelectHier(e, nCentroids = nc).count()
        case _      => Similarity.d4Select(e, nCentroids = nc).count()
      }
      println(f"D4PROBE sf=$sfDir nc=$nc mode=$mode run$run ${(System.nanoTime() - t0) / 1e9}%.3f s ($n verdicts)")
      Harness.release(spark)
    }
    spark.stop()
  }
}
