package graft

import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** Scale probe (Test/runMain graft.AssignProbe <sfDir> <k>): times ONE
  * full-corpus two-level nearest-centroid assignment
  * ([[Similarity.ivfAssignTwoLevelTo]]) at a given k —
  * the evidence behind SCALE.md's two-level assignment entries (round
  * 11, and "Join twins retired": the in-plan two-level argmin ran 2.3×
  * faster than the retired broadcast member-table join at k=1600).
  */
object AssignProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/testdata/sf1")
    val k = if (args.length > 1) args(1).toInt else 160
    val spark = Harness.session(Harness.cpus)
    val e = graft.io.Sources.table(spark, sfDir, "embeddings")
    e.count()
    val cents = Similarity.seedCentroids(e, k)
      .zipWithIndex.map { case ((_, v), i) => i.toLong -> v }
    for (run <- 1 to 3) {
      val assigned = Similarity.ivfAssignTwoLevelTo(e, cents)
      if (run == 1) {
        val plan = assigned.queryExecution.executedPlan.toString
        val wscg = plan.contains("WholeStageCodegen")
        println(s"ASSIGNPROBE twolevel k=$k wholestage=$wscg planLines=${plan.linesIterator.size}")
      }
      // populated cells + an order-free result hash (sum of per-row
      // xxhash64 of (vec_id, centroid_id)): equal hashes, equal assignment
      val t0 = System.nanoTime()
      val r = assigned.groupBy("centroid_id")
        .agg(sum(xxhash64(col("vec_id"), col("centroid_id")).cast("decimal(38,0)")).as("h"))
        .agg(count(lit(1)), sum(col("h"))).collect()(0)
      println(f"ASSIGNPROBE twolevel k=$k run$run ${(System.nanoTime() - t0) / 1e9}%.3f s " +
        f"cells=${r.getLong(0)} hash=${r.getDecimal(1)}")
    }
    spark.stop()
  }
}
