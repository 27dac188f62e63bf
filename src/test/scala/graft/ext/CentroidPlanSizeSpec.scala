package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The centroid-ranking builders' optimized plans do not grow with the
  * centroid matrix: the matrix rides as one packed expression argument
  * printed as `centroids[kxdim]`, not as `k·dim` float literals (which
  * made both the node count and the plan string linear in `k·dim`).
  */
class CentroidPlanSizeSpec extends SparkSpec {

  private val dim = 64

  private def centroids(k: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(k)
    (0 until k).map(i => i.toLong -> Seq.fill(dim)(rnd.nextGaussian().toFloat))
  }

  private lazy val frame: DataFrame = {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 8).map(i =>
      Row(i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat), i % 3))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false))))
  }

  /** (plan + expression node count, treeString length) of the optimized plan. */
  private def size(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.optimizedPlan
    val nodes = plan.collect { case p => 1 + p.expressions.map(_.collect { case e => e }.size).sum }.sum
    (nodes, plan.treeString.length)
  }

  private val builders: Seq[(String, Seq[(Long, Seq[Float])] => DataFrame)] = Seq(
    "ivfAssignPortableTo" -> (c => Similarity.ivfAssignPortableTo(frame, c)),
    "probeCellsOf" -> (c => Similarity.probeCellsOf(
      frame.withColumnRenamed("vec_id", "probe_id"), c, nProbe = 4)),
    "nearestCentroidTwoLevel" -> (c =>
      frame.withColumn("centroid_id", Similarity.nearestCentroidTwoLevel(c))))

  test("optimized plan node count and treeString length do not grow with k·dim (k = 4 vs 64, dim 64)") {
    for ((name, build) <- builders) {
      val (n4, s4) = size(build(centroids(4)))
      val (n64, s64) = size(build(centroids(64)))
      if (name == "nearestCentroidTwoLevel") {
        // k = 4 has 2 super-cells, so it is the flat argmin; k = 64 adds
        // one CASE arm per (super-cell, probe) — growth in √k arms, each
        // a few nodes and one matrix string, never in k·dim floats
        val arms = Similarity.superCells(centroids(64), 8).size * Similarity.SuperProbeDefault
        assert(n64 - n4 <= 12 * arms, s"$name: $n4 -> $n64 nodes over $arms arms")
        assert(s64 - s4 <= 200 * arms, s"$name: $s4 -> $s64 chars over $arms arms")
      } else {
        assert(n64 == n4, s"$name: $n4 -> $n64 nodes")
        // "centroids[4x64]" vs "centroids[64x64]": one char per occurrence
        assert(s64 - s4 <= 4, s"$name: $s4 -> $s64 chars")
      }
      assert(s64 < 4 * 64 * dim, s"$name: a $s64-char plan prints the matrix")
    }
  }
}
