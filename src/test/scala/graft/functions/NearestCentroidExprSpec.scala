package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[NearestCentroidExpr]] against the literal centroid plans it
  * replaced ([[LiteralCentroidForms]]): bit-equal `d` and equal `cid`s,
  * in the same order, on the interpreted and the generated-code paths,
  * rounded and raw.
  */
class NearestCentroidExprSpec extends SparkSpec {

  private val dim = 8
  private val rnd = new scala.util.Random(41)
  private def gauss(n: Int): Seq[Float] = Seq.fill(n)(rnd.nextGaussian().toFloat)

  private val base: Seq[Seq[Float]] = Seq.fill(6)(gauss(dim))
  /** Centroid sets, ids deliberately out of order (ties break on id). */
  private val centroidSets: Seq[(String, Seq[(Long, Seq[Float])])] = Seq(
    "random" -> rnd.shuffle((0 until 12).map(i => (i * 7919L % 101) - 50)).toSeq
      .map(_ -> gauss(dim)),
    // an exact duplicate (ties at any precision) and a near-duplicate
    // (ties only at 6 dp) of base rows, each under a smaller id
    "duplicates" -> (base.zipWithIndex.map { case (v, i) => (100L + i) -> v } ++ Seq(
      7L -> base(0),
      9L -> base(2).map(x => Math.nextUp(x)),
      3L -> base(2).map(x => x * (1 + 1e-7f)))),
    "zero centroid" -> (base.take(4).zipWithIndex.map { case (v, i) => (20L - i) -> v } :+
      (30L -> Seq.fill(dim)(0f))),
    "single" -> Seq(5L -> base(1)))

  private val embeddings: Seq[Seq[Float]] =
    Seq.fill(40)(gauss(dim)) ++ base ++ Seq(
      Seq.fill(dim)(0f),                                 // zero vector
      base(3).updated(2, Float.NaN),                     // a NaN component
      Seq.fill(dim)(Float.NaN),
      base(4).updated(0, Float.PositiveInfinity),
      Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),               // orthogonal to some
      base(5).take(5),                                   // shorter than dim
      base(1) ++ Seq(1f, 2f))                            // longer than dim

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true)))

  private val rows: Seq[Row] =
    embeddings.zipWithIndex.map { case (e, i) => Row(i.toLong, e) } :+ Row(-1L, null)

  /** A local relation folds the projection on the driver (interpreted
    * eval); an RDD source runs it through generated code.
    */
  private def frames: Seq[(String, DataFrame)] = Seq(
    "interpreted" -> spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
    "codegen" -> spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema))

  private def expr(cents: Seq[(Long, Seq[Float])], rounded: Boolean, topN: Option[Int]): Column =
    GraftBridge.column(NearestCentroidExpr(
      GraftBridge.expression(col("embedding")), CentroidMatrix(cents), rounded, topN))

  /** A struct `(d, cid)` as comparable bits: `d` by its bit pattern. */
  private def key(x: Any): Any = x match {
    case null => null
    case r: Row => (if (r.isNullAt(0)) None
      else Some(java.lang.Double.doubleToLongBits(r.getDouble(0))), r.getLong(1))
    case s: scala.collection.Seq[_] => s.map(key).toList
  }

  /** Generated code must compile: no silent fallback to interpretation. */
  private def withCodegenOnly[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val old = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bit-equal to the literal argmin and sorted top-n: random, duplicate, 6-dp tie, zero, NaN, null inputs") {
    withCodegenOnly {
      for ((setName, cents) <- centroidSets; rounded <- Seq(true, false);
           (path, df) <- frames) {
        val k = cents.size
        val tops = Seq(1, k, k + 3).distinct
        val cols = Seq(expr(cents, rounded, None), LiteralCentroidForms.argmin(cents, rounded)) ++
          tops.flatMap(n => Seq(expr(cents, rounded, Some(n)),
            LiteralCentroidForms.top(cents, rounded, n)))
        val got = df.select(col("id") +: cols: _*).collect()
        assert(got.length == rows.length)
        got.foreach { r =>
          cols.indices.by(2).foreach { c =>
            assert(key(r.get(c + 1)) == key(r.get(c + 2)),
              s"$setName, rounded=$rounded, $path, row ${r.getLong(0)}, column ${c / 2}: " +
                s"${r.get(c + 1)} != literal ${r.get(c + 2)}")
          }
        }
        // the edge rows decide as documented: a null embedding scores
        // null everywhere and takes the smallest id
        val nullRow = got.find(_.getLong(0) == -1L).get.getStruct(1)
        assert(nullRow.isNullAt(0) && nullRow.getLong(1) == cents.map(_._1).min)
      }
    }
  }

  test("empty centroid set: the argmin is null (as array_min(array()) is), the top-n empty") {
    withCodegenOnly {
      for ((path, df) <- frames) {
        val got = df.select(expr(Nil, rounded = true, None), array_min(array()),
          expr(Nil, rounded = false, Some(3))).collect()
        got.foreach { r =>
          assert(r.isNullAt(0) && r.isNullAt(1), s"$path: ${r.get(0)} / ${r.get(1)}")
          assert(r.getSeq[Row](2).isEmpty, s"$path: ${r.get(2)}")
        }
      }
    }
  }

  test("the matrix compares by content and prints O(1) in k·dim") {
    val cents = centroidSets.head._2
    val a = CentroidMatrix(cents)
    val b = CentroidMatrix(cents.map { case (c, v) => c -> v.toIndexedSeq })
    assert(a == b && a.hashCode == b.hashCode)
    assert(a != CentroidMatrix(cents.reverse))
    assert(a.toString == s"centroids[${cents.size}x$dim]")
    val e1 = expr(cents, rounded = true, Some(2))
    val e2 = expr(cents.map { case (c, v) => c -> v.toList }, rounded = true, Some(2))
    val df = frames(1)._2
    assert(df.select(e1).queryExecution.optimizedPlan
      .sameResult(df.select(e2).queryExecution.optimizedPlan))
    intercept[IllegalArgumentException](CentroidMatrix(Seq(1L -> gauss(3), 2L -> gauss(4))))
  }
}
