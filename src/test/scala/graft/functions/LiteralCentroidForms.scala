package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The literal centroid plans [[NearestCentroidExpr]] replaced, kept as
  * the specs' reference: one `struct(-cosine(embedding, array(lit…)),
  * lit(cid))` per centroid, `d` through `round(…, 6)` when `rounded`.
  */
object LiteralCentroidForms {

  def scored(centroids: Seq[(Long, Seq[Float])], rounded: Boolean): Column =
    array(centroids.map { case (cid, v) =>
      val negCos = -GraftFunctions.cosineSim(col("embedding"), array(v.map(lit): _*))
      struct((if (rounded) round(negCos, 6) else negCos).as("d"), lit(cid).as("cid"))
    }: _*)

  /** `array_min` over the structs: the argmin `(d, cid)`. */
  def argmin(centroids: Seq[(Long, Seq[Float])], rounded: Boolean): Column =
    array_min(scored(centroids, rounded))

  /** `slice(array_sort(structs), 1, n)`: the `n` best, ascending. */
  def top(centroids: Seq[(Long, Seq[Float])], rounded: Boolean, n: Int): Column =
    slice(array_sort(scored(centroids, rounded)), 1, n)
}
