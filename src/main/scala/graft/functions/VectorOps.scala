package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}

/** A centroid matrix held as data: `k` ids and one packed row-major
  * `k×dim` float array — what [[NearestCentroidExpr]] carries instead
  * of `k·dim` float literals. Equality and hash are by content, so two
  * plans over the same centroids canonicalize (and reuse exchanges) as
  * their literal forms did; `toString` is O(1) in `k·dim`, so plan
  * strings stay short however large the matrix.
  */
final class CentroidMatrix(val ids: Array[Long], val values: Array[Float], val dim: Int)
    extends Serializable {
  require(values.length == ids.length * dim,
    s"CentroidMatrix: ${values.length} values for ${ids.length} ids of dim $dim")

  def k: Int = ids.length

  override def equals(o: Any): Boolean = o match {
    case m: CentroidMatrix => dim == m.dim &&
      java.util.Arrays.equals(ids, m.ids) && java.util.Arrays.equals(values, m.values)
    case _ => false
  }

  override def hashCode: Int =
    31 * (31 * dim + java.util.Arrays.hashCode(ids)) + java.util.Arrays.hashCode(values)

  override def toString: String = s"centroids[${k}x$dim]"
}

object CentroidMatrix {
  def apply(centroids: Seq[(Long, Seq[Float])]): CentroidMatrix = {
    val dim = centroids.headOption.fold(0)(_._2.length)
    require(centroids.forall(_._2.length == dim),
      s"every centroid must have the first one's $dim dimensions; " +
        "re-train or re-load the index from one embedding table")
    val values = new Array[Float](centroids.size * dim)
    centroids.iterator.zipWithIndex.foreach { case ((_, v), j) =>
      v.copyToArray(values, j * dim)
    }
    new CentroidMatrix(centroids.map(_._1).toArray, values, dim)
  }
}

/** JVM vector kernels behind the custom expressions ([[CosineSimExpr]],
  * [[NearestCentroidExpr]], [[HyperplaneSketchExpr]]): tight loops over
  * float arrays instead of interpreted zip_with/aggregate chains — the
  * difference between ~µs and ~ms per pair on 64-dim embeddings.
  */
object VectorOps {

  /** Round-half-up at 6 dp — the JVM twin of Spark's `round(col, 6)`
    * (BigDecimal HALF_UP; NaN and ±Inf come back unchanged, as Spark's
    * `round` returns them — `BigDecimal` would throw on them). THE
    * portable-rounding contract every driver-side 6-dp value must go
    * through (streaming JVM argmins, PQ ADC tables, the gathered graph
    * walk): one definition, so a rounding-mode change cannot leave a
    * second copy stale.
    */
  def round6(d: Double): Double = roundHalfUp(d, 6)

  /** Round-half-up at 4 dp — the LM-score twin of [[round6]] (the
    * 4-dp `round(avg(ln …))` contract of the LM/DSIR score family),
    * for JVM kernels that must reproduce those scores off-plan
    * ([[BigramScore]]).
    */
  def round4(d: Double): Double = roundHalfUp(d, 4)

  private def roundHalfUp(d: Double, scale: Int): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** [[Hashing.bandKey]] over a catalyst long-array — the SAME band-key
    * function for batch plans and streaming state keys, so their bucket
    * collision sets are identical (not merely distribution-alike).
    */
  def bandKey(sig: ArrayData, band: Int, r: Int): Long = {
    var h = 0xcbf29ce484222325L ^ band
    var i = band * r
    val end = i + r
    while (i < end) {
      h = (h ^ sig.getLong(i)) * 0x100000001b3L
      h ^= h >>> 29
      i += 1
    }
    h
  }

  /** [[cosine]] over plain float arrays — IDENTICAL accumulation order
    * to the ArrayData overload, so streaming-state comparisons and the
    * codegen'd batch expression compute bit-equal doubles.
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** [[cosine]] over array<double> inputs (the projected-space twin —
    * JL outputs are doubles): IDENTICAL ascending-index accumulation,
    * so it computes bit-equal results to the interpreted
    * zip_with/aggregate chain it replaces in the hot path.
    */
  def cosineDouble(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  // ------------------------------------------- nearest-centroid ranking

  /** Score of every centroid row against `v`: `d = -cosine(v, row)`,
    * through [[round6]] when `rounded`. Bit-equal to [[cosine]] over the
    * row as its own array: the same ascending accumulation, with the
    * embedding's Σ x² summed once instead of once per row (an
    * independent sum, so the bits match). A null `v` scores every row
    * alike, so ids alone order them.
    */
  private def centroidScores(v: ArrayData, m: CentroidMatrix, rounded: Boolean): Array[Double] = {
    val out = new Array[Double](m.k)
    if (v != null) {
      val dim = m.dim
      val c = m.values
      val n = math.min(v.numElements(), dim)
      val x = new Array[Double](n)
      var na = 0.0
      var i = 0
      while (i < n) { val xi = v.getFloat(i).toDouble; x(i) = xi; na += xi * xi; i += 1 }
      var j = 0
      while (j < m.k) {
        val base = j * dim
        var dot = 0.0
        var nb = 0.0
        i = 0
        while (i < n) { val y = c(base + i).toDouble; dot += x(i) * y; nb += y * y; i += 1 }
        val cos = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
        out(j) = if (rounded) round6(-cos) else -cos
        j += 1
      }
    }
    out
  }

  /** `(d, cid)` ordering of the literal `array_min`/`array_sort` forms:
    * d by Spark's double ordering (NaN greatest, -0.0 = 0.0), ties on cid.
    */
  private def precedes(d1: Double, c1: Long, d2: Double, c2: Long): Boolean = {
    val cmp = SQLOrderingUtil.compareDoubles(d1, d2)
    cmp < 0 || (cmp == 0 && c1 < c2)
  }

  /** Rows of the `n` smallest `(d, cid)`, ascending, by bounded
    * insertion: O(k·n) compares, for the small probe counts it serves.
    */
  private def topRows(d: Array[Double], ids: Array[Long], n: Int): Array[Int] = {
    val top = new Array[Int](n)
    var filled = 0
    var j = 0
    while (n > 0 && j < d.length) {
      if (filled < n || precedes(d(j), ids(j), d(top(n - 1)), ids(top(n - 1)))) {
        var p = if (filled < n) filled else n - 1
        while (p > 0 && precedes(d(j), ids(j), d(top(p - 1)), ids(top(p - 1)))) {
          top(p) = top(p - 1)
          p -= 1
        }
        top(p) = j
        if (filled < n) filled += 1
      }
      j += 1
    }
    top
  }

  /** The struct `(d, cid)` of row `j`; `d` is null for a null embedding. */
  private def scored(v: ArrayData, d: Array[Double], m: CentroidMatrix, j: Int): InternalRow =
    new GenericInternalRow(Array[Any](if (v == null) null else d(j), m.ids(j)))

  /** The argmin struct `(d, cid)` of `v` over the matrix — the kernel of
    * [[NearestCentroidExpr]]'s struct face. A null `v` gives the
    * smallest id with a null `d`; an empty matrix gives null (as
    * `array_min` of an empty array does).
    */
  def nearestCentroid(v: ArrayData, m: CentroidMatrix, rounded: Boolean): InternalRow =
    if (m.k == 0) null
    else {
      val d = centroidScores(v, m, rounded)
      scored(v, d, m, topRows(d, m.ids, 1)(0))
    }

  /** The `topN` smallest `(d, cid)` structs of `v` over the matrix in
    * ascending order — the kernel of [[NearestCentroidExpr]]'s array
    * face, equal to `slice(array_sort(all k structs), 1, topN)`.
    */
  def nearestCentroids(
      v: ArrayData, m: CentroidMatrix, rounded: Boolean, topN: Int): ArrayData = {
    val d = centroidScores(v, m, rounded)
    val top = topRows(d, m.ids, math.max(0, math.min(topN, m.k)))
    new GenericArrayData(top.map(j => scored(v, d, m, j): Any))
  }

  // --------------------------------------------- JL random projection

  /** Deterministic ±1/√kOut sign matrix for [[randomProject]], cached
    * per (dim, kOut): sign(j, i) = bit 0 of `Hashing.hash64("rp:j:i")`
    * — hash-derived, so there is no RNG state to ship and any engine
    * with the hash64 replica (ExtQueries.hash64Ctes) regenerates the
    * SAME matrix from the same key strings.
    */
  private val rpWeightCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  def rpWeights(dim: Int, kOut: Int): Array[Array[Double]] =
    rpWeightCache.computeIfAbsent((dim, kOut), { case (d, ko) =>
      val s = 1.0 / math.sqrt(ko.toDouble)
      Array.tabulate(ko, d)((j, i) =>
        if ((Hashing.hash64(s"rp:$j:$i") & 1L) == 1L) s else -s)
    })

  /** Johnson–Lindenstrauss SIGN random projection (Achlioptas 2003's
    * database-friendly ±1 variant, JCSS 66(4)): out_j = Σ_i v_i ·
    * (±1/√kOut), with every term rounded to 6 dp ([[round6]]) and
    * accumulated EXACTLY in integer micro-units — order-independent by
    * construction, so a decimal SUM of the same 6-dp parts in any
    * engine reproduces each output bit-for-bit (the PQ-ADC contract
    * applied to projection).
    */
  def randomProject(v: ArrayData, kOut: Int): Array[Double] = {
    val dim = v.numElements()
    val w = rpWeights(dim, kOut)
    val s = 1.0 / math.sqrt(kOut.toDouble)
    // ONE exact rounding per input element, not per (element, output):
    // HALF_UP is sign-symmetric (round6(-x) == -round6(x) exactly), so
    // the ±s terms are ± one shared rounded magnitude — 16× fewer
    // BigDecimal ops with bit-identical results (spec replays the
    // per-term form and must agree)
    val rmicros = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      val r = round6(v.getFloat(i).toDouble * s)
      // integer micro-units have no NaN/Inf: refuse rather than let
      // math.round turn a non-finite component into a silent 0
      require(!r.isNaN && !r.isInfinite,
        s"randomProject: non-finite embedding component at index $i")
      rmicros(i) = math.round(r * 1e6)
      i += 1
    }
    val out = new Array[Double](kOut)
    var j = 0
    while (j < kOut) {
      val wj = w(j)
      var micros = 0L
      var i2 = 0
      while (i2 < dim) {
        micros += (if (wj(i2) > 0) rmicros(i2) else -rmicros(i2))
        i2 += 1
      }
      out(j) = round6(micros / 1e6)
      j += 1
    }
    out
  }

  /** Seeded gaussian hyperplane matrices, cached per (dim, planes). */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  def planesFor(dim: Int, planes: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((dim, planes), { case (d, p) =>
      val rnd = new scala.util.Random(11)
      Array.fill(p)(Array.fill(d)(rnd.nextGaussian()))
    })

  /** Sign-bit sketch of the seeded hyperplanes packed into a Long. */
  def sketch(v: ArrayData, dim: Int, nPlanes: Int): Long = {
    val ps = planesFor(dim, nPlanes)
    val n = math.min(v.numElements(), dim)
    var out = 0L
    var p = 0
    while (p < nPlanes) {
      val plane = ps(p)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += v.getFloat(i) * plane(i); i += 1 }
      if (dot > 0.0) out |= (1L << p)
      p += 1
    }
    out
  }
}
