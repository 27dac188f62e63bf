package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (with whole-stage codegen) for the hash
  * kernels that built-in array expressions evaluate too slowly
  * (interpreted ArrayAggregate): each generates a single static call
  * into [[Hashing]] inside the generated code, so the surrounding
  * projection stays in one WholeStageCodegen span.
  */

/** Analysis-time input guard shared by every string-kernel expression:
  * a non-string argument must fail ANALYSIS with a named message, not
  * throw a per-row ClassCastException mid-execution. NullType passes —
  * the expressions are null-safe and `f(NULL)` is NULL, matching the
  * built-in string functions.
  */
trait StringInputCheck { self: UnaryExpression =>
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType || child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string argument, got ${child.dataType.catalogString}")
}

/** `simhash64(text)`: 64-bit SimHash of a string column. */
case class SimHash64Expr(child: Expression) extends UnaryExpression
    with StringInputCheck {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(input: Any): Any =
    Hashing.simhash64(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Hashing.simhash64($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** `hash64(text)`: the raw 64-bit avalanche hash ([[Hashing.hash64]],
  * FNV-1a roll + splitmix64 finalizer) of a string column — the scalar
  * kernel under every graft sketch, exposed directly for KMV-style
  * distinct sketches. DuckDB-replicable (ExtQueries.hash64Ctes).
  */
case class Hash64Expr(child: Expression) extends UnaryExpression
    with StringInputCheck {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash64"

  override protected def nullSafeEval(input: Any): Any =
    Hashing.hash64(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Hashing.hash64($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): Hash64Expr =
    copy(child = newChild)
}

/** `minhash_sig(text)`: MinHash signature (array<bigint>, length `k` —
  * a plan-time constant; K=16 bench default, K≈128 production).
  */
case class MinHashSigExpr(child: Expression, k: Int = Hashing.MinHashK)
    extends UnaryExpression with StringInputCheck {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(Hashing.minhashSig(input.asInstanceOf[UTF8String].toString, k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.Hashing.minhashSig($c.toString(), $k))")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** `band_key(sig, band, r)`: LSH band key over `r` consecutive entries
  * of a signature array — the same [[Hashing.bandKey]] the streaming
  * state store keys on, so batch and streaming bucket sets coincide
  * exactly (ADVICE r2: `hash(slice(...))` differed at collision level).
  */
case class BandKeyExpr(child: Expression, band: Int, r: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_band_key"

  override protected def nullSafeEval(input: Any): Any =
    VectorOps.bandKey(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], band, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorOps.bandKey($c, $band, $r)")

  override protected def withNewChildInternal(newChild: Expression): BandKeyExpr =
    copy(child = newChild)
}

/** `cosine_sim(a, b)`: cosine similarity of two array<float> columns. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorOps.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** `cosine_sim_d(a, b)`: cosine similarity of two array<double>
  * columns — [[CosineSimExpr]]'s projected-space twin
  * ([[VectorOps.cosineDouble]]: same ascending accumulation, double
  * elements).
  */
case class CosineSimDExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_sim_d"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosineDouble(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorOps.cosineDouble($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimDExpr =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid ranking of an array<float> `embedding` against a
  * [[CentroidMatrix]] held as data: per centroid `d = -cosine` (at 6 dp
  * when `rounded`), ordered `(d asc, cid asc)`. `topN = None` gives the
  * argmin struct `(d, cid)` — `array_min` over one literal struct per
  * centroid; `Some(n)` gives the `n` best structs ascending —
  * `slice(array_sort(...), 1, n)`. One node and one static kernel call
  * ([[VectorOps.nearestCentroid]] / [[VectorOps.nearestCentroids]])
  * replace `k` cosine kernels over `k·dim` float literals, so the plan,
  * its strings and the generated code no longer grow with the matrix.
  */
case class NearestCentroidExpr(
    embedding: Expression, matrix: CentroidMatrix, rounded: Boolean, topN: Option[Int])
    extends UnaryExpression {

  override def child: Expression = embedding
  override def dataType: DataType =
    topN.fold[DataType](NearestCentroidExpr.Scored)(_ =>
      ArrayType(NearestCentroidExpr.Scored, containsNull = false))
  // the argmin of an empty matrix is null; the array face never is
  override def nullable: Boolean = topN.isEmpty
  override def prettyName: String = "graft_nearest_centroid"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    embedding.dataType match {
      case ArrayType(FloatType, _) | NullType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects an array<float> argument, got ${other.catalogString}")
    }

  // a null embedding still ranks (every d null, ids break the tie), so
  // the input's null does not propagate
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = embedding.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    topN match {
      case None => VectorOps.nearestCentroid(v, matrix, rounded)
      case Some(n) => VectorOps.nearestCentroids(v, matrix, rounded, n)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val m = ctx.addReferenceObj("centroids", matrix, classOf[CentroidMatrix].getName)
    val e = embedding.genCode(ctx)
    val call = topN match {
      case None => s"nearestCentroid(${e.isNull} ? null : ${e.value}, $m, $rounded)"
      case Some(n) => s"nearestCentroids(${e.isNull} ? null : ${e.value}, $m, $rounded, $n)"
    }
    ev.copy(code = code"""
      |${e.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.VectorOps.$call;
      |boolean ${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidExpr =
    copy(embedding = newChild)
}

object NearestCentroidExpr {
  /** The `(d, cid)` struct the literal forms build per centroid. */
  val Scored: StructType = StructType(Seq(
    StructField("d", DoubleType, nullable = true),
    StructField("cid", LongType, nullable = false)))
}

/** `ngram_hashes(text)`: sorted distinct 64-bit hashes of word n-grams. */
case class NGramHashesExpr(child: Expression, n: Int) extends UnaryExpression
    with StringInputCheck {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Hashing.ngramHashes(input.asInstanceOf[UTF8String].toString, n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.Hashing.ngramHashes($c.toString(), $n))")

  override protected def withNewChildInternal(newChild: Expression): NGramHashesExpr =
    copy(child = newChild)
}

/** `winnow_fps(text)`: sorted distinct winnowing fingerprints
  * (Schleimer–Wilkerson–Aiken local document fingerprinting) of a
  * pre-normalized string column; `k`/`w` are plan-time constants.
  */
case class WinnowFpsExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with StringInputCheck {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_fps"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Hashing.winnowFps(input.asInstanceOf[UTF8String].toString, k, w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.Hashing.winnowFps($c.toString(), $k, $w))")

  override protected def withNewChildInternal(newChild: Expression): WinnowFpsExpr =
    copy(child = newChild)
}

/** `char_gram_hashes(text)`: ALL k-char-gram hashes in position order
  * (the exact-substring dedup kernel — [[Hashing.charGramHashes]]);
  * `k` is a plan-time constant.
  */
case class CharGramHashesExpr(child: Expression, k: Int)
    extends UnaryExpression with StringInputCheck {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_gram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Hashing.charGramHashes(input.asInstanceOf[UTF8String].toString, k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.Hashing.charGramHashes($c.toString(), $k))")

  override protected def withNewChildInternal(newChild: Expression): CharGramHashesExpr =
    copy(child = newChild)
}

/** `jaccard_sorted(a, b)`: Jaccard of two sorted array<bigint> sets by
  * linear merge.
  */
case class JaccardExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"

  private def longs(x: Any): Array[Long] =
    x.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Hashing.jaccardSorted(longs(a), longs(b))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Hashing.jaccardSorted($a.toLongArray(), $b.toLongArray())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardExpr =
    copy(left = newLeft, right = newRight)
}

/** `ahash64(payload)`: 64-bit perceptual average-hash of a BMP
  * payload's pixel bytes ([[Hashing.aHash64]]); null for non-BMP /
  * malformed payloads (per-payload fault tolerance — custom codegen
  * because the kernel's null result must set the null flag, which
  * `defineCodeGen` cannot express).
  */
case class AHash64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ahash64"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType || child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    Hashing.aHash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("ahash")
      s"""java.lang.Long $tmp = graft.functions.Hashing.aHash64($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): AHash64Expr =
    copy(child = newChild)
}

/** `png_ahash64(payload)`: 64-bit perceptual average-hash of a PNG
  * payload's DECODED pixels ([[Hashing.pngAHash64]] — real inflate +
  * per-scanline filter reversal, then the [[AHash64Expr]] cell walk);
  * null for non-PNG / malformed payloads (same custom-codegen reason
  * as [[AHash64Expr]]: the kernel's null result must set the null
  * flag).
  */
case class PngAHash64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_png_ahash64"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType || child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    Hashing.pngAHash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("pngahash")
      s"""java.lang.Long $tmp = graft.functions.Hashing.pngAHash64($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PngAHash64Expr =
    copy(child = newChild)
}

/** `audiohash64(payload)`: 64-bit sign-of-energy-delta content hash of
  * a WAV payload's PCM body ([[Hashing.audioHash64]]); null for
  * non-WAV / malformed payloads (same custom-codegen reason as
  * [[AHash64Expr]]: the kernel's null result must set the null flag).
  */
case class AudioHash64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_audiohash64"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType || child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    Hashing.audioHash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("audiohash")
      s"""java.lang.Long $tmp = graft.functions.Hashing.audioHash64($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): AudioHash64Expr =
    copy(child = newChild)
}

/** `videohash64(payload)`: 64-bit temporal-brightness content hash of
  * an AVI payload's frame data ([[Hashing.videoHash64]]); null for
  * non-AVI / malformed payloads (same custom-codegen reason as
  * [[AHash64Expr]]: the kernel's null result must set the null flag).
  */
case class VideoHash64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_videohash64"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType || child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a binary argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    Hashing.videoHash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("videohash")
      s"""java.lang.Long $tmp = graft.functions.Hashing.videoHash64($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VideoHash64Expr =
    copy(child = newChild)
}

/** The BPE greedy-apply kernel shared by [[BpeCountExpr]] — one JVM
  * loop per word instead of a merge-count-deep nested higher-order
  * fold (the HOF form re-references its input 3-4× per round, so the
  * expression TREE grows ~4^m nodes — the codegen-cliff failure mode,
  * paid at analysis time even on a 31-row frame).
  */
object BpeApply {

  /** Symbol SEQUENCE of `word` after applying the merge list greedily
    * left-to-right in rank order (chars + an end-of-word marker; the
    * marker is symbol-atomic, its literal text never inspected). The
    * EXACT algorithm of graft.ext.Bpe.mergeLoop's apply step and the
    * oracle's chr(31) list_reduce fold, spec-pinned against both.
    */
  def encode(
      word: UTF8String, eow: String,
      ls: Array[String], rs: Array[String]): Array[String] = {
    val w = word.toString
    var syms = new Array[String](w.length + 1)
    var i = 0
    while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
    syms(w.length) = eow
    // present-symbol set: a merge pass can only fire when BOTH its
    // symbols occur in the current sequence, so absent-symbol merges
    // skip in two hash probes instead of an O(len) scan. At production
    // vocab (merges ≥ 1024) the full-scan form is O(m·len) per word —
    // the r13 probe measured the skip at >40× there — while ≤ len-1
    // merges can ever actually fire (each shortens the sequence).
    // BIT-IDENTICAL by construction: only provably-no-op passes skip
    // (the set is a superset of live symbols — consumed ones linger,
    // which only costs a scan, never skips a live pass); the m=8
    // declared oracle keys pin the equality.
    val present = new java.util.HashSet[String](syms.length * 2)
    i = 0
    while (i < syms.length) { present.add(syms(i)); i += 1 }
    var m = 0
    while (m < ls.length) {
      val l = ls(m); val r = rs(m)
      if (present.contains(l) && present.contains(r)) {
        val merged = l + r
        val b = new Array[String](syms.length)
        var n = 0
        var j = 0
        var fired = false
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
            b(n) = merged; n += 1; j += 2; fired = true
          } else { b(n) = syms(j); n += 1; j += 1 }
        }
        if (fired) {
          syms = java.util.Arrays.copyOf(b, n)
          present.add(merged)
        }
      }
      m += 1
    }
    syms
  }

  /** [[encode]]'s length — the token-COUNT face ([[BpeCountExpr]]'s
    * kernel; one body, so count and sequence can never disagree).
    */
  def encodedCount(
      word: UTF8String, eow: String,
      ls: Array[String], rs: Array[String]): Long =
    encode(word, eow, ls, rs).length.toLong

  /** [[encode]] boxed for the array-returning expression. */
  def encodedSyms(
      word: UTF8String, eow: String,
      ls: Array[String], rs: Array[String]): GenericArrayData = {
    val arr: Array[Any] =
      encode(word, eow, ls, rs).map(UTF8String.fromString(_): Any)
    new GenericArrayData(arr)
  }
}

/** `bpe_count(word)`: BPE symbol count of a word under a TRAINED merge
  * list (plan-time constant, broadcast in the closure) — the encode
  * kernel of `Bpe.bpeEncode`, evaluated once per word TYPE.
  */
case class BpeCountExpr(
    child: Expression, eow: String, ls: Array[String], rs: Array[String])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bpe_count"

  override protected def nullSafeEval(input: Any): Any =
    BpeApply.encodedCount(input.asInstanceOf[UTF8String], eow, ls, rs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val eowRef = ctx.addReferenceObj("eow", eow, "java.lang.String")
    val lsRef = ctx.addReferenceObj("ls", ls, "java.lang.String[]")
    val rsRef = ctx.addReferenceObj("rs", rs, "java.lang.String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeApply.encodedCount($c, $eowRef, $lsRef, $rsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeCountExpr =
    copy(child = newChild)
}

/** `random_project(vec)`: Johnson–Lindenstrauss ±1 sign projection of
  * an array<float> embedding to `kOut` dimensions
  * ([[VectorOps.randomProject]]: hash-seeded deterministic signs,
  * 6-dp micro-unit exact accumulation); `kOut` is a plan-time
  * constant. One codegen'd kernel call per row — the narrow,
  * shuffle-free compression stage in front of the O(dim) embedding
  * family.
  */
case class RandomProjectExpr(child: Expression, kOut: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_random_project"

  // the kernel reads 4-byte float slots (VectorOps.randomProject uses
  // v.getFloat); an array<double> input — e.g. this expression's OWN
  // output — would silently read half of each 8-byte slot and return
  // garbage, so anything but array<float> must fail ANALYSIS
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == ArrayType(FloatType, containsNull = false) ||
        child.dataType == ArrayType(FloatType, containsNull = true) ||
        child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects an array<float> argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(VectorOps.randomProject(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], kOut))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.VectorOps.randomProject($c, $kOut))")

  override protected def withNewChildInternal(newChild: Expression): RandomProjectExpr =
    copy(child = newChild)
}

/** `bpe_syms(word)`: the BPE symbol SEQUENCE of a word under a trained
  * merge list (plan-time constant) — [[BpeCountExpr]]'s
  * sequence-returning face (one shared [[BpeApply.encode]] kernel, so
  * the exported token stream and the token counts can never disagree),
  * evaluated once per word TYPE.
  */
case class BpeSymsExpr(
    child: Expression, eow: String, ls: Array[String], rs: Array[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_syms"

  override protected def nullSafeEval(input: Any): Any =
    BpeApply.encodedSyms(input.asInstanceOf[UTF8String], eow, ls, rs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val eowRef = ctx.addReferenceObj("eow", eow, "java.lang.String")
    val lsRef = ctx.addReferenceObj("ls", ls, "java.lang.String[]")
    val rsRef = ctx.addReferenceObj("rs", rs, "java.lang.String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeApply.encodedSyms($c, $eowRef, $lsRef, $rsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeSymsExpr =
    copy(child = newChild)
}

/** `hyperplane_sketch(v)`: sign-bit LSH sketch (seeded planes) packed
  * into a BIGINT; `dim`/`planes` are plan-time constants.
  */
case class HyperplaneSketchExpr(child: Expression, dim: Int, planes: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hyperplane_sketch"

  override protected def nullSafeEval(input: Any): Any =
    VectorOps.sketch(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], dim, planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorOps.sketch($c, $dim, $planes)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSketchExpr =
    copy(child = newChild)
}
