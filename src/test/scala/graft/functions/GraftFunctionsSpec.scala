package graft.functions

import graft.SparkSpec

/** SQL surface of the codegen kernels (register / GraftExtensions). */
class GraftFunctionsSpec extends SparkSpec {

  test("all kernels callable from SQL and agree with the Column API") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_simhash64('hello world') AS sh,
        |  graft_minhash_sig('hello world there friend') AS sig16,
        |  graft_minhash_sig('hello world there friend', 128) AS sig128,
        |  graft_ngram_hashes('a b c d', 3) AS grams,
        |  graft_jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j,
        |  graft_cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cos,
        |  graft_hyperplane_sketch(array(0.5F, -0.5F), 2, 8) AS sk
        |""".stripMargin).collect()(0)
    def seqOf(name: String): Seq[Long] =
      r.getAs[scala.collection.Seq[Long]](name).toSeq
    assert(r.getAs[Long]("sh") == Hashing.simhash64("hello world"))
    assert(seqOf("sig16") == Hashing.minhashSig("hello world there friend", 16).toSeq)
    assert(seqOf("sig128").length == 128)
    assert(seqOf("sig128").take(16) == seqOf("sig16"))
    assert(seqOf("grams") == Hashing.ngramHashes("a b c d", 3).toSeq)
    assert(math.abs(r.getAs[Double]("j") - 0.5) < 1e-12) // |{2,3}|/|{1,2,3,4}|
    assert(math.abs(r.getAs[Double]("cos") - 1.0) < 1e-12)
    assert(r.getAs[Long]("sk") == VectorOps.sketch(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(0.5f, -0.5f)), 2, 8))
  }

  test("VectorOps.round6/round4 equal Spark's round(col, 6|4): non-finite, -0.0, half-way, random") {
    import org.apache.spark.sql.functions.{col, round}
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val rnd = new scala.util.Random(7)
    val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, Double.MinPositiveValue, -Double.MinPositiveValue, Double.MaxValue,
      0.1234565, -0.1234565, 1.0000005, -1.0000005, 0.0000005, -0.0000005,
      0.12345, -0.12345, 1.00005, -1.00005, 0.00005, 2.5, 999999.9999995)
    val random = Seq.fill(300)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(13) - 6))
    val xs = special ++ random
    val schema = StructType(Seq(StructField("x", DoubleType)))
    // a local relation folds the projection on the driver (interpreted
    // eval); an RDD source runs it through generated code
    val local = spark.createDataFrame(
      java.util.Arrays.asList(xs.map(org.apache.spark.sql.Row(_)): _*), schema)
    val viaRdd = spark.createDataFrame(
      spark.sparkContext.parallelize(xs.map(org.apache.spark.sql.Row(_)), 3), schema)
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    for (df <- Seq(local, viaRdd)) {
      val got = df.select(col("x"), round(col("x"), 6), round(col("x"), 4)).collect()
      assert(got.length == xs.length)
      got.foreach { r =>
        val x = r.getDouble(0)
        assert(bits(VectorOps.round6(x)) == bits(r.getDouble(1)),
          s"round6($x) = ${VectorOps.round6(x)}, Spark ${r.getDouble(1)}")
        assert(bits(VectorOps.round4(x)) == bits(r.getDouble(2)),
          s"round4($x) = ${VectorOps.round4(x)}, Spark ${r.getDouble(2)}")
      }
    }
  }

  test("foldable constants accepted for K/n; non-constant rejected clearly") {
    GraftFunctions.register(spark)
    // 1+2 folds to 3 — accepted (ADVICE r2: foldable constants qualify)
    val ok = spark.sql("SELECT graft_ngram_hashes('a b c', 1 + 2) AS g").collect()(0)
    assert(ok.getAs[scala.collection.Seq[Long]]("g").toSeq ==
      Hashing.ngramHashes("a b c", 3).toSeq)
    // a column reference is not a plan-time constant → descriptive error
    val e = intercept[Exception] {
      spark.range(1).createOrReplaceTempView("arity_t")
      spark.sql("SELECT graft_ngram_hashes('a b c', CAST(id AS INT)) FROM arity_t").collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + " " + msgs(t.getCause)
    assert(msgs(e).contains("constant integer"), s"unexpected: ${msgs(e)}")
  }

  test("wrong arity raises an error naming the expected signature") {
    GraftFunctions.register(spark)
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + " " + msgs(t.getCause)
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_ngram_hashes('a b c')").collect()
    }
    assert(msgs(e1).contains("(text, n)"), s"unexpected: ${msgs(e1)}")
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_cosine_sim(array(1.0F))").collect()
    }
    assert(msgs(e2).contains("(a, b)"), s"unexpected: ${msgs(e2)}")
  }

  test("band_key: SQL/Column/batch expression agree with the streaming helper") {
    GraftFunctions.register(spark)
    val sig = Hashing.minhashSig("hello world there friend again", 16)
    val r = spark.sql(
      "SELECT graft_band_key(graft_minhash_sig('hello world there friend again'), 2, 4) AS bk"
    ).collect()(0)
    assert(r.getAs[Long]("bk") == Hashing.bandKey(sig, 2, 4))
  }

  test("hash64 rolls UTF-16 code units: code-point roll agrees on BMP, desyncs beyond") {
    // The DuckDB oracle replica (ExtQueries.hash64Ctes) rolls Unicode
    // CODE POINTS; the JVM kernel rolls UTF-16 code units. This pin
    // makes the BMP-only agreement boundary explicit: equal for any
    // BMP string, different once a supplementary-plane character (two
    // surrogates in Java, one code point in SQL) appears.
    def hash64CodePoints(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.codePoints().toArray.foreach { cp => h = (h ^ cp) * 0x100000001b3L }
      h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
      h ^= h >>> 27; h *= 0x94d049bb133111ebL
      h ^ (h >>> 31)
    }
    val bmp = Seq("", "hello world", "naïve café", "日本語テキスト", "ключ слова")
    bmp.foreach { s =>
      assert(Hashing.hash64(s) == hash64CodePoints(s),
        s"BMP string '$s' must hash identically under both rolls")
    }
    val supplementary = "party 🎉 time" // U+1F389, outside the BMP
    assert(supplementary.codePointCount(0, supplementary.length) ==
      supplementary.length - 1)
    assert(Hashing.hash64(supplementary) != hash64CodePoints(supplementary),
      "supplementary-plane text is OUTSIDE the oracle-replica contract " +
        "(hash64Ctes docs) — if this ever passes, the kernels converged " +
        "and the BMP-only caveat can be dropped")
  }

  test("winnowFps equals the brute-force window-minima set at every size regime") {
    // independent re-derivation: all k-gram hashes, min VALUE of every
    // w-window (single window when fewer than w grams), distinct sorted
    def brute(t: String, k: Int, w: Int): Array[Long] = {
      if (t.length < k) return Array(Hashing.hash64(t))
      val hs = (0 to t.length - k).map(i => Hashing.hash64(t.substring(i, i + k)))
      val wins =
        if (hs.length <= w) Seq(hs.min)
        else (0 to hs.length - w).map(s => hs.slice(s, s + w).min)
      wins.distinct.sorted.toArray
    }
    val rnd = new scala.util.Random(11)
    val texts = Seq("", "ab", "abcdefgh", "abcdefghi", "the quick brown fox") ++
      (1 to 20).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(120)).mkString)
    for (t <- texts; (k, w) <- Seq((8, 8), (8, 4), (4, 8), (3, 2)))
      assert(Hashing.winnowFps(t, k, w).toSeq == brute(t, k, w).toSeq,
        s"mismatch at k=$k w=$w on '$t'")
  }

  test("winnowing coverage guarantee: a shared k+w-1 substring shares a fingerprint") {
    // Schleimer–Wilkerson–Aiken: any match of length >= w + k - 1 is
    // caught. Embed one 15-char passage (k=8, w=8 → t=15) at random
    // offsets of otherwise-unrelated random texts.
    val k = 8; val w = 8
    val passage = "zqxjkvbwpyfgmdh" // 15 chars, k + w - 1
    assert(passage.length == k + w - 1)
    val rnd = new scala.util.Random(13)
    def withPassage(): String = {
      val pre = rnd.alphanumeric.take(rnd.nextInt(60)).mkString
      val post = rnd.alphanumeric.take(rnd.nextInt(60)).mkString
      pre + passage + post
    }
    for (_ <- 1 to 25) {
      val a = Hashing.winnowFps(withPassage(), k, w).toSet
      val b = Hashing.winnowFps(withPassage(), k, w).toSet
      assert(a.intersect(b).nonEmpty,
        "guaranteed-length shared passage produced no shared fingerprint")
    }
  }

  test("graft_hash64: string input hashes; non-string rejected at analysis time") {
    import spark.implicits._
    val got = Seq("abc").toDF("s")
      .selectExpr("graft_hash64(s) AS h").collect()(0).getLong(0)
    assert(got == Hashing.hash64("abc"))
    // a bigint argument must fail ANALYSIS with the named message — not
    // a per-row ClassCastException mid-execution
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("x").selectExpr("graft_hash64(x)").collect()
    }
    assert(e.getMessage.contains("graft_hash64 expects a string argument"))
    // the guard covers the whole string-kernel family...
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("x").selectExpr("graft_simhash64(x)").collect()
    }
    assert(e2.getMessage.contains("graft_simhash64 expects a string argument"))
    // ...while a NULL literal stays analyzable and null-safe
    assert(Seq("x").toDF("s")
      .selectExpr("graft_hash64(NULL) AS h").collect()(0).isNullAt(0))
  }

  test("graft_random_project: array<float> only; array<double> rejected at analysis") {
    import spark.implicits._
    val f = Seq(Seq(1.0f, 2.0f)).toDF("v")
    assert(f.selectExpr("graft_random_project(v, 4) AS p")
      .collect()(0).getSeq[Double](0).length == 4)
    // the kernel reads 4-byte float slots; an array<double> input —
    // e.g. the projection's OWN output — must fail ANALYSIS, not
    // silently read half of each 8-byte slot and return garbage
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      f.selectExpr("graft_random_project(v, 4) AS p")
        .selectExpr("graft_random_project(p, 2)").collect()
    }
    assert(e.getMessage.contains(
      "graft_random_project expects an array<float> argument"))
  }

  test("bloom/set expressions canonicalize by CONTENT, not reference (ADVICE r12 #2)") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val child = BoundReference(0, ArrayType(LongType), nullable = true)
    // two separately-allocated but identical payloads must compare equal
    // (subexpression elimination / plan canonicalization depend on it)
    val b1 = BloomAnyExpr(child, Array(1L, 2L, 3L), 2, 192)
    val b2 = BloomAnyExpr(child, Array(1L, 2L, 3L), 2, 192)
    assert(b1 == b2 && b1.hashCode == b2.hashCode)
    assert(b1 != BloomAnyExpr(child, Array(1L, 2L, 4L), 2, 192))
    assert(b1 != BloomAnyExpr(child, Array(1L, 2L, 3L), 1, 192))
    def set(xs: Long*) = {
      val s = new java.util.HashSet[java.lang.Long]()
      xs.foreach(x => s.add(x))
      s
    }
    val s1 = LongSetAnyExpr(child, set(7L, 9L))
    val s2 = LongSetAnyExpr(child, set(9L, 7L))
    assert(s1 == s2 && s1.hashCode == s2.hashCode)
    assert(s1 != LongSetAnyExpr(child, set(7L)))
  }
}
