package graft.ext

import graft.SparkSpec
import graft.io.Sources

class SimilaritySpec extends SparkSpec {

  private lazy val embs = Sources.table(spark, "/root/testdata/sf0.001", "embeddings")

  /** Brute-force reference computed driver-side from collected vectors. */
  private def bruteTopK(probe: Seq[Float], k: Int): Seq[(Long, Double)] = {
    val all = embs.collect().map { r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val p = probe.map(_.toDouble).toArray
    all.map { case (id, v) => (id, cos(p, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).toSeq
  }

  test("pqEncode: hand-derivable codes; seeds encode to themselves") {
    import spark.implicits._
    // dim=4, m=2 subspaces of 2 dims, ksub=2 codebook seeds (vec 0, 1).
    // vec 2: subspace 0 near seed 1's slice, subspace 1 near seed 0's
    val df = Seq(
      (0L, Seq(0.0f, 0.0f, 9.0f, 9.0f), 0),
      (1L, Seq(5.0f, 5.0f, 0.0f, 0.0f), 0),
      (2L, Seq(4.9f, 5.1f, 8.8f, 9.2f), 0))
      .toDF("vec_id", "embedding", "label")
    val cbs = Similarity.pqCodebooks(df, m = 2, ksub = 2)
    val codes = Similarity.pqEncode(df, cbs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    assert(codes(0L) == Seq(0, 0) && codes(1L) == Seq(1, 1),
      s"seeds must encode to their own codes: $codes")
    assert(codes(2L) == Seq(1, 0), s"vec 2: $codes")
  }

  test("ivfPqTopK: re-ranked head is the exact brute order on clustered data") {
    import spark.implicits._
    def jitter(base: Seq[Float], eps: Float) = base.map(_ + eps)
    val a = Seq(1.0f, 0.0f, 0.0f, 0.0f, 1.0f, 0.0f, 0.0f, 0.0f)
    val b = Seq(0.0f, 0.0f, 0.0f, 1.0f, 0.0f, 0.0f, 1.0f, 0.0f)
    val rows = Seq(
      (0L, a, 0), (1L, b, 1),
      (2L, jitter(a, 0.01f), 0), (3L, jitter(a, -0.02f), 0),
      (4L, jitter(b, 0.01f), 1), (5L, jitter(b, 0.02f), 1))
      .toDF("vec_id", "embedding", "label")
    val cbs = Similarity.pqCodebooks(rows, m = 2, ksub = 2)
    val got = Similarity.ivfPqTopK(rows, a, k = 3, nCentroids = 2,
      nProbe = 1, shortlist = 3, codebooks = Some(cbs)).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    // probe cell = the a-cluster; exact re-rank must return its members
    // in true cosine order (0 first at ~1.0)
    assert(got.map(_._1).toSet == Set(0L, 2L, 3L), s"got: ${got.toSeq}")
    assert(got.head._1 == 0L && got.head._2 == 1.0, s"got: ${got.toSeq}")
    // and scores are the EXACT kernel's, not the PQ approximation
    val brute = Similarity.topK(rows, a, k = 6).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    got.foreach { case (id, c) => assert(c == brute(id), s"$id: $c vs ${brute(id)}") }
  }

  test("pqCodebooksTrained: per-slice Lloyd shape, deterministic, encodable") {
    val cbs = Similarity.pqCodebooksTrained(embs, iterations = 2)
    assert(cbs.length == Similarity.PqSubspaces)
    assert(cbs.forall(_.length == Similarity.PqSubCentroids))
    assert(cbs.forall(_.forall(_.length == 64 / Similarity.PqSubspaces)))
    // deterministic training: a second run is bit-identical
    val cbs2 = Similarity.pqCodebooksTrained(embs, iterations = 2)
    assert(cbs.zip(cbs2).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    // and the trained books feed the same encode path
    val n = Similarity.pqEncode(embs, cbs).count()
    assert(n == embs.count())
    graft.core.CacheScope.releaseAll()
  }

  test("pqCodebooksTrained: L2 objective separates magnitude clusters cosine cannot") {
    import spark.implicits._
    // all four sub-vectors share a DIRECTION (cosine-identical) but
    // split into two magnitude clusters — the case where training on
    // cosine assignment and encoding by L2 argmin disagree. L2-trained
    // books must give the two magnitude groups different codes.
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f, 1.0f, 0.0f), 0),
      (1L, Seq(10.0f, 0.0f, 10.0f, 0.0f), 0),
      (2L, Seq(1.2f, 0.0f, 1.2f, 0.0f), 0),
      (3L, Seq(9.5f, 0.0f, 9.5f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val cbs = Similarity.pqCodebooksTrained(rows, m = 2, ksub = 2, iterations = 2)
    val codes = Similarity.pqEncode(rows, cbs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    assert(codes(0L) == codes(2L) && codes(1L) == codes(3L),
      s"magnitude clusters must share codes: $codes")
    assert(codes(0L) != codes(1L),
      s"the two magnitude clusters must get DIFFERENT codes: $codes")
    // and trained books flow through retrieval via the codebooks param
    val out = Similarity.pqTopK(rows, Seq(1.0f, 0.0f, 1.0f, 0.0f),
      m = 2, ksub = 2, k = 4, codebooks = Some(cbs)).collect()
    assert(out.length == 4)
    graft.core.CacheScope.releaseAll()
  }

  test("pqTopK: clustered data ranks the probe's own cluster first") {
    import spark.implicits._
    // two tight clusters around the two codebook seeds: reconstruction
    // is near-exact, so ADC ordering must agree with brute force
    def jitter(base: Seq[Float], eps: Float) = base.map(_ + eps)
    val a = Seq(1.0f, 0.0f, 0.0f, 0.0f, 1.0f, 0.0f, 0.0f, 0.0f)
    val b = Seq(0.0f, 0.0f, 0.0f, 1.0f, 0.0f, 0.0f, 1.0f, 0.0f)
    val rows = Seq(
      (0L, a, 0), (1L, b, 1),
      (2L, jitter(a, 0.01f), 0), (3L, jitter(a, -0.02f), 0),
      (4L, jitter(b, 0.01f), 1), (5L, jitter(b, 0.02f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.pqTopK(rows, a, m = 2, ksub = 2, k = 6).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    // a-cluster (0, 2, 3) must rank above the b-cluster entirely
    assert(out.take(3).map(_._1).toSet == Set(0L, 2L, 3L), s"got: ${out.toSeq}")
    assert(out.head._2 > 0.999, s"probe's own seed reconstructs to ~1: ${out.head}")
  }

  test("labelCentroids: per-label per-dimension means, exploded shape") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.0f), 0),
      (2L, Seq(3.0f, 6.0f), 0),
      (3L, Seq(10.0f, 20.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(df).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(out == Map(
      (0, 0L) -> (2.0, 2L), (0, 1L) -> (4.0, 2L),
      (1, 0L) -> (10.0, 1L), (1, 1L) -> (20.0, 1L)))
  }

  test("labelCentroids on testdata: |labels|·dim rows, means bounded by observed range") {
    val out = Similarity.labelCentroids(embs).collect()
    val labels = embs.select("label").distinct().count()
    assert(out.length == labels * 64)
    assert(out.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-6))
  }

  test("ivfCellStats: cells partition the corpus, sims bounded and consistent") {
    val out = Similarity.ivfCellStats(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(out.map(_._2).sum == embs.count(), "cell sizes must partition the corpus")
    assert(out.nonEmpty && out.length <= 16)
    out.foreach { case (cid, n, mn, sum, mx) =>
      assert(n > 0)
      val mean = sum / n
      assert(mn <= mean + 1e-9 && mean <= mx + 1e-9, s"cell $cid: $mn/$mean/$mx")
      assert(mn >= -1.0 - 1e-6 && mx <= 1.0 + 1e-6)
    }
    // each seed centroid's own vector sits in its cell at sim 1.0
    val ownIds = embs.orderBy("vec_id").limit(16).collect().map(_.getLong(0))
    val assigned = Similarity.ivfAssign(embs)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    ownIds.foreach(id => assert(assigned(id) == id, s"seed $id not in its own cell"))
    assert(out.filter(o => ownIds.contains(o._1)).forall(_._5 >= 1.0 - 1e-6))
  }

  test("docVectorJoin: one row per aligned pair, norms recompute exactly") {
    val docs = Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val out = Similarity.docVectorJoin(docs, embs).collect()
    assert(out.length == docs.join(
      embs.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id")).count())
    val byId = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    out.take(50).foreach { r =>
      val want = math.sqrt(byId(r.getLong(0)).map(x => x * x).sum)
      assert(math.abs(r.getDouble(4) - want) < 1e-6 + 1e-9, s"norm ${r.getLong(0)}")
      val q = r.getDouble(3)
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  test("brute-force topK matches driver-side reference exactly") {
    val probe = Similarity.defaultProbe(embs)
    val got = Similarity.topK(embs, probe, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val want = bruteTopK(probe, 10)
    assert(got.map(_._1).toSeq == want.map(_._1))
    got.zip(want).foreach { case ((_, g), (_, w)) =>
      assert(math.abs(g - w) < 1e-4) // result rounds to 6dp
    }
  }

  test("ANN topK: probe's own vector always found; results are true cosines") {
    val probe = Similarity.defaultProbe(embs)
    val got = Similarity.annTopK(embs, probe, k = 10).collect()
    assert(got.nonEmpty)
    assert(got.map(_.getLong(0)).contains(0L)) // identical vector, hamming 0
    assert(got.head.getLong(0) == 0L && math.abs(got.head.getDouble(2) - 1.0) < 1e-6)
    // ANN results must be a subset of the full table with correct scores
    val brute = bruteTopK(probe, 500).toMap
    got.foreach { r =>
      assert(math.abs(r.getDouble(2) - brute(r.getLong(0))) < 1e-4)
    }
  }

  test("ANN recall vs brute force is reasonable on this data (fixed seed)") {
    val probe = Similarity.defaultProbe(embs)
    val ann = Similarity.annTopK(embs, probe, k = 10).collect().map(_.getLong(0)).toSet
    val brute = bruteTopK(probe, 10).map(_._1).toSet
    val recall = (ann intersect brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall") // deterministic given seeded planes
  }

  test("knnJoin: each probe's block equals the single-probe IVF operator") {
    // probes as DATA through ONE join plan must reproduce the declared
    // single-probe operator per probe — same cells, same ranking
    val probes = embs.filter("vec_id % 97 = 0")
      .selectExpr("vec_id AS probe_id", "embedding")
    val joined = Similarity.knnJoin(embs, probes, k = 5).collect()
    val probeRows = probes.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(probeRows.length > 1, "fixture must provide multiple probes")
    probeRows.foreach { case (pid, pvec) =>
      val single = Similarity.ivfSeedTopK(embs, pvec, k = 5).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      val block = joined.filter(_.getLong(0) == pid)
        .map(r => (r.getLong(1), r.getDouble(3))).toSeq
      assert(block == single, s"probe $pid diverged")
    }
  }

  test("knnJoinExact: each probe's block equals brute-force topK") {
    // the recall gate's ground-truth kernel: per probe, the exact
    // corpus-wide top-k under the same (round 6-dp desc, vec_id)
    // contract as the single-probe topK
    val probes = embs.filter("vec_id % 97 = 0")
      .selectExpr("vec_id AS probe_id", "embedding")
    val joined = Similarity.knnJoinExact(embs, probes, k = 5).collect()
    val probeRows = probes.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(probeRows.length > 1, "fixture must provide multiple probes")
    probeRows.foreach { case (pid, pvec) =>
      val single = Similarity.topK(embs, pvec, k = 5).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      val block = joined.filter(_.getLong(0) == pid)
        .map(r => (r.getLong(1), r.getDouble(3))).toSeq
      assert(block == single, s"probe $pid diverged from topK")
    }
  }

  test("knnJoinPq: each probe's block equals ivfPqTopK bit-for-bit") {
    // a probe batch must reproduce the declared IVF-PQ capstone per
    // probe EXACTLY — same cells, same ADC parts (6-dp
    // index-ascending), same shortlist, same re-rank
    val probes = embs.filter("vec_id % 97 = 0")
      .selectExpr("vec_id AS probe_id", "embedding")
    val joined = Similarity.knnJoinPq(embs, probes, k = 5).collect()
    val probeRows = probes.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(probeRows.length > 1, "fixture must provide multiple probes")
    probeRows.foreach { case (pid, pvec) =>
      val single = Similarity.ivfPqTopK(embs, pvec, k = 5).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      val block = joined.filter(_.getLong(0) == pid)
        .map(r => (r.getLong(1), r.getDouble(3))).toSeq
      assert(block == single, s"probe $pid diverged from ivfPqTopK")
    }
  }

  test("hardNegatives: different-label filter holds; block equals filtered IVF ranking") {
    // per anchor: every mined row's label must differ from the
    // anchor's, and the block must equal the single-probe IVF ranking
    // over the same probed cells with same-label rows removed — the
    // kernel is knnJoin + one filter, nothing else
    val probes = embs.filter("vec_id % 97 = 0")
      .selectExpr("vec_id AS probe_id", "embedding", "label AS probe_label")
    val mined = Similarity.hardNegatives(embs, probes, k = 5).collect()
    val probeRows = probes.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    assert(probeRows.length > 1, "fixture must provide multiple probes")
    assert(mined.nonEmpty, "fixture must yield hard negatives")
    mined.foreach { r =>
      val plabel = r.getInt(1)
      assert(r.getInt(3) != plabel,
        s"probe ${r.getLong(0)} mined a SAME-label row ${r.getLong(2)}")
    }
    probeRows.foreach { case (pid, pvec, plabel) =>
      // ground truth: the full candidate ranking of the probed cells
      // (ivfSeedTopK with corpus-sized k), same-label rows dropped
      val want = Similarity.ivfSeedTopK(embs, pvec, k = Int.MaxValue)
        .collect()
        .filter(_.getInt(1) != plabel)
        .take(5)
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      val block = mined.filter(_.getLong(0) == pid)
        .map(r => (r.getLong(2), r.getDouble(4))).toSeq
      assert(block == want, s"probe $pid diverged from filtered IVF ranking")
    }
  }

  test("knnClassify: leave-one-out majority vote replays driver-side") {
    // per probe: neighbors = the probed-cell ranking with the probe's
    // own row excluded; prediction = max votes, smallest label on
    // ties. The self-exclusion must be visible (a corpus probe's
    // nearest neighbor is itself at cosine 1.0)
    val probes = embs.filter("vec_id % 97 = 0")
      .selectExpr("vec_id AS probe_id", "embedding", "label AS probe_label")
    val got = Similarity.knnClassify(embs, probes, k = 5).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4))).toMap
    val probeRows = probes.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    assert(probeRows.length > 1 && got.size == probeRows.length)
    probeRows.foreach { case (pid, pvec, plabel) =>
      val neigh = Similarity.ivfSeedTopK(embs, pvec, k = Int.MaxValue)
        .collect()
        .filter(_.getLong(0) != pid)
        .take(5)
        .map(_.getInt(1))
      val (predicted, nVotes) = neigh.groupBy(identity).view
        .mapValues(_.length).toSeq
        .sortBy { case (l, n) => (-n, l) }.head
      val (gLabel, gPred, gVotes, gCorrect) = got(pid)
      assert(gLabel == plabel)
      assert(gPred == predicted && gVotes == nVotes.toLong,
        s"probe $pid: got ($gPred, $gVotes), want ($predicted, $nVotes)")
      assert(gCorrect == (if (predicted == plabel) 1L else 0L))
    }
  }

  test("randomProjection: exact driver-side replay; JL distances correlate") {
    // (1) every output value must equal an exact micro-unit replay of
    // the hash-seeded sign projection (the portable contract); (2) the
    // sign matrix must genuinely mix signs; (3) the JL property must
    // hold on the fixture: pairwise distances in projected space
    // correlate strongly with the originals
    val kOut = 16
    val got = Similarity.randomProjection(embs, kOut).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val vecs = embs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(got.size == vecs.size * kOut)
    val dim = vecs.head._2.length
    val w = graft.functions.VectorOps.rpWeights(dim, kOut)
    assert(w.flatten.count(_ > 0) > 0 && w.flatten.count(_ < 0) > 0,
      "hash-seeded sign matrix must mix signs")
    vecs.foreach { case (id, v) =>
      (0 until kOut).foreach { j =>
        var micros = 0L
        (0 until dim).foreach { i =>
          micros += math.round(
            graft.functions.VectorOps.round6(v(i).toDouble * w(j)(i)) * 1e6)
        }
        val want = graft.functions.VectorOps.round6(micros / 1e6)
        assert(got((id, j.toLong)) == want, s"vec $id dim $j diverged")
      }
    }
    // JL sanity: Pearson correlation of squared pairwise distances
    // over the first 30 vectors (deterministic fixture + seeded
    // signs), and the JL LAW itself — distortion shrinks as kOut
    // grows, so the correlation at 3× the dims must beat it
    val ids = vecs.keys.toSeq.sorted.take(30)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def distCorr(ko: Int): Double = {
      val p = Similarity.randomProjection(embs, ko).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val pairs = for {
        x <- ids.indices; y <- (x + 1) until ids.size
      } yield {
        val (ia, ib) = (ids(x), ids(y))
        (d2(vecs(ia).map(_.toDouble), vecs(ib).map(_.toDouble)),
          d2((0 until ko).map(j => p((ia, j.toLong))).toArray,
            (0 until ko).map(j => p((ib, j.toLong))).toArray))
      }
      val n = pairs.size.toDouble
      val (mx, my) = (pairs.map(_._1).sum / n, pairs.map(_._2).sum / n)
      val cov = pairs.map { case (a, b) => (a - mx) * (b - my) }.sum
      val sx = math.sqrt(pairs.map(p => (p._1 - mx) * (p._1 - mx)).sum)
      val sy = math.sqrt(pairs.map(p => (p._2 - my) * (p._2 - my)).sum)
      cov / (sx * sy)
    }
    val c16 = distCorr(kOut)
    val c48 = distCorr(48)
    assert(c16 > 0.3, s"JL distance correlation too weak at 16 dims: $c16")
    assert(c48 > c16,
      s"distortion must shrink with kOut (JL law): corr16=$c16 corr48=$c48")
  }

  test("projectionRecall: per-probe intersection replays driver-side") {
    // the gate's mechanics, not a recall target: each probe's n_hits
    // must equal |top-k(projected cosine) ∩ top-k(full cosine)|
    // recomputed driver-side from the collected vectors and the same
    // hash-seeded sign matrix (at the fixture's near-random 64-dim
    // embeddings a 4× JL cut measures LOW recall — the honest reading
    // is "16 dims cannot prefilter top-10 here", which is exactly
    // what the gate exists to detect)
    val kOut = 16
    val k = 5
    val probes = embs.filter("vec_id % 97 = 0")
      .selectExpr("vec_id AS probe_id", "embedding")
    val got = Similarity.projectionRecall(embs, probes, kOut, k).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val vecs = embs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val dim = vecs.head._2.length
    val w = graft.functions.VectorOps.rpWeights(dim, kOut)
    def proj(v: Array[Float]): Array[Double] =
      (0 until kOut).map { j =>
        var micros = 0L
        (0 until dim).foreach { i =>
          micros += math.round(
            graft.functions.VectorOps.round6(v(i).toDouble * w(j)(i)) * 1e6)
        }
        graft.functions.VectorOps.round6(micros / 1e6)
      }.toArray
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dp = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dp / (na * nb)
    }
    def topk(score: Long => Double): Set[Long] =
      vecs.keys.toSeq
        .map(id => (id, graft.functions.VectorOps.round6(score(id))))
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
    val projected = vecs.map { case (id, v) => id -> proj(v) }
    probes.collect().foreach { r =>
      val pid = r.getLong(0)
      val pv = r.getSeq[Float](1).toArray
      val full = topk(id => cos(pv.map(_.toDouble), vecs(id).map(_.toDouble)))
      val cut = topk(id => cos(proj(pv), projected(id)))
      val wantHits = (full intersect cut).size.toLong
      val (gotHits, gotRecall) = got(pid)
      assert(gotHits == wantHits, s"probe $pid: $gotHits vs $wantHits")
      assert(gotRecall ==
        graft.functions.VectorOps.round4(wantHits.toDouble / k))
    }
  }

  test("buildIvfIndex scans the source once, regardless of iteration count") {
    // the Lloyd loop pins its (vec_id, embedding) projection: every
    // per-iteration query must read THROUGH the cache (InMemoryTableScan
    // above the parquet leaf), never the bare file scan per iteration
    val bareScans = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains("Scan parquet") && !p.contains("InMemoryTableScan"))
          bareScans.incrementAndGet()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val index = Similarity.buildIvfIndex(embs, nCentroids = 4, iterations = 6)
      assert(index.centroids.size == 4)
      Thread.sleep(700) // QueryExecutionListener delivery is async
      assert(bareScans.get() <= 1,
        s"${bareScans.get()} uncached parquet scans across 6 iterations — input not pinned")
    } finally spark.listenerManager.unregister(listener)
  }

  test("kMeans: recovers well-separated clusters; empty clusters keep centroids") {
    import spark.implicits._
    // 3 tight clusters around orthogonal-ish axes in 8-dim space
    def vec(axis: Int, jitter: Int): Seq[Float] =
      Seq.tabulate(8)(i => (if (i == axis) 10f else 0f) + (jitter % 3) * 0.1f)
    val df = (0 until 30).map { i =>
      (i.toLong, vec(i % 3, i), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val cents = Similarity.kMeansCentroids(df, nCentroids = 3, iterations = 5)
    val assigned = Similarity.ivfAssignTo(df, cents).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // all members of a true cluster land in the same learned cell
    (0 until 3).foreach { axis =>
      val cells = (0 until 30).filter(_ % 3 == axis).map(i => assigned(i.toLong)).toSet
      assert(cells.size == 1, s"axis $axis split across cells $cells")
    }
    // and distinct true clusters land in distinct cells
    assert((0 until 3).map(a => assigned(a.toLong)).toSet.size == 3)
  }

  test("IVF with kMeans centroids: probe finds its own vector, recall >= seeds") {
    val probe = Similarity.defaultProbe(embs)
    val cents = Similarity.kMeansCentroids(embs, nCentroids = 16, iterations = 3)
    val assigned = Similarity.ivfAssignTo(embs, cents)
    val got = Similarity.ivfTopK(assigned,
      Similarity.centroidsDF(spark, cents), probe, k = 10).collect()
    assert(got.length == 10)
    assert(got.head.getLong(0) == 0L) // own vector, cosine 1.0
    val brute = bruteTopK(probe, 10).map(_._1).toSet
    val recall = (got.map(_.getLong(0)).toSet intersect brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall")
  }

  test("ivfTopKClustered over the partitioned layout matches ivfTopK row-for-row") {
    val index = Similarity.buildIvfIndex(embs, nCentroids = 16, iterations = 1)
    val assigned = Similarity.ivfAssignTo(embs, index.centroids)
    val probe = Similarity.defaultProbe(embs)
    val want = Similarity.ivfTopK(assigned, index.toDF(spark), probe)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("ivf_clustered")
    try {
      Similarity.writeClustered(assigned, dir.toString)
      val ids = Similarity.probeCentroidIds(index.toDF(spark), probe, nProbe = 4)
      val got = Similarity
        .ivfTopKClustered(spark.read.parquet(dir.toString), ids, probe)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(got == want, s"clustered layout diverged:\n$got\nvs\n$want")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
  }

  test("quantizeInt8: bins in [0,255], min→0, max→255, constant vector→0s") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(-1.0f, 0.0f, 1.0f), 0),
      (2L, Seq(0.5f, 0.5f, 0.5f), 0)) // constant
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.quantizeInt8(df).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) == "0,128,255")
    assert(out(2L) == "0,0,0")
    // real data: every bin within range, min/max bins present per vector
    val real = Similarity.quantizeInt8(embs).limit(50).collect()
    real.foreach { r =>
      val bins = r.getString(3).split(",").map(_.toInt)
      assert(bins.forall(b => b >= 0 && b <= 255))
      assert(bins.contains(0) && bins.contains(255))
    }
  }

  test("IVF: probe finds its own vector; scans subset of buckets") {
    val assigned = Similarity.ivfAssign(embs)
    assert(assigned.count() == embs.count()) // every vector assigned once
    val centroids = embs.orderBy("vec_id").limit(16)
      .select(embs("vec_id").as("centroid_id"), embs("embedding").as("cvec"))
    val probe = Similarity.defaultProbe(embs)
    val got = Similarity.ivfTopK(assigned, centroids, probe, k = 10)
    val rows = got.collect()
    assert(rows.length == 10)
    assert(rows.head.getLong(0) == 0L) // own vector, cosine 1.0
  }

  test("embeddingStats: catches ragged dims, zero norms, norm mass exact") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(3.0f, 4.0f), 0),        // norm 5
      (2L, Seq(0.0f, 0.0f), 0),        // dead encode
      (3L, Seq(1.0f, 0.0f, 0.0f), 0),  // ragged: 3 dims
      (4L, Seq(6.0f, 8.0f), 1))        // norm 10
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingStats(df).collect()
      .map(r => r.getInt(0) -> r).toMap
    val l0 = out(0)
    assert(l0.getAs[Long]("n_vecs") == 3L)
    assert(l0.getAs[Long]("dims_min") == 2L && l0.getAs[Long]("dims_max") == 3L)
    assert(l0.getAs[Long]("n_zero_norm") == 1L)
    assert(l0.getAs[Double]("min_norm") == 0.0)
    assert(l0.getAs[Double]("sum_norm") == 6.0) // 5 + 0 + 1
    assert(l0.getAs[Double]("max_norm") == 5.0)
    val l1 = out(1)
    assert(l1.getAs[Long]("n_vecs") == 1L && l1.getAs[Double]("sum_norm") == 10.0)
    // real table: uniform dims, no dead vectors, unit norms
    val real = Similarity.embeddingStats(embs).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(r.getAs[Long]("dims_min") == 64L && r.getAs[Long]("dims_max") == 64L)
      assert(r.getAs[Long]("n_zero_norm") == 0L)
    }
  }

  test("embeddingStats: a NULL embedding counts dead, matching the oracle's coalesce") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(3.0f, 4.0f)), 0),
      (2L, None: Option[Seq[Float]], 0), // bad ingest: NULL embedding
      (3L, Some(Seq.empty[Float]), 0))   // empty list: also dead
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.embeddingStats(df).collect().head
    assert(r.getAs[Long]("n_vecs") == 3L)
    assert(r.getAs[Long]("n_zero_norm") == 2L,
      "NULL and empty embeddings are both dead encodes")
    assert(r.getAs[Double]("sum_norm") == 5.0) // NULL norm excluded from mass
  }

  test("semanticPairs: within-cluster threshold pairs, verified brute-force") {
    val index = Similarity.buildIvfIndex(embs, nCentroids = 16, iterations = 3,
      portable = true)
    val pairs = Similarity.semanticPairs(embs, index).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // every pair respects ordering + threshold
    pairs.foreach { case (a, b, c) =>
      assert(a < b, s"unordered pair ($a,$b)")
      assert(c >= Similarity.SemDedupMinCos, s"below-threshold pair ($a,$b,$c)")
    }
    // brute-force within-cluster reference: same assignment, all pairs
    val assigned = Similarity.ivfAssignPortableTo(embs, index.centroids)
      .select("vec_id", "embedding", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getLong(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val want = (for {
      (ida, va, ca) <- assigned
      (idb, vb, cb) <- assigned
      if ca == cb && ida < idb
      c = math.rint(cos(va, vb) * 1e6) / 1e6
      if c >= Similarity.SemDedupMinCos
    } yield (ida, idb)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == want,
      s"pair set mismatch: got ${pairs.length}, want ${want.size}")
    assert(pairs.nonEmpty, "corpus yields no semantic pairs — threshold dead")
  }

  test("semanticClusters: pairs co-label, singletons self-label, label = component min") {
    val index = Similarity.buildIvfIndex(embs, nCentroids = 16, iterations = 3,
      portable = true)
    val pairs = Similarity.semanticPairs(embs, index)
      .select(org.apache.spark.sql.functions.col("vec_id_a").as("doc_id_a"),
        org.apache.spark.sql.functions.col("vec_id_b").as("doc_id_b"))
    val labels = DedupClusters.clustersDF(
      embs.select(org.apache.spark.sql.functions.col("vec_id").as("doc_id")), pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.core.CacheScope.releaseAll()
    val pairSet = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairSet.nonEmpty)
    // every pair shares a label; the label is ≤ both endpoints
    pairSet.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
      assert(labels(a) <= a && labels(a) <= b)
    }
    // vectors in no pair are singletons labeled by themselves
    val inPair = pairSet.flatMap(p => Seq(p._1, p._2)).toSet
    labels.foreach { case (v, c) => if (!inPair(v)) assert(c == v) }
    // driver-side union-find reference: labels are the component minima
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairSet.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    labels.foreach { case (v, c) => assert(c == find(v), s"label($v)") }
  }

  test("semanticDedup: drops exactly the vectors with a lower-id duplicate") {
    val index = Similarity.buildIvfIndex(embs, nCentroids = 16, iterations = 3,
      portable = true)
    val dropsWanted = Similarity.semanticPairs(embs, index)
      .select("vec_id_b").distinct().collect().map(_.getLong(0)).toSet
    val kept = Similarity.semanticDedup(embs, index).collect()
      .map(_.getLong(0)).toSet
    val all = embs.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == all -- dropsWanted)
    assert(dropsWanted.nonEmpty && kept.nonEmpty)
  }

  test("superCells: non-empty cells exactly partition the centroid set") {
    val index = Similarity.buildIvfIndex(embs, nCentroids = 16, iterations = 3,
      portable = true)
    val cells = Similarity.superCells(index.centroids, superK = 4)
    assert(cells.nonEmpty && cells.size <= 4)
    cells.foreach { case (_, members) => assert(members.nonEmpty) }
    val memberIds = cells.flatMap(_._2.map(_._1))
    assert(memberIds.sorted == index.centroids.map(_._1).sorted,
      "every centroid must belong to exactly one super-cell")
    // deterministic: the driver Lloyd re-runs to the identical grouping
    assert(Similarity.superCells(index.centroids, superK = 4) == cells)
  }

  test("two-level assignment: valid centroid ids, high agreement with flat argmin") {
    val index = Similarity.buildIvfIndex(embs, nCentroids = 16, iterations = 3,
      portable = true)
    val flat = Similarity.ivfAssignTo(embs, index.centroids)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hier = Similarity.ivfAssignTwoLevelTo(embs, index.centroids)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hier.keySet == flat.keySet)
    val validIds = index.centroids.map(_._1).toSet
    hier.values.foreach(cid => assert(validIds(cid), s"unknown centroid $cid"))
    val agree = flat.count { case (id, cid) => hier(id) == cid }
    // coarse-quantizer approximation: boundary vectors may hop cells,
    // but the bulk must agree or the two-level index is broken
    assert(agree.toDouble / flat.size >= 0.9,
      s"two-level assignment agrees on only $agree/${flat.size}")
  }

  test("semanticPairsHier: exactly the within-cell pairs of the two-level assignment") {
    val index = Similarity.buildIvfIndex(embs, nCentroids = 16, iterations = 3,
      portable = true)
    val pairs = Similarity.semanticPairsHier(embs, index).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    pairs.foreach { case (a, b, c) =>
      assert(a < b && c >= Similarity.SemDedupMinCos)
    }
    val assigned = Similarity.ivfAssignTwoLevelTo(embs, index.centroids)
      .select("vec_id", "embedding", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getLong(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val want = (for {
      (ida, va, ca) <- assigned
      (idb, vb, cb) <- assigned
      if ca == cb && ida < idb
      c = math.rint(cos(va, vb) * 1e6) / 1e6
      if c >= Similarity.SemDedupMinCos
    } yield (ida, idb)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == want)
    assert(pairs.nonEmpty, "hier path finds no pairs — assignment dead")
  }

  test("buildIvfIndexFast + semanticDedupHier: full hierarchical path end-to-end") {
    val index = Similarity.buildIvfIndexFast(embs, nCentroids = 16, iterations = 3)
    assert(index.centroids.size == 16)
    assert(index.centroids.forall(_._2.length == 64))
    val dropsWanted = Similarity.semanticPairsHier(embs, index)
      .select("vec_id_b").distinct().collect().map(_.getLong(0)).toSet
    val kept = Similarity.semanticDedupHier(embs, index).collect()
      .map(_.getLong(0)).toSet
    val all = embs.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == all -- dropsWanted)
    assert(kept.nonEmpty)
  }

  test("sampled trainer: recovers well-separated clusters; sampling path is sound") {
    import spark.implicits._
    // 4 orthogonal tight clusters (dim 8), cluster = vec_id % 4 so the
    // first 4 ids — the seed rows — span all 4 clusters
    val dim = 8
    val rows = (0 until 200).map { id =>
      val c = id % 4
      val base = Array.tabulate(dim)(d => if (d == c * 2) 10.0f else 0.0f)
      base(dim - 1) = (id % 7) * 0.01f // deterministic jitter
      (id.toLong, base.toSeq, c)
    }
    val df = rows.toDF("vec_id", "embedding", "label")

    // samplePerCell past n/k → modulus 1 → the full-table degenerate
    // sample, so seeds are ids 0..3 (one per cluster) and Lloyd must
    // separate them exactly: each cluster one centroid, all distinct
    val full = Similarity.kMeansCentroidsSampled(
      df, nCentroids = 4, iterations = 3, samplePerCell = 1000)
    assert(full.size == 4 && full.forall(_._2.length == dim))
    val assignedFull = Similarity.ivfAssignTwoLevelTo(df, full)
      .select("label", "centroid_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1))
    val byCluster = assignedFull.groupBy(_._1).map { case (c, xs) =>
      c -> xs.map(_._2).toSet
    }
    byCluster.foreach { case (c, cids) =>
      assert(cids.size == 1, s"cluster $c split across centroids $cids")
    }
    assert(byCluster.values.flatten.toSet.size == 4,
      s"4 seeded clusters must train 4 distinct centroids: $byCluster")

    // a genuinely binding sample (modulus 200/(4·8) = 6): training sees
    // ~n/6 rows; the result must still be a usable index over the FULL
    // corpus — k centroids, and every vector assigned to a trained id
    val sampled = Similarity.kMeansCentroidsSampled(
      df, nCentroids = 4, iterations = 3, samplePerCell = 8)
    assert(sampled.size == 4 && sampled.forall(_._2.length == dim))
    val validIds = sampled.map(_._1).toSet
    val assignedSampled = Similarity.ivfAssignTwoLevelTo(df, sampled)
      .select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(assignedSampled.length == 200)
    assignedSampled.foreach { case (id, cid) =>
      assert(validIds(cid), s"vec $id assigned to untrained centroid $cid")
    }
  }

  test("prunePrototypes: per-cluster hard-example keep, replayed driver-side") {
    val index = Similarity.buildIvfIndex(embs, nCentroids = 16, iterations = 3,
      portable = true)
    val got = Similarity.prunePrototypes(embs, index).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(got.length == embs.count(), "every vector must carry a verdict")

    // driver-side replay: assignment + 6-dp cosine to own centroid,
    // (proto_cos asc, vec_id) rank, keep = rank <= floor(n*70/100)
    val cents = index.centroids.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val assigned = Similarity.ivfAssignPortableTo(embs, index.centroids)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getLong(3)))
    val want = assigned.groupBy(_._3).toSeq.flatMap { case (cid, members) =>
      val cv = cents(cid).map(_.toDouble).toArray
      val ranked = members
        .map { case (id, v, _) => (id, math.rint(cos(v, cv) * 1e6) / 1e6) }
        .sortBy { case (id, c) => (c, id) }
      val k = members.length.toLong * Similarity.PrototypeKeepPct / 100
      ranked.zipWithIndex.map { case ((id, c), i) =>
        id -> ((cid, c, if (i < k) 1L else 0L))
      }
    }.toMap
    got.foreach { case (id, cid, c, sel) =>
      val (wCid, wC, wSel) = want(id)
      assert(cid == wCid && c == wC && sel == wSel,
        s"vec $id: got ($cid,$c,$sel) want ($wCid,$wC,$wSel)")
    }
    val nKept = got.count(_._4 == 1L)
    assert(nKept > 0 && nKept < got.length,
      s"keep boundary must genuinely split the corpus: $nKept/${got.length}")
  }

  test("d4Select: survivors-only verdicts against RETRAINED centroids") {
    val keep = Similarity.semanticDedup(embs,
      Similarity.buildIvfIndex(embs, nCentroids = 16, iterations = 3,
        portable = true)).collect().map(_.getLong(0)).toSet
    val got = Similarity.d4Select(embs).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    graft.core.CacheScope.releaseAll()
    assert(got.map(_._1).toSet == keep,
      "phase-2 verdicts must cover exactly the SemDeDup survivors")
    // re-clustering is load-bearing: the phase-2 index trains on the
    // survivor set, so its seeds are the 16 lowest SURVIVING vec_ids —
    // equal to prunePrototypes-on-survivors under a survivor-built index
    val survivors = embs.join(
      embs.sparkSession.createDataFrame(
        embs.sparkSession.sparkContext.parallelize(
          keep.toSeq.map(org.apache.spark.sql.Row(_))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType)))),
      Seq("vec_id"), "left_semi")
    val idx2 = Similarity.buildIvfIndex(survivors, nCentroids = 16,
      iterations = 3, portable = true)
    val want = Similarity.prunePrototypes(survivors, idx2).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSet
    assert(got.toSet == want, "d4Select must equal semanticDedup -> retrain -> prune")
    val nKept = got.count(_._3 == 1L)
    assert(nKept > 0 && nKept < got.length, s"degenerate D4 keep set: $nKept")
  }

  test("prunePrototypesHier + d4SelectHier: rank kernel replay on the hier assignment") {
    // the production path's verdicts replay driver-side against the
    // two-level assignment exactly as the declared key's do against
    // the flat one — one pruneRank kernel, two assignment faces
    val index = Similarity.buildIvfIndexSampled(embs, nCentroids = 8,
      iterations = 3, samplePerCell = 16, superK = 3)
    val got = Similarity.prunePrototypesHier(embs, index, superK = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(got.length == embs.count())
    val assigned = Similarity.ivfAssignTwoLevelTo(embs, index.centroids, superK = 3)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getLong(3)))
    val cents = index.centroids.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val want = assigned.groupBy(_._3).toSeq.flatMap { case (cid, members) =>
      val cv = cents(cid).map(_.toDouble).toArray
      val ranked = members
        .map { case (id, v, _) => (id, math.rint(cos(v, cv) * 1e6) / 1e6) }
        .sortBy { case (id, c) => (c, id) }
      val k = members.length.toLong * Similarity.PrototypeKeepPct / 100
      ranked.zipWithIndex.map { case ((id, c), i) =>
        id -> ((cid, c, if (i < k) 1L else 0L))
      }
    }.toMap
    got.foreach { case (id, cid, c, sel) =>
      val (wCid, wC, wSel) = want(id)
      assert(cid == wCid && c == wC && sel == wSel,
        s"vec $id: got ($cid,$c,$sel) want ($wCid,$wC,$wSel)")
    }
    // the composed hier pipeline covers exactly its own dedup survivors
    val keep = Similarity.semanticDedupHier(embs, index, superK = 3)
      .collect().map(_.getLong(0)).toSet
    val d4 = Similarity.d4SelectHier(embs, nCentroids = 8, superK = 3,
      samplePerCell = 16).collect().map(_.getLong(0)).toSet
    graft.core.CacheScope.releaseAll()
    assert(d4 == keep,
      "hier D4 verdicts must cover exactly the hier dedup survivors")
  }

  test("ivfDrift: per-cell cohesion replayed driver-side; drift signs sane") {
    val indexed = embs.filter("vec_id % 4 <> 0")
    val batch = embs.filter("vec_id % 4 = 0")
    val got = Similarity.ivfDrift(indexed, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.nonEmpty)
    val index = Similarity.buildIvfIndex(indexed, nCentroids = 16,
      iterations = 3, portable = true)
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] = {
      val rows = Similarity.ivfAssignPortableTo(df, index.centroids).collect()
        .map(r => (r.getSeq[Float](1).map(_.toDouble).toArray, r.getLong(3)))
      val cents = index.centroids.toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val na = math.sqrt(a.map(x => x * x).sum)
        val nb = math.sqrt(b.map(x => x * x).sum)
        if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
      }
      rows.groupBy(_._2).map { case (cid, ms) =>
        val cv = cents(cid).map(_.toDouble).toArray
        val sims = ms.map(m => math.rint(cos(m._1, cv) * 1e6) / 1e6)
        // DECIMAL(10,6)-exact sum: accumulate in micro-units
        val sum = sims.map(x => math.rint(x * 1e6).toLong).sum / 1e6
        cid -> ((ms.length.toLong, sum))
      }
    }
    val wantIdx = cells(indexed)
    val wantNew = cells(batch)
    got.foreach { case (cid, nI, sI, nN, sN, drift) =>
      val (wnI, wsI) = wantIdx.getOrElse(cid, (0L, 0.0))
      val (wnN, wsN) = wantNew.getOrElse(cid, (0L, 0.0))
      assert(nI == wnI && nN == wnN, s"cell $cid counts")
      assert(math.abs(sI - wsI) < 1e-9 && math.abs(sN - wsN) < 1e-9,
        s"cell $cid sums: got ($sI,$sN) want ($wsI,$wsN)")
      val wDrift = math.rint(((if (wnN == 0) 0.0 else wsN / wnN)
        - (if (wnI == 0) 0.0 else wsI / wnI)) * 1e4) / 1e4
      assert(math.abs(drift - wDrift) <= 1e-4 + 1e-12, s"cell $cid drift $drift vs $wDrift")
    }
    // every populated cell reports exactly once
    assert(got.map(_._1).toSet == (wantIdx.keySet ++ wantNew.keySet))
  }

  test("knnGraph: per-vertex edges equal the per-probe kNN join, self excluded") {
    val k = 4
    val graph = Similarity.knnGraph(embs, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val n = embs.count()
    // every vertex has edges; degree ≤ k; no self loops
    val byProbe = graph.groupBy(_._1)
    assert(byProbe.size == n, s"${byProbe.size} of $n vertices have edges")
    assert(byProbe.values.forall(_.length <= k))
    assert(graph.forall { case (p, v, _) => p != v })
    // spot-check three vertices against the single-probe kernel the
    // family's oracles already pin (same cells, same ranking, minus self)
    for (pid <- Seq(0L, 7L, 42L)) {
      val probe = embs
        .filter(org.apache.spark.sql.functions.col("vec_id") === pid)
        .select("embedding").collect()(0).getSeq[Float](0)
      val want = Similarity.ivfSeedTopK(embs, probe, k = k + 1)
        .collect().map(r => (r.getLong(0), r.getDouble(2)))
        .filter(_._1 != pid).take(k).toSeq
      val got = byProbe(pid).map(t => (t._2, t._3)).toSeq
      assert(got == want, s"vertex $pid: $got vs $want")
    }
  }

  test("knnGraphHier: probing all supers degrades to the flat graph exactly") {
    // superK=4 → 4 super-cells; superProbe=4 probes them ALL, so both
    // the assignment and the probe list fall back to flat ranking —
    // the hier variant must be bit-identical to knnGraph there
    val flat = Similarity.knnGraph(embs, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    val hier = Similarity.knnGraphHier(embs, k = 4, superK = 4, superProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(hier == flat, "all-supers-probed hier diverged from flat")
    // the DEFAULT coarse quantizer (superProbe=2): sane degrees, no
    // self loops, and high edge agreement with flat (the near-isotropic
    // fixture is the coarse quantizer's worst case — same bound class
    // as the two-level assignment's spec)
    val hier2 = Similarity.knnGraphHier(embs, k = 4, superK = 4, superProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val byP = hier2.groupBy(_._1)
    assert(byP.values.forall(_.length <= 4) && hier2.forall(e => e._1 != e._2))
    // edge agreement COMPOUNDS two coarse-quantizer approximations
    // (the probe's cell list and each candidate's assigned cell), and
    // the near-isotropic fixture is the quantizer's worst case — the
    // assignment-level spec pins ≥90% there, edges land ~0.65;
    // clustered production embeddings sit far above both
    val flatSet = flat.map(e => (e._1, e._2)).toSet
    val agree = hier2.count(flatSet.contains).toDouble / hier2.size
    assert(agree >= 0.55, s"hier/flat edge agreement too low: $agree")
  }

  test("knnGraphHier: measured edge recall vs flat on a clustered fixture at k ∝ n (r13 verdict #6)") {
    import spark.implicits._
    // 16 tight Gaussian clusters in 64-dim (near-orthogonal centers —
    // the PRODUCTION shape, unlike the near-isotropic parquet fixture
    // that is the coarse quantizer's worst case); ids interleaved so
    // the seed centroids span every cluster. Deterministic seed: the
    // measured recall is a pinned number, not a flaky sample.
    val rnd = new scala.util.Random(42)
    val dim = 64; val nClust = 16; val perC = 50
    val centers = Array.fill(nClust, dim)(rnd.nextGaussian().toFloat)
    val rows = (0 until nClust).flatMap { c =>
      (0 until perC).map { i =>
        ((i * nClust + c).toLong,
          centers(c).map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq, c)
      }
    }.toDF("vec_id", "embedding", "label")
    // k ∝ n: 800 vectors / 64 cells ≈ 12.5 per cell — the SemDeDup law
    val k = 4; val nc = 64
    val flat = Similarity.knnGraph(rows, k = k, nCentroids = nc).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val hier = Similarity.knnGraphHier(rows, k = k, nCentroids = nc).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val flatSet = flat.toSet
    val recall = hier.count(flatSet.contains).toDouble / flat.size
    info(f"hier edge recall vs flat (clustered, n=800, nc=$nc, k=$k): $recall%.4f")
    assert(recall >= 0.9,
      f"hier edge recall vs flat on clustered data: $recall%.4f (need >= 0.9)")
  }

  test("knnGraphRefine: one NN-Descent round improves recall vs the exact graph (r14)") {
    // driver ground truth: exact top-k per vertex by unrounded cosine
    val vecs = embs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    val ids = vecs.keys.toSeq.sorted
    val k = 4
    val exact = ids.flatMap { p =>
      ids.filter(_ != p).map(v => (v, cos(vecs(p), vecs(v))))
        .sortBy { case (v, c) => (-c, v) }.take(k).map { case (v, _) => (p, v) }
    }.toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val edges = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.count(exact.contains).toDouble / exact.size
    }
    val base = recall(Similarity.knnGraph(embs, k = k))
    val refined = recall(Similarity.knnGraphRefine(embs, k = k))
    info(f"recall vs exact: base $base%.4f -> refined $refined%.4f")
    // direct edges are in the candidate set and rank keeps the best k
    // of a superset: recall is monotone non-decreasing by construction,
    // and the near-isotropic fixture leaves room — gate real improvement
    assert(refined >= base, f"refinement lost recall: $base%.4f -> $refined%.4f")
    assert(refined >= base + 0.01,
      f"refinement should measurably improve recall here: $base%.4f -> $refined%.4f")
    // structural invariants match the base graph's
    val r = Similarity.knnGraphRefine(embs, k = k).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r.forall { case (p, v) => p != v })
    assert(r.groupBy(_._1).values.forall(_.length <= k))

    // iterated NN-Descent: rounds=1 IS the one-round kernel bit-for-bit
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(Similarity.knnGraphRefineIter(embs, k = k, rounds = 1)) ==
      rows(Similarity.knnGraphRefine(embs, k = k)),
      "rounds=1 diverged from the one-round refine kernel")
    // recall is monotone non-decreasing in rounds (each round's
    // candidates contain the previous round's surviving edges)
    val r2 = recall(Similarity.knnGraphRefineIter(embs, k = k, rounds = 2))
    info(f"recall vs exact: refined $refined%.4f -> round-2 $r2%.4f")
    assert(r2 >= refined, f"round 2 lost recall: $refined%.4f -> $r2%.4f")
    // hand-rolled round 2: one more two-hop/re-score/top-k pass over
    // round-1's edges reproduces the engine's round-2 graph exactly
    def roundOnce(edges: Set[(Long, Long)]): Set[(Long, Long)] = {
      val byProbe = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      edges.flatMap { case (p, _) => // candidates per vertex p
        val twoHop = byProbe.getOrElse(p, Set.empty)
          .flatMap(v => byProbe.getOrElse(v, Set.empty)).filter(_ != p)
        (byProbe(p) ++ twoHop).map { v =>
          (v, BigDecimal(cos(vecs(p), vecs(v))).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        }.toSeq.sortBy { case (v, c) => (-c, v) }.take(k).map { case (v, _) => (p, v) }
      }
    }
    val eng1 = Similarity.knnGraphRefine(embs, k = k).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val eng2 = Similarity.knnGraphRefineIter(embs, k = k, rounds = 2).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(roundOnce(eng1) == eng2,
      "engine round 2 differs from a hand-rolled round over round-1 edges")
  }

  test("labelPropagateIter: rounds=1 equals labelPropagate bit-for-bit; later rounds vote with updated labels (r13 verdict #3)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val one = rows(Similarity.labelPropagate(embs, k = 4))
    val iter1 = rows(Similarity.labelPropagateIter(embs, k = 4, rounds = 1))
    assert(iter1 == one, "rounds=1 diverged from the one-round kernel")
    // hand-rolled round 2 from the frozen graph: re-vote with round-1's
    // carried labels (winner, else original), same argmax + tie rule
    val g = Similarity.knnGraph(embs, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), BigDecimal(r.getDouble(3)).setScale(6)))
    val orig = embs.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def vote(labels: Map[Long, Int]): Map[Long, (Int, BigDecimal, Long)] =
      g.groupBy(_._1).map { case (v, es) =>
        val byLabel = es.groupBy(e => labels(e._2))
          .map { case (l, xs) => (l, xs.map(_._3).sum, xs.size.toLong) }
        val maxw = byLabel.map(_._2).max
        val win = byLabel.filter(_._2 == maxw).minBy(_._1)
        v -> win
      }
    val r1 = vote(orig)
    val l1 = orig.map { case (v, l) => v -> r1.get(v).map(_._1).getOrElse(l) }
    val r2 = vote(l1)
    val got2 = Similarity.labelPropagateIter(embs, k = 4, rounds = 2).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(2), BigDecimal(r.getDouble(3)).setScale(6), r.getLong(4))).toMap
    assert(got2 == r2, "round-2 votes diverged from the hand-rolled reference")
  }

  test("appendToGraph: bit-identical to the rebuild over the union; untouched vertices' rows verbatim (r15)") {
    import org.apache.spark.sql.functions._
    def rws(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    // the arriving batch is the high-id tail past the seed vertices, so
    // the base's frozen quantizer equals the union's and the rebuild
    // comparison is exact, not recall-gated
    val cents = Similarity.seedCentroids(embs, 16)
    val seedCut = cents.map(_._1).max
    val cut = embs.agg(max("vec_id")).collect()(0).getLong(0) * 9 / 10
    val arriving = col("vec_id") > seedCut && col("vec_id") >= cut
    val base = embs.filter(!arriving)
    val batch = embs.filter(arriving)
    assert(batch.count() > 0 && base.count() > 16, "split must be non-trivial")
    val baseGraph = graft.core.CacheScope.persist(
      Similarity.knnGraph(base, k = 4))
    val appended = Similarity.appendToGraph(baseGraph, base, batch, cents, k = 4)
    val appendedRows = rws(appended)
    // 1. exactness: the incremental fold equals the full rebuild
    assert(appendedRows == rws(Similarity.knnGraph(embs, k = 4)),
      "append diverged from the rebuild over the union")
    // 2. untouched vertices keep their edge rows verbatim
    val byVertex = appendedRows.groupBy(_.head.asInstanceOf[Long])
    val baseByVertex = rws(baseGraph).groupBy(_.head.asInstanceOf[Long])
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    val changed = baseByVertex.keys.filter(v => byVertex(v) != baseByVertex(v))
    assert(changed.nonEmpty, "fixture too easy: some vertex should be affected")
    // every changed base vertex must have gained at least one batch edge
    // OR been re-ranked by one — i.e. its new rows reference a batch id
    // (an untouched vertex can never change: anti-join passthrough)
    changed.foreach { v =>
      assert(byVertex(v).exists(r => batchIds(r(1).asInstanceOf[Long])),
        s"vertex $v changed without any batch edge — the untouched " +
          "passthrough is broken")
    }
    graft.core.CacheScope.releaseAll()
  }

  test("graphSearch: best-found cosine is monotone in depth; lands in the probe's cluster on the clustered fixture (r15)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // clustered fixture (the production shape): 8 Gaussian clusters
    val rnd = new scala.util.Random(11)
    val dim = 16; val nClust = 8; val perC = 40
    val centers = Array.fill(nClust, dim)(rnd.nextGaussian().toFloat)
    val fix = (0 until nClust).flatMap { c =>
      (0 until perC).map { i =>
        ((i * nClust + c).toLong,
          centers(c).map(x => x + 0.08f * rnd.nextGaussian().toFloat).toSeq, c)
      }
    }.toDF("vec_id", "embedding", "label")
    val g = graft.core.CacheScope.persist(Similarity.knnGraph(fix, k = 4))
    val probes = fix.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val entry = Similarity.seedCentroids(fix, 16).map(_._1)
    def best(rounds: Int): Map[Long, Double] =
      Similarity.graphSearch(fix, g, probes, entry, beam = 10, rounds = rounds)
        .groupBy("probe_id").agg(max("cosine").as("m"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b1 = best(1); val b2 = best(2); val b3 = best(3)
    b1.keys.foreach { p =>
      assert(b2(p) >= b1(p) && b3(p) >= b2(p),
        s"probe $p: best cosine not monotone (${b1(p)}, ${b2(p)}, ${b3(p)})")
    }
    // a probe IS a corpus vector: at depth 3 the walk must have landed
    // in ITS cluster (in-cluster cosines at 0.08σ noise are ≥ ~0.99;
    // cross-cluster are near-random) — the walk may stop one hop short
    // of the exact vector on a k=4 graph, but a wrong-cluster beam
    // would sit far below this gate
    b3.foreach { case (p, m) =>
      assert(m >= 0.98, s"probe $p: walk stuck outside its cluster (best $m)")
    }
    graft.core.CacheScope.releaseAll()
  }

  test("graphSearchClustered: nProbe=all is bit-identical to the full walk; restricted walk still lands in-cluster (r16)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(13)
    val dim = 16; val nClust = 8; val perC = 40
    val centers = Array.fill(nClust, dim)(rnd.nextGaussian().toFloat)
    val fix = (0 until nClust).flatMap { c =>
      (0 until perC).map { i =>
        ((i * nClust + c).toLong,
          centers(c).map(x => x + 0.08f * rnd.nextGaussian().toFloat).toSeq, c)
      }
    }.toDF("vec_id", "embedding", "label")
    val cents = Similarity.seedCentroids(fix, 16)
    val g = Similarity.knnGraph(fix, k = 4)
    val dir = java.nio.file.Files.createTempDirectory("gsc")
    val path = dir.resolve("graph").toString
    Similarity.writeGraphClustered(g,
      Similarity.ivfAssignPortableTo(fix, cents), path)
    val probes = fix.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val entry = cents.map(_._1)
    val stored = spark.read.parquet(path)
    // nProbe = nCentroids probes EVERY cell: the restriction is vacuous
    // and the served walk must be bit-identical to the full walk over
    // the loaded layout — pins the delegation + the persistence
    // round-trip in one assertion
    val full = Similarity.graphSearch(fix, stored.drop("g_cell"), probes,
      entry, beam = 10, rounds = 3).collect().map(_.toSeq).toSeq
    val vacuous = Similarity.graphSearchClustered(fix, stored, probes, cents,
      entry, nProbe = cents.length, beam = 10, rounds = 3)
      .collect().map(_.toSeq).toSeq
    assert(vacuous == full,
      "all-cells clustered walk diverged from the full walk")
    // the REAL restriction (nProbe=4): expansion is cell-local, but on
    // the clustered fixture the probe's own cells hold its cluster —
    // the walk must still land in-cluster
    val restricted = Similarity.graphSearchClustered(fix, stored, probes,
      cents, entry, nProbe = 4, beam = 10, rounds = 3)
    restricted.groupBy("probe_id").agg(max("cosine").as("m"))
      .collect().foreach { r =>
        assert(r.getDouble(1) >= 0.98,
          s"probe ${r.getLong(0)}: restricted walk stuck outside its cluster (best ${r.getDouble(1)})")
      }
    graft.core.CacheScope.releaseAll()
  }

  /** The r16 clustered fixture persisted as a [[Similarity.writeGraphClustered]]
    * layout, plus the gathered walk's edge cases: vertices whose
    * embeddings copy an existing one (score ties, broken by `vec_id`),
    * a zero vector, a NaN component, a null embedding, an edge to an id
    * with no corpus row, and duplicated edges. Only the clean vertices
    * own edges; the edge-case vertices are reached by them. The probes
    * add a zero embedding given as two rows of one probe id, and a null
    * embedding.
    */
  private lazy val gatheredFixture = {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(19)
    val dim = 16; val nClust = 8; val perC = 40
    val centers = Array.fill(nClust, dim)(rnd.nextGaussian().toFloat)
    val clean = (0 until nClust).flatMap { c =>
      (0 until perC).map { i =>
        ((i * nClust + c).toLong,
          centers(c).map(x => x + 0.08f * rnd.nextGaussian().toFloat).toSeq, c)
      }
    }
    val byId = clean.map(r => r._1 -> r._2).toMap
    val dupOf = Seq(3L, 17L, 42L, 100L)
    val edgeCases = dupOf.zipWithIndex.map { case (v, i) => Row(1000L + i, byId(v), 9) } ++
      Seq(Row(1100L, Seq.fill(dim)(0.0f), 9),
        Row(1101L, byId(5L).updated(2, Float.NaN), 9),
        Row(1102L, null, 9))
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false)))
    val base = clean.toDF("vec_id", "embedding", "label")
    val fix = spark.createDataFrame(
      (clean.map { case (v, e, l) => Row(v, e, l) } ++ edgeCases).asJava, schema)
    val cents = Similarity.seedCentroids(base, 16)
    val g = Similarity.knnGraph(base, k = 4)
    val hubs = clean.map(_._1).filter(_ % 10 == 0)
    val extra = (dupOf.zipWithIndex.map { case (v, i) => (v, 1000L + i) } ++
      hubs.flatMap(h => Seq(1100L, 1101L, 1102L, 7777L).map(h -> _)))
      .toDF("probe_id", "vec_id")
      .select(col("probe_id"), col("vec_id"), lit(9).as("label"), lit(0.0).as("cosine"))
    val path = java.nio.file.Files.createTempDirectory("gsc_gathered")
      .resolve("graph").toString
    Similarity.writeGraphClustered(
      g.unionByName(extra).unionByName(g.filter(col("probe_id") % 3 === 0)),
      Similarity.ivfAssignPortableTo(base, cents), path)
    val probes = spark.createDataFrame(
      (clean.filter { case (v, _, _) => v % 37 == 0 || dupOf.contains(v) }
        .map { case (v, e, _) => Row(v, e) } ++
        Seq.fill(2)(Row(5000L, Seq.fill(dim)(0.0f))) :+ Row(5001L, null)).asJava,
      StructType(schema.fields.take(1).map(_.copy(name = "probe_id")) :+ schema.fields(1)))
    (fix, spark.read.parquet(path), probes, cents)
  }

  test("graphSearchClustered: the gathered walk equals graphSearch over the pruned edges row for row (edge cases; both routes)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val (fix, stored, probes, cents) = gatheredFixture
    // a duplicated entry id keeps its duplicate rows (the copies crowd
    // the first beam of the zero and null probes, whose scores all tie,
    // and the zero probe's two rows multiply them); an entry id with no
    // corpus row drops out
    val entry = cents.map(_._1) ++ Seq.fill(3)(cents.head._1) :+ 8888L
    def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d) // bit-exact, NaN-safe
      case x => x
    }).toSeq
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    for (nProbe <- Seq(4, cents.length); batch <- Seq(probes, probes.limit(0));
         threshold <- Seq(None, Some("-1"))) {
      val what = s"nProbe=$nProbe, ${if (batch eq probes) "batch" else "empty batch"}, " +
        s"threshold=${threshold.getOrElse("default")}"
      threshold.foreach(spark.conf.set(thresholdKey, _))
      try {
        val pruned = stored.filter(col("g_cell")
          .isin(Similarity.probeCellIds(batch, cents, nProbe): _*)).drop("g_cell")
        val want = rows(Similarity.graphSearch(fix, pruned, batch, entry,
          beam = 10, rounds = 3))
        val served = Similarity.graphSearchClustered(fix, stored, batch, cents, entry,
          nProbe = nProbe, beam = 10, rounds = 3)
        val gathered = served.queryExecution.analyzed.collectLeaves()
          .forall(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
        assert(gathered == threshold.isEmpty, s"$what: wrong route (gathered: $gathered)")
        assert(rows(served) == want, s"$what: the served walk diverged")
        if (batch eq probes) {
          // the fixture's edge cases reached the compared rows
          val got = served.collect()
          assert(got.exists(r => !r.isNullAt(3) && r.getDouble(3).isNaN), s"$what: no NaN score")
          assert(got.exists(_.isNullAt(3)), s"$what: no null score")
          assert(got.exists(r => r.getLong(1) >= 1000L && r.getLong(1) < 1004L),
            s"$what: no duplicated embedding scored")
        } else assert(want.isEmpty, s"$what: rows for an empty batch")
      } finally if (threshold.nonEmpty) spark.conf.unset(thresholdKey)
    }
    graft.core.CacheScope.releaseAll()
  }

  test("graphSearchClustered: job budget at fixture size (ROADMAP item 5)") {
    val (fix, stored, probes, cents) = gatheredFixture
    // a budget may only go down. The gathered read: the probe batch (a
    // local relation here, so no job), the broadcast of the id relation,
    // the one collect of the pruned edges and reached embeddings, and
    // the collect of the sorted result; the per-round join walk it
    // replaces ran 35 jobs for 12 probes in the vector_maintain benchmark
    val (out, jobs) = jobsRun(Similarity.graphSearchClustered(fix, stored, probes,
      cents, cents.map(_._1), nProbe = 4, beam = 10, rounds = 3).collect())
    info(s"graphSearchClustered: $jobs jobs")
    assert(out.nonEmpty)
    assert(jobs <= 3, s"graphSearchClustered ran $jobs jobs, budget 3")
  }

  test("hnswSearch: geometric layer sizes; the descent lands in the probe's cluster (r16)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(17)
    val dim = 16; val nClust = 8; val perC = 40
    val centers = Array.fill(nClust, dim)(rnd.nextGaussian().toFloat)
    val fix = (0 until nClust).flatMap { c =>
      (0 until perC).map { i =>
        ((i * nClust + c).toLong,
          centers(c).map(x => x + 0.08f * rnd.nextGaussian().toFloat).toSeq, c)
      }
    }.toDF("vec_id", "embedding", "label")
    val layers = Similarity.hnswLayerGraphs(fix, levels = 2, ratio = 4, k = 4)
    // the deterministic id-HASH rule gives geometric layer sizes
    // (~1/4 per level, binomial spread) — and, unlike a raw id
    // residue, cannot alias with the fixture's interleaved cluster
    // ids (vec_id % 16 == 0 here would select ONLY cluster 0)
    val sizes = layers.map(_.select("probe_id").distinct().count())
    assert(sizes(1) >= sizes(0) / 8 && sizes(1) <= sizes(0) * 2 / 5,
      s"layer 1 not geometric: $sizes")
    assert(sizes(2) >= 2 && sizes(2) <= sizes(1) * 3 / 5,
      s"layer 2 not geometric: $sizes")
    val probes = fix.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    // the descent starts at ONE top-layer vertex (not 16 landmarks)
    // and must still land every probe in its own cluster at depth 3
    val out = Similarity.hnswSearch(fix, layers, probes,
      beam = 10, rounds = 3, upperBeam = 4, upperRounds = 2)
    out.groupBy("probe_id").agg(max("cosine").as("m"))
      .collect().foreach { r =>
        assert(r.getDouble(1) >= 0.98,
          s"probe ${r.getLong(0)}: descent stuck outside its cluster (best ${r.getDouble(1)})")
      }
    graft.core.CacheScope.releaseAll()
  }
}
