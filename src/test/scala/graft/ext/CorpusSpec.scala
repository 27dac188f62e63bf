package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class CorpusSpec extends SparkSpec {

  private def docsDF(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src' AS source",
        "length(text) AS n_chars")
  }

  test("writeShards: files + manifest attest exactly the packed corpus; re-run idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val df = docsDF((1L to 12L).map(i => (i, s"tok$i " * i.toInt)))
    val packed = Corpus.packGreedy(df, budgetTokens = 8, shardsPerStratum = 2)
    val manifest = Corpus.writeShards(df, packed, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).toBigInteger)).toSeq
    // every pack is a partition directory; reading back recovers the
    // joined rows exactly (set equality — row order is storage's)
    val expected = df.select("doc_id", "text", "lang")
      .join(packed.select("doc_id", "n_tokens", "pack_id"), Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4))).toSet
    val back = spark.read.parquet(s"$dir/shards")
      .select("doc_id", "text", "lang", "n_tokens", "pack_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4))).toSet
    assert(back == expected, "read-back shards diverge from the packed corpus")
    assert(manifest.map(_._1).toSet ==
      packed.select("pack_id").distinct().collect().map(_.getString(0)).toSet)
    // manifest rows recompute from the files
    manifest.foreach { case (pid, nDocs, nToks, _) =>
      val rows = back.filter(_._5 == pid)
      assert(rows.size.toLong == nDocs, s"$pid n_docs")
      assert(rows.map(_._4).sum == nToks, s"$pid n_tokens")
    }
    // a second run over the same corpus is manifest-idempotent
    // (order-independent checksum: stable under partitioning and order)
    val again = Corpus.writeShards(df, packed, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).toBigInteger)).toSeq
    assert(again == manifest, "re-run changed the manifest")
    // the checksum genuinely covers CONTENT: a corpus differing in one
    // character produces a different checksum for that pack only
    val dir2 = java.nio.file.Files.createTempDirectory("graft-shards2").toString
    val df2 = docsDF((1L to 12L).map(i =>
      (i, if (i == 5L) s"tok${i}X " * i.toInt else s"tok$i " * i.toInt)))
    val m2 = Corpus.writeShards(df2, Corpus.packGreedy(df2, 8, 2), dir2)
      .collect().map(r => (r.getString(0), r.getDecimal(3).toBigInteger)).toMap
    val m1 = manifest.map(t => t._1 -> t._4).toMap
    val doc5Pack = packed.filter("doc_id = 5").collect()(0).getString(3)
    assert(m2(doc5Pack) != m1(doc5Pack), "content change must move the checksum")
    assert(m1.keySet.filter(_ != doc5Pack).forall(p => m2.get(p).contains(m1(p))),
      "unrelated packs must keep their checksums")
  }

  test("writeShards: a re-run with fewer packs under a session-wide dynamic overwrite mode leaves no stale pack") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-dyn").toString
    val df = docsDF((1L to 12L).map(i => (i, s"tok$i " * i.toInt)))
    Corpus.writeShards(df, Corpus.packGreedy(df, 8, 2), dir)
    def packDirs(): Int = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "shards"))
      try s.toArray.count(_.asInstanceOf[java.nio.file.Path].getFileName.toString
        .startsWith("pack_id="))
      finally s.close()
    }
    val packsBefore = packDirs()
    val confKey = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(confKey)
    spark.conf.set(confKey, "dynamic")
    try {
      val fewer = df.filter("doc_id <= 4")
      val packed = Corpus.packGreedy(fewer, 8, 2)
      val manifest = Corpus.writeShards(fewer, packed, dir).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val expected = packed.groupBy("pack_id").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(expected.size < packsBefore, "the re-run must produce fewer packs")
      assert(packDirs() == expected.size, "a vanished pack's directory survived the re-run")
      val onDisk = spark.read.parquet(s"$dir/shards").groupBy("pack_id").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(onDisk == expected && manifest == expected,
        s"shards $onDisk / manifest $manifest diverge from the packed corpus $expected")
      assert(spark.conf.get(confKey) == "dynamic", "writeShards changed the session conf")
    } finally spark.conf.set(confKey, prev)
  }

  test("segmentDedup: keep-first across corpus, reassembly in order, empty drops") {
    val df = docsDF(Seq(
      (1L, "a b c d e"),         // seg0 "a b c", seg1 "d e" — all first
      (2L, "a b c x y z"),       // seg0 dups d1 → only "x y z" survives
      (3L, "a b c"),             // fully duplicated → doc disappears
      (4L, "d e"),               // dups d1's tail segment → disappears
      (5L, "p q r p q r"),       // within-doc dup → one copy kept
      (6L, "m m m a b c q q q")  // middle segment dups d1 → edges rejoin
    ))
    val out = Corpus.segmentDedup(df, segWords = 3)
      .collect().map(r => (r.getLong(0), r.getString(3), r.getLong(4))).toSeq
    assert(out == Seq(
      (1L, "a b c d e", 2L),
      (2L, "x y z", 1L),
      (5L, "p q r", 1L),
      (6L, "m m m q q q", 2L)))
    // lang/source survive reassembly
    val cols = Corpus.segmentDedup(df, segWords = 3).columns.toSeq
    assert(cols == Seq("doc_id", "lang", "source", "text", "n_segs_kept"))
    // keep-first is a min(struct) aggregation, not a window rank over
    // the segment key — a viral segment must never funnel one task
    val plan = Corpus.segmentDedup(df, segWords = 3).queryExecution.optimizedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, "segmentDedup must not rank segments through a window")
    intercept[IllegalArgumentException] { Corpus.segmentDedup(df, segWords = 0) }
  }

  test("sampleByHash: deterministic, content-addressed, monotone in threshold") {
    val df = docsDF((1L to 200L).map(i => (i, s"document number $i with words")))
    val s1 = Corpus.sampleByHash(df, "40").collect().map(_.getLong(0)).toSet
    val s2 = Corpus.sampleByHash(df, "40").collect().map(_.getLong(0)).toSet
    assert(s1 == s2)                       // re-run stable
    assert(s1.nonEmpty && s1.size < 200)   // a real subset at ~25%
    val s3 = Corpus.sampleByHash(df, "80").collect().map(_.getLong(0)).toSet
    assert(s1.subsetOf(s3))                // thresholds nest
  }

  test("assignSplits: total, content-addressed, and stable under corpus growth") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val df = docsDF((1L to 300L).map(i => (i, s"document body number $i")))
    val out = Corpus.assignSplits(df, splits).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out.size == 300)                       // every doc assigned
    val byName = out.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    assert(byName("train") > byName("val") && byName("train") > byName("test"))
    // stable under repartition (content-addressed, not row-order)
    val out2 = Corpus.assignSplits(df.repartition(7), splits).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out == out2)
    // appending new documents never flips an existing assignment — the
    // eval-set-stability property row-number splits lack
    val grown = docsDF((1L to 400L).map(i => (i, s"document body number $i")))
    val out3 = Corpus.assignSplits(grown, splits).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out.forall { case (id, s) => out3(id) == s })
  }

  test("assignSplitsClustered: clusters co-split; pairless corpus degrades to assignSplits") {
    import spark.implicits._
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val df = docsDF((1L to 120L).map(i => (i, s"document body number $i")))
    // chain 1~2~3 and pair 10~11: both components must be uniform, and
    // every member must wear its REPRESENTATIVE's (min id) own split
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_id_a", "doc_id_b")
    val plain = Corpus.assignSplits(df, splits).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val out = Corpus.assignSplitsClustered(df, pairs, splits).collect()
      .map(r => (r.getLong(0), (r.getLong(3), r.getString(4)))).toMap
    assert(out.size == 120)
    assert(Seq(1L, 2L, 3L).map(out(_)).distinct == Seq((1L, plain(1L))))
    assert(Seq(10L, 11L).map(out(_)).distinct == Seq((10L, plain(10L))))
    // singletons: own cluster, own content-addressed split — identical
    // to the plain path (the no-near-dups degradation guarantee)
    val clustered = Set(1L, 2L, 3L, 10L, 11L)
    assert(out.filterNot(kv => clustered(kv._1))
      .forall { case (id, (cid, s)) => cid == id && s == plain(id) })
  }

  test("assignSplits rejects malformed split specs") {
    val df = docsDF(Seq((1L, "a doc")))
    intercept[IllegalArgumentException] {
      Corpus.assignSplits(df, Seq("train" -> 0.9, "val" -> 0.2))   // sum > 1
    }
    intercept[IllegalArgumentException] {
      Corpus.assignSplits(df, Seq("train" -> 0.5, "train" -> 0.5)) // dup name
    }
    intercept[IllegalArgumentException] {
      Corpus.assignSplits(df, Seq("all" -> 1.0))                   // one split
    }
  }

  test("sampleStratified keeps ⌈frac·n⌉ docs per stratum, content-stable") {
    import spark.implicits._
    // skewed strata: 100 'en', 10 'fr' — a flat hash sample could
    // easily take 0 or 3 'fr' docs; stratified takes exactly ⌈2⌉
    val rows = (1L to 100L).map(i => (i, s"english document $i", "en")) ++
      (101L to 110L).map(i => (i, s"french document $i", "fr"))
    val df = rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "length(text) AS n_chars")
    val out = Corpus.sampleStratified(df, frac = 0.2).collect()
    val byLang = out.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byLang == Map("en" -> 20, "fr" -> 2), s"got $byLang")
    // content-addressed: stable under repartition
    val out2 = Corpus.sampleStratified(df.repartition(7), frac = 0.2)
      .collect().map(_.getLong(0)).toSet
    assert(out.map(_.getLong(0)).toSet == out2)
  }

  test("sampleStratified: bucket refinement agrees with the direct window rank") {
    import spark.implicits._
    // duplicate texts across ids exercise md5 ties (broken by doc_id);
    // a 1-doc stratum exercises the ceil ≥ 1 floor
    val rows = (1L to 100L).map(i => (i, s"english doc ${i % 40}", "en")) ++
      (101L to 110L).map(i => (i, s"french doc $i", "fr")) ++
      Seq((200L, "lone doc", "xx"))
    val df = rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "length(text) AS n_chars")
    df.createOrReplaceTempView("strat_t")
    for (frac <- Seq(0.2, 1.0)) {
      val ref = spark.sql(
        s"""SELECT doc_id FROM (
           |  SELECT doc_id,
           |    row_number() OVER (PARTITION BY lang
           |      ORDER BY md5(encode(text, 'UTF-8')), doc_id) AS rn,
           |    count(*) OVER (PARTITION BY lang) AS n
           |  FROM strat_t)
           |WHERE rn <= ceil(n * $frac)""".stripMargin)
        .collect().map(_.getLong(0)).toSet
      val got = Corpus.sampleStratified(df, frac = frac)
        .collect().map(_.getLong(0)).toSet
      graft.core.CacheScope.releaseAll()
      assert(got == ref, s"frac=$frac: diff=${(got diff ref) ++ (ref diff got)}")
    }
  }

  test("sampleStratified: NULL stratum is its own stratum, not silently dropped") {
    import spark.implicits._
    val rows = (1L to 50L).map(i => (i, s"doc body $i", "en")) ++
      (51L to 60L).map(i => (i, s"orphan doc $i", null.asInstanceOf[String]))
    val df = rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "length(text) AS n_chars")
    val out = Corpus.sampleStratified(df, frac = 0.2).collect()
    graft.core.CacheScope.releaseAll()
    val byLang = out.groupBy(r => Option(r.getString(2)))
      .view.mapValues(_.length).toMap
    // ceil(50·0.2)=10 en, ceil(10·0.2)=2 from the NULL stratum — the
    // null-unsafe-join failure mode would sample 0 of the orphans
    assert(byLang == Map(Some("en") -> 10, None -> 2), s"got $byLang")
  }

  test("sampleStratified plans no window partitioned by the stratum alone") {
    import spark.implicits._
    val df = (1L to 50L).map(i => (i, s"doc $i", s"l${i % 3}"))
      .toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "length(text) AS n_chars")
    val out = Corpus.sampleStratified(df, frac = 0.3)
    val winParts = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.size
    }
    graft.core.CacheScope.releaseAll()
    // the only window is the residual rank over (stratum, bucket) — a
    // stratum-only partition would funnel ~1/|strata| of the corpus
    // through one task at scale
    assert(winParts.nonEmpty && winParts.forall(_ >= 2),
      s"window partition arities: $winParts")
  }

  test("sampleTemperature: integer √-quotas flatten skew, content-stable") {
    import spark.implicits._
    // 400 en / 25 fr / 4 xx: proportional 50% would take 200/12/2;
    // α=0.5 quotas are B·w_l/W with w = ⌊√n⌋ = 20/5/2 → B = 214,
    // k = (214·20)//27=158, (214·5)//27=39→min(25), (214·2)//27=15→min(4)
    val rows = (1L to 400L).map(i => (i, s"english document $i", "en")) ++
      (401L to 425L).map(i => (i, s"french document $i", "fr")) ++
      (426L to 429L).map(i => (i, s"rare document $i", "xx"))
    val df = rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "length(text) AS n_chars")
    val out = Corpus.sampleTemperature(df, budgetPct = 50).collect()
    graft.core.CacheScope.releaseAll()
    val byLang = out.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byLang == Map("en" -> 158, "fr" -> 25, "xx" -> 4), s"got $byLang")
    // the temperature point: low-resource languages keep a LARGER
    // fraction than high-resource ones (here: capped at 100%)
    assert(byLang("fr") * 400 > byLang("en") * 25,
      "fr keep-rate must exceed en keep-rate")
    // content-addressed: stable under repartition
    val out2 = Corpus.sampleTemperature(df.repartition(7), budgetPct = 50)
      .collect().map(_.getLong(0)).toSet
    graft.core.CacheScope.releaseAll()
    assert(out.map(_.getLong(0)).toSet == out2)
    // within-language pick = the stratified (md5, doc_id) order rule
    df.createOrReplaceTempView("temp_t")
    val ref = spark.sql(
      """SELECT doc_id FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(encode(text, 'UTF-8')), doc_id) AS rn
        |  FROM temp_t)
        |WHERE (lang = 'en' AND rn <= 158) OR (lang = 'fr' AND rn <= 25)
        |   OR (lang = 'xx' AND rn <= 4)""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(out.map(_.getLong(0)).toSet == ref)
  }

  test("shuffleBlocks: epochs permute the identical block set differently, deterministically (r14)") {
    val d = graft.io.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    def run(epoch: Long) = {
      val out = Corpus.shuffleBlocks(d, epoch = epoch).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      graft.core.CacheScope.releaseAll()
      out
    }
    val e0 = run(0L); val e1 = run(1L); val e1b = run(1L)
    // identical block SET (ids + per-block doc/token counts) every epoch
    def blockSet(x: Seq[(Long, Long, Long, Long, Long)]) =
      x.map(t => (t._1, t._2, t._3)).toSet
    assert(blockSet(e0.toSeq) == blockSet(e1.toSeq))
    // epoch is deterministic (restart-reproducible)...
    assert(e1.toSeq == e1b.toSeq)
    // ...but a DIFFERENT permutation from epoch 0 (shard or pos moves)
    val m0 = e0.map(t => t._1 -> ((t._4, t._5))).toMap
    assert(e1.exists(t => m0(t._1) != ((t._4, t._5))),
      "epoch 1 must permute differently from epoch 0")
    // salted replay: epoch 1 keys are hash64("blk:e1:" + id)
    val keyed = e1.map(t => (t._1, graft.functions.Hashing.hash64(s"blk:e1:${t._1}") & Long.MaxValue))
    val want = keyed.groupBy(_._2 % 8).toSeq.flatMap { case (shard, ms) =>
      ms.sortBy { case (bid, k) => (k, bid) }.zipWithIndex
        .map { case ((bid, _), i) => bid -> ((shard, i.toLong)) }
    }.toMap
    e1.foreach { case (bid, _, _, shard, pos) =>
      assert(want(bid) == ((shard, pos)), s"block $bid epoch-1 placement")
    }
  }

  test("curriculumOrder: same block set and shards as the hash shuffle; per-shard order is quality-descending (r14)") {
    val d = graft.io.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val cur = Corpus.curriculumOrder(d).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))) // (shard, pos, block_id, n_docs, n_tokens, q_mass)
    val shuffled = Corpus.shuffleBlocks(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    graft.core.CacheScope.releaseAll()
    assert(cur.nonEmpty)
    // identical block set with identical totals and identical shard
    // assignment — the curriculum only changes the order WITHIN a shard
    val curBlocks = cur.map { case (sh, _, bid, nd, nt, _) => (bid, nd, nt, sh) }.sorted
    val shufBlocks = shuffled.map { case (bid, nd, nt, sh) => (bid, nd, nt, sh) }.sorted
    assert(curBlocks.toSeq == shufBlocks.toSeq,
      "curriculum changed the block set or shard assignment")
    // per-shard: positions dense, mean quality non-increasing with pos
    cur.groupBy(_._1).foreach { case (sh, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (0L until rows.length).toSeq,
        s"shard $sh positions not dense")
      val byPos = rows.sortBy(_._2)
      val means = byPos.map { case (_, _, _, _, nt, qm) => qm.toDouble / nt }
      assert(means.zip(means.tail).forall { case (a, b) => a >= b },
        s"shard $sh not quality-descending")
      // tie-break: equal means order by block_id ascending
      byPos.sliding(2).foreach {
        case Array(a, b) =>
          val (ma, mb) = (a._6.toDouble / a._5, b._6.toDouble / b._5)
          if (ma == mb) assert(a._3 < b._3, s"shard $sh tie not by block_id")
        case _ => ()
      }
    }
    // q_mass replay: token-weighted sum of the per-doc scaled quality
    val q = TextStats.qualityScore(d).collect()
      .map(r => r.getLong(0) -> math.round(r.getDouble(4) * 10000)).toMap
    val pack = Corpus.packSequences(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    graft.core.CacheScope.releaseAll()
    val wantMass = pack.groupBy(_._2).view
      .mapValues(_.map { case (did, _, nt) => q(did) * nt }.sum).toMap
    cur.foreach { case (_, _, bid, _, _, qm) =>
      assert(wantMass(bid) == qm, s"block $bid q_mass drifted")
    }
  }

  test("shuffleBlocks: bucket-refined rank equals the direct per-shard window rank") {
    val d = graft.io.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val got = Corpus.shuffleBlocks(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    graft.core.CacheScope.releaseAll()
    assert(got.nonEmpty)
    // driver replay: same hash key, mask, shard, dense (k, block_id) rank
    val blocks = got.map { case (bid, nd, nt, _, _) => (bid, nd, nt) }
    val keyed = blocks.map { case (bid, nd, nt) =>
      val k = graft.functions.Hashing.hash64(s"blk:$bid") & Long.MaxValue
      (bid, nd, nt, k % 8, k)
    }
    val want = keyed.groupBy(_._4).toSeq.flatMap { case (shard, members) =>
      members.sortBy { case (bid, _, _, _, k) => (k, bid) }
        .zipWithIndex.map { case ((bid, _, _, _, _), i) =>
          bid -> ((shard, i.toLong))
        }
    }.toMap
    got.foreach { case (bid, _, _, shard, pos) =>
      val (wShard, wPos) = want(bid)
      assert(shard == wShard && pos == wPos,
        s"block $bid: got ($shard,$pos) want ($wShard,$wPos)")
    }
    // positions are dense 0..n-1 within each shard
    got.groupBy(_._4).foreach { case (s, rows) =>
      assert(rows.map(_._5).sorted.toSeq == (0L until rows.length).toSeq,
        s"shard $s positions not dense")
    }
    // the shuffle's reason to exist: block order decorrelates from
    // block_id order in at least one shard
    assert(got.groupBy(_._4).exists { case (_, rows) =>
      val byPos = rows.sortBy(_._5).map(_._1)
      byPos != byPos.sorted
    }, "permutation is the identity — hash order degenerate")
    // block totals equal the pack map's
    val pack = Corpus.packSequences(d).collect()
      .map(r => (r.getLong(1), r.getLong(3)))
    graft.core.CacheScope.releaseAll()
    val wantTotals = pack.groupBy(_._1).view
      .mapValues(v => (v.length.toLong, v.map(_._2).sum)).toMap
    blocks.foreach { case (bid, nd, nt) =>
      assert(wantTotals(bid) == ((nd, nt)), s"block $bid totals drifted")
    }
  }

  test("mixtureSchedule: stride keys replayed; prefixes hold the weight proportions") {
    import spark.implicits._
    // 3 langs, enough docs that each (lang, shard=1) stream packs
    // several packs; weights 2/1/0 exercise upsample, default, drop
    val rows = (1L to 60L).map(i => (i, ("w " * 40).trim, "aa")) ++
      (61L to 120L).map(i => (i, ("w " * 40).trim, "bb")) ++
      (121L to 150L).map(i => (i, ("w " * 40).trim, "cc"))
    val df = rows.toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "length(text) AS n_chars")
    val weights = Seq("aa" -> 2.0, "cc" -> 0.0)
    val got = Corpus.mixtureSchedule(df, weights, defaultWeight = 1.0,
      budgetTokens = 100, shardsPerStratum = 1).collect()
      .map(r => (r.getDouble(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    assert(!got.exists(_._2 == "cc"), "weight-0 language must drop")
    // driver replay of the virtual-time key from the pack map
    val packs = Corpus.packGreedy(df, budgetTokens = 100, shardsPerStratum = 1)
      .collect().map(r => (r.getString(1), r.getString(3), r.getLong(2)))
    val want = packs.groupBy(p => (p._1, p._2)).toSeq.map { case ((lang, pid), ms) =>
      val seq = pid.split("#")(2).toLong
      val w = if (lang == "aa") 2.0 else 1.0
      ((seq * 2 + 1) * 1 / (w * 2), lang, pid, ms.length.toLong, ms.map(_._3).sum)
    }.filter(_._2 != "cc").sortBy(t => (t._1, t._2, t._3))
    assert(got.toSeq == want, s"schedule drifted:\n${got.toSeq}\nvs\n$want")
    // the stride property: in every prefix ending at a key boundary,
    // lang 'aa' (w=2) has placed ~2x the packs of 'bb' (w=1)
    val firstHalf = got.takeWhile(_._1 < got(got.length / 2)._1)
    val aaN = firstHalf.count(_._2 == "aa").toDouble
    val bbN = firstHalf.count(_._2 == "bb").toDouble
    assert(bbN > 0 && aaN / bbN >= 1.5 && aaN / bbN <= 2.5,
      s"prefix proportions off: aa=$aaN bb=$bbN")
  }

  test("capPerSource keeps the lowest maxDocs ids per source") {
    import spark.implicits._
    val rows = (1L to 30L).map(i => (i, s"doc $i", if (i % 3 == 0) "big" else "small"))
    val df = rows.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "length(text) AS n_chars")
    val out = Corpus.capPerSource(df, maxDocs = 5).collect()
    val bySrc = out.groupBy(_.getString(3)).view
      .mapValues(_.map(_.getLong(0)).sorted.toSeq).toMap
    assert(bySrc("big") == Seq(3L, 6L, 9L, 12L, 15L))      // lowest 5 of 10
    assert(bySrc("small").size == 5 && bySrc("small").head == 1L)
  }

  test("decontaminate drops docs sharing an 8-gram with the benchmark, keeps the rest") {
    val shared = (1 to 8).map(i => s"s$i").mkString(" ") // one full 8-gram
    val corpus = docsDF(Seq(
      (1L, s"prefix words here $shared trailing bits"),  // contains the 8-gram
      (2L, "completely clean document with its own eight word run here"),
      (3L, shared),                                       // exactly the benchmark text
      (4L, "short doc")))                                 // < 8 words, no match
    val bench = docsDF(Seq((100L, s"unrelated lead in $shared and more")))
    val out = Corpus.decontaminate(corpus, bench).collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 4L), s"got $out")
  }

  test("decontaminateBloom: identical verdicts to the exact plan; probe genuinely prunes") {
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val corpus = docsDF(Seq(
      (1L, s"prefix words here $shared trailing bits"),
      (2L, "completely clean document with its own eight word run here"),
      (3L, shared),
      (4L, "short doc")))
    val bench = docsDF(Seq((100L, s"unrelated lead in $shared and more")))
    val exact = Corpus.decontaminate(corpus, bench).collect().map(_.getLong(0)).toSet
    val bloom = Corpus.decontaminateBloom(corpus, bench).collect().map(_.getLong(0)).toSet
    assert(bloom == exact, s"bloom plan diverged: $bloom vs $exact")
    assert(exact == Set(2L, 4L))
    // equality must also hold on the bigger fixture corpus (real gram
    // volume through the bitmap, not 4 crafted docs)
    val d = graft.io.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val dCorp = d.filter("doc_id % 97 <> 0")
    val dBench = d.filter("doc_id % 97 = 0")
    val e2 = Corpus.decontaminate(dCorp, dBench).collect().map(_.getLong(0)).toSet
    val b2 = Corpus.decontaminateBloom(dCorp, dBench).collect().map(_.getLong(0)).toSet
    assert(b2 == e2 && e2.nonEmpty)
    // the point of the bloom pass: most docs are cleared WITHOUT the
    // confirm join — the suspicious sliver is far smaller than the corpus
    import graft.functions.GraftFunctions.{bloomAny, bloomPositions, ngramHashes}
    val mBits = 1 << 20
    val words = dBench.select(org.apache.spark.sql.functions.explode(
        bloomPositions(ngramHashes(org.apache.spark.sql.functions.col("text"), 8),
          2, mBits)).as("p"))
      .selectExpr("CAST(p / 64 AS BIGINT) AS widx",
        "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)) AS bit")
      .groupBy("widx").agg(org.apache.spark.sql.functions.bit_or(
        org.apache.spark.sql.functions.col("bit")).as("word"))
      .collect()
    val bits = new Array[Long](mBits / 64)
    words.foreach(r => bits(r.getLong(0).toInt) = r.getLong(1))
    val nSusp = dCorp.filter(bloomAny(
      ngramHashes(org.apache.spark.sql.functions.col("text"), 8),
      bits, 2, mBits)).count()
    val nCorp = dCorp.count()
    val nDropped = nCorp - e2.size
    assert(nSusp >= nDropped, "bloom must never miss a true hit")
    assert(nSusp < nCorp / 2,
      s"bloom prunes nothing: $nSusp suspicious of $nCorp")
  }

  test("contaminationScore: exact gram fractions, zero rows kept, filter agreement") {
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val corpus = docsDF(Seq(
      // 11 words → 4 distinct 8-grams, exactly 1 of them benchmark-shared
      (1L, s"p1 p2 p3 $shared"),
      (2L, "completely clean document with its own eight word run here"),
      (3L, shared),                                       // 1 gram, 1 hit
      (4L, "short doc")))                                 // whole-text gram, no hit
    val bench = docsDF(Seq((100L, s"unrelated lead in $shared and more")))
    val got = Corpus.contaminationScore(corpus, bench)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 1L, 0.25)))
    assert(got(2L)._2 == 0L && got(2L)._3 == 0.0)
    assert(got(3L) == ((1L, 1L, 1.0)))
    assert(got(4L) == ((1L, 0L, 0.0)))
    // the score grades exactly what decontaminate filters: hits > 0 ⇔ dropped
    val dropped = got.filter(_._2._2 > 0).keySet
    val kept = Corpus.decontaminate(corpus, bench).collect().map(_.getLong(0)).toSet
    assert(dropped == got.keySet -- kept)
  }

  test("sampleByQuality: survival is score-proportional and content-addressed") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog, and then the dog " +
      "sleeps in the warm sun. a second sentence keeps the prose natural."
    // all three score components zero: no stopwords, avg word length
    // below 3, punctuation ratio far above 0.1
    val junk = "!! !! !!"
    val rows = (1L to 40L).map(i => (i, good + s" tail $i", "en", "src")) ++
      (41L to 80L).map(i => (i, junk + s" $i", "en", "src"))
    val df = rows.toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source", "length(text) AS n_chars")
    val out = Corpus.sampleByQuality(df).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    // every survivor carries its score; junk (score 0) can never survive
    assert(out.forall { case (id, q) => q > 0.0 || id < 0 })
    assert(out.count(_._1 > 40L) == 0, "score-0 junk must never survive")
    // high-quality docs (score ~1) survive almost surely
    assert(out.count(_._1 <= 40L) >= 35, s"got ${out.length}")
    // deterministic: a second evaluation returns the identical set
    val again = Corpus.sampleByQuality(df).collect().map(_.getLong(0)).toSeq
    assert(again == out.map(_._1).toSeq)
  }

  test("packEfficiency: rollup agrees with the packing it reports on") {
    val doc = (id: Long, n: Int) => (id, (1 to n).map(_ => "w").mkString(" "))
    // two langs via alternating ids is not available from docsDF (fixed
    // lang); a small real-shaped frame:
    import spark.implicits._
    val df = Seq(
      (1L, doc(1L, 300)._2, "en"), (2L, doc(2L, 300)._2, "en"),
      (3L, doc(3L, 700)._2, "en"),                       // overflows one bin alone
      (4L, doc(4L, 100)._2, "fr"))
      .toDF("doc_id", "text", "lang")
      .selectExpr("doc_id", "text", "lang", "'src' AS source",
        "length(text) AS n_chars")
    val packed = Corpus.packGreedy(df, budgetTokens = 512, shardsPerStratum = 2)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getString(3)))
    val out = Corpus.packEfficiency(df, budgetTokens = 512, shardsPerStratum = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    val enBins = packed.filter(_._1 == "en").map(_._3).distinct.length
    val enToks = packed.filter(_._1 == "en").map(_._2).sum
    assert(out("en")._1 == enBins && out("en")._3 == enToks)
    assert(out("en")._2 == 3L && out("fr")._2 == 1L)
    // the 700-token doc overflows its bin: max_bin_tokens > budget
    assert(out("en")._4 >= 700L)
    val fill = out("en")._5
    assert(math.abs(fill - enToks.toDouble / (enBins * 512L)) < 1e-4 + 1e-9)
  }

  test("curateFull: every stage fires - quality, dedup, decon, cap") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog, and then the dog " +
      "sleeps in the warm sun. a second sentence keeps the prose natural."
    val leak = (1 to 8).map(i => s"s$i").mkString(" ")
    val rows =
      Seq((1L, good, "a"), (2L, good, "a"),                // dup of 1
        (3L, s"intro words then the $leak and a tail", "a"), // contaminated
        (4L, "zzz 1 2 3 4 5 6 7 8 9 0", "a")) ++           // junk quality
      (10L to 20L).map(i => (i, good + s" unique tail $i of the document", "b"))
    val df = rows.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "length(text) AS n_chars")
    val bench = Seq((100L, s"benchmark doc holding $leak inside", "x"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "length(text) AS n_chars")
    val out = Corpus.curateFull(df, bench, maxPerSource = 5)
      .collect().map(_.getLong(0)).toSet
    assert(!out.contains(2L), "dup survived")
    assert(!out.contains(3L), "contaminated doc survived")
    assert(!out.contains(4L), "junk-quality doc survived")
    assert(out.contains(1L))
    // source b had 11 candidates, cap 5 keeps the lowest ids
    assert(out.filter(_ >= 10L) == Set(10L, 11L, 12L, 13L, 14L))
  }

  test("redactPii scrubs emails and long digit runs, keeps short numbers") {
    val df = docsDF(Seq(
      (1L, "contact me at jane.doe+spam@example.co.uk or call 5551234567"),
      (2L, "version 2 has 42 fixes"),
      (3L, "ids 123456 and 99999 differ")))
    val out = Corpus.redactPii(df).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "contact me at <EMAIL> or call <NUM>")
    assert(out(2L) == "version 2 has 42 fixes")           // short digits kept
    assert(out(3L) == "ids <NUM> and 99999 differ")       // 6+ only
  }

  test("chunkDocuments: overlapping windows cover every word; short doc = 1 chunk") {
    val words120 = (1 to 120).map(i => s"w$i").mkString(" ")
    val df = docsDF(Seq((1L, words120), (2L, "tiny doc"), (3L, "")))
    val out = Corpus.chunkDocuments(df, chunkWords = 50, overlapWords = 10).collect()
    val doc1 = out.filter(_.getLong(0) == 1L)
    assert(doc1.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L)) // starts 1,41,81
    assert(doc1.head.getString(2).startsWith("w1 w2 "))
    assert(doc1.head.getLong(3) == 50)
    assert(doc1(1).getString(2).startsWith("w41 ")) // 10-word overlap
    assert(doc1(2).getLong(3) == 40)                // tail chunk 81..120
    assert(out.filter(_.getLong(0) == 2L).map(_.getString(2)).toSeq == Seq("tiny doc"))
    assert(out.count(_.getLong(0) == 3L) == 1)      // empty doc: one chunk
  }

  test("curate pipeline: redacts, filters quality, dedups, samples") {
    val prose = "the quick brown fox and the lazy dog are in a field of green grass"
    val df = docsDF(Seq(
      (1L, prose + " call 1234567"),
      (2L, prose + " call 7654321"),   // redacts to a DIFFERENT clean text
      (3L, prose + " CALL   1234567"), // dup of 1 after redact+normalize
      (4L, "!!!???...;;;:::!!!???...;;;:::")))  // junk: fails quality
    val out = Corpus.curate(df, minQuality = 0.5, sampleHexThreshold = "ff")
      .collect()
    val ids = out.map(_.getLong(0)).toSet
    assert(!ids.contains(4L))          // junk filtered
    assert(!ids.contains(3L))          // dedup kept lowest id (1)
    assert(ids.contains(1L))
    assert(out.forall(_.getString(2).contains("<NUM>"))) // redaction applied
    assert(out.forall(_.getDouble(3) >= 0.5))
    // sampling: a tight threshold keeps a strict subset
    val sampled = Corpus.curate(df, minQuality = 0.5, sampleHexThreshold = "40")
      .collect().map(_.getLong(0)).toSet
    assert(sampled.subsetOf(ids))
  }

  test("packGreedy: packs fill to budget in doc_id order per shard") {
    import spark.implicits._
    // 5 docs of 200 tokens each → budget 512 → packs 0,0,0,1,1 by cum
    val text200 = (1 to 200).map(i => s"t$i").mkString(" ")
    val df = (1L to 5L).map(i => (i, text200)).toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source",
        "length(text) AS n_chars")
    val out = Corpus.packGreedy(df, budgetTokens = 512, shardsPerStratum = 1)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // cum-before: 0,200,400,600,800 → bins 0,0,0,1,1 (single shard 0)
    assert(out == Map(1L -> "en#0#0", 2L -> "en#0#0", 3L -> "en#0#0",
      4L -> "en#0#1", 5L -> "en#0#1"))
    // every doc appears exactly once
    assert(Corpus.packGreedy(df).count() == 5)
  }

  test("packGreedy: shard count scales with shardsPerStratum, not |lang|") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, "a few short words here"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source",
        "length(text) AS n_chars")
    val out = Corpus.packGreedy(df, budgetTokens = 16, shardsPerStratum = 8)
    // pack_id = lang#shard#bin → 8 distinct shards for ONE lang: no
    // metadata-cardinality ceiling on window parallelism
    val shards = out.collect()
      .map(_.getString(3).split("#")(1)).distinct
    assert(shards.length == 8, s"got ${shards.length} shards")
    // window partitions by (lang, shard), never lang alone
    val winParts = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.size
    }
    assert(winParts.nonEmpty && winParts.forall(_ >= 2),
      s"window partition arities: $winParts")
    // packing stays contiguous within a shard: doc 9 follows doc 1 in
    // shard 1 (both 5 tokens, budget 16 → same first pack), doc 25 opens
    // pack 1 of that shard (cum-before 15 → bin 0... cum 20 → next doc 33 bin 1)
    val byDoc = out.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(byDoc(1L) == "en#1#0" && byDoc(9L) == "en#1#0")
    assert(byDoc(33L) == "en#1#1") // cum-before 20 ≥ budget 16
  }

  test("sampleMixture: integer copies exact, fractional content-addressed, 0 drops") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, s"document body number $i with some words", s"s${i % 4}", "en", 30L))
      .toDF("doc_id", "text", "source", "lang", "n_chars")
    val out = Corpus.sampleMixture(docs,
      Seq("s0" -> 2.0, "s1" -> 0.5, "s2" -> 0.0), defaultWeight = 1.0)
    val bySource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("s0") == 20L)          // exactly 2 copies each
    assert(!bySource.contains("s2"))       // weight 0 drops the source
    assert(bySource("s3") == 10L)          // default weight: 1 copy each
    assert(bySource.getOrElse("s1", 0L) < 10L) // strict downsample
    // copy_idx enumerates copies 0..k-1 per doc
    val s0 = out.filter($"source" === "s0").groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.collect_set("copy_idx").as("idx"))
      .collect()
    assert(s0.forall(
      _.getAs[scala.collection.Seq[Long]]("idx").toSet == Set(0L, 1L)))
    // deterministic: two runs produce identical rows
    val again = Corpus.sampleMixture(docs,
      Seq("s0" -> 2.0, "s1" -> 0.5, "s2" -> 0.0)).collect()
    assert(again.sameElements(out.collect()))
    // fractional threshold encoding is exact at the boundaries
    assert(Corpus.fracThresholdHex(0.0) == "00000000")
    assert(Corpus.fracThresholdHex(0.5) == "80000000")
    // duplicate sources would resolve last-wins in the cascade but
    // first-wins in a SQL CASE — rejected up front; so is a negative
    // default (it would silently drop every unlisted source)
    intercept[IllegalArgumentException] {
      Corpus.sampleMixture(docs, Seq("s0" -> 1.0, "s0" -> 2.0))
    }
    intercept[IllegalArgumentException] {
      Corpus.sampleMixture(docs, Seq("s0" -> 1.0), defaultWeight = -1.0)
    }
  }

  test("selectBudgetBpe: same greedy rule, costs are the trained BPE counts") {
    val real = graft.io.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val budget = 23000L // ~the ws spec's 5000 restated in BPE symbols
    val sel = Corpus.selectBudgetBpe(real, budget).collect()
      .map(r => (r.getLong(0), r.getLong(4)))
    assert(sel.nonEmpty)
    // reference: the SAME global greedy, priced by bpeEncode
    val all = TextStats.qualityScore(real)
      .select("doc_id", "quality_score")
      .join(Bpe.bpeEncode(real).select("doc_id", "bpe_tokens"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy { case (id, q, _) => (-q, id) }
    var cum = 0L
    val want = scala.collection.mutable.ArrayBuffer.empty[Long]
    for ((id, _, t) <- all) { if (cum < budget) want += id; cum += t }
    assert(sel.map(_._1).toSet == want.toSet,
      s"selection mismatch: got ${sel.length}, want ${want.size}")
    // BPE pricing genuinely differs from the ws proxy: the same budget
    // NUMBER under ws pricing keeps a different (larger) set
    val wsSel = Corpus.selectBudget(real, budget).collect().map(_.getLong(0)).toSet
    assert(wsSel != sel.map(_._1).toSet,
      "BPE-priced selection must diverge from ws-priced at the same budget")
    graft.core.CacheScope.releaseAll()
  }

  test("selectBudget: greedy quality-desc prefix, boundary by doc_id, exact budget rule") {
    val real = graft.io.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val budget = 5000L
    val sel = Corpus.selectBudget(real, budget).collect()
      .map(r => (r.getLong(0), r.getDouble(3), r.getLong(4)))
    assert(sel.nonEmpty)
    // reference: global greedy over (score desc, doc_id asc) — keep a
    // doc iff the running total BEFORE it is under budget
    val all = TextStats.qualityScore(real)
      .select("doc_id", "quality_score")
      .join(real.select(real("doc_id"),
        TextStats.wsTokenCount(real("text")).as("n_tokens")), "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy { case (id, q, _) => (-q, id) }
    var cum = 0L
    val want = scala.collection.mutable.ArrayBuffer.empty[Long]
    for ((id, _, t) <- all) { if (cum < budget) want += id; cum += t }
    assert(sel.map(_._1).toSet == want.toSet,
      s"selection mismatch: got ${sel.length}, want ${want.size}")
    // the boundary branch actually ran: selection is neither empty nor
    // the whole corpus, and total tokens land in (budget, budget + max)
    assert(sel.length < all.length)
    val total = sel.map(_._3).sum
    assert(total >= budget, s"greedy prefix must cross the budget: $total")
    assert(total - sel.map(_._3).max <= budget,
      "removing the last-added doc must drop back under budget")
    // determinism under re-partitioning
    val again = Corpus.selectBudget(real.repartition(7), budget).collect()
      .map(_.getLong(0))
    assert(again.sameElements(sel.map(_._1)))
    // zero budget selects nothing
    assert(Corpus.selectBudget(real, 0L).count() == 0L)
  }

  test("packSequences: exact driver replay, block tiling, partition independence") {
    // mixed sizes incl. a doc far longer than the block (multi-block
    // span) and a no-letter doc (occupies no space, emits no rows)
    val df = docsDF(Seq(
      (1L, "alpha beta gamma delta " * 3),
      (2L, "epsilon zeta " * 40), // >> L tokens after BPE: spans blocks
      (3L, "123 456 !!"), // zero letter-run tokens
      (4L, "eta theta iota kappa lambda " * 7),
      (5L, "mu nu xi")))
    val L = 32
    val got = Corpus.packSequences(df, blockTokens = L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

    // driver replay from the same encode counts
    val counts = Bpe.bpeEncode(df).collect()
      .map(r => (r.getLong(0), r.getLong(2))).filter(_._2 > 0).sortBy(_._1)
    var off = 0L
    val want = counts.flatMap { case (id, c) =>
      val rows = ((off / L) to ((off + c - 1) / L)).map { b =>
        val s = math.max(off, b * L); val e = math.min(off + c, (b + 1) * L)
        (id, b, s - b * L, e - s)
      }
      off += c
      rows
    }.toSeq
    assert(got == want, s"engine diverges from the sequential replay:\n$got\n$want")
    assert(!got.exists(_._1 == 3L), "zero-token doc must emit no rows")
    assert(got.groupBy(_._1).exists(_._2.size > 1), "a doc must span blocks")
    // tiling: every block except the last is exactly full, and segments
    // within a block abut (off_in_block picks up where the last ended)
    val lastBlock = got.map(_._2).max
    got.groupBy(_._2).foreach { case (b, segs) =>
      val fill = segs.map(_._4).sum
      if (b < lastBlock) assert(fill == L, s"block $b fill $fill != $L")
      val sorted = segs.sortBy(_._3)
      sorted.zip(sorted.tail).foreach { case (a, nx) =>
        assert(a._3 + a._4 == nx._3, s"gap inside block $b")
      }
    }
    // per-doc conservation: segments sum to the doc's token count
    counts.foreach { case (id, c) =>
      assert(got.filter(_._1 == id).map(_._4).sum == c, s"doc $id tokens")
    }
    // physical-layout independence: a different input partitioning
    // must not move any offset (the two-level scan is a pure function)
    val again = Corpus.packSequences(df.repartition(7), blockTokens = L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(again == got)
  }

  test("verifyShards: clean root passes; missing/tampered/unexpected packs are named") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-v").toString
    val df = docsDF((1L to 12L).map(i => (i, s"tok$i " * i.toInt)))
    val packed = Corpus.packGreedy(df, budgetTokens = 8, shardsPerStratum = 2)
    Corpus.writeShards(df, packed, dir)
    // a just-written root audits clean: empty verdict IS the pass
    assert(Corpus.verifyShards(spark, dir).collect().isEmpty)
    // tamper: delete one pack directory entirely -> "missing"
    val shardsDir = java.nio.file.Paths.get(dir, "shards")
    import scala.jdk.CollectionConverters._
    val dirs = java.nio.file.Files.list(shardsDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("pack_id=")).toSeq.sortBy(_.toString)
    val victim = dirs.head
    val victimPack = java.net.URLDecoder.decode(
      victim.getFileName.toString.stripPrefix("pack_id="), "UTF-8")
    val walk = java.nio.file.Files.walk(victim)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.delete)
    finally walk.close()
    val verdict1 = Corpus.verifyShards(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(verdict1 == Seq((victimPack, "missing")), verdict1.toString)
    // tamper: graft a foreign pack directory in -> "unexpected"
    val foreign = shardsDir.resolve("pack_id=forged%230%230")
    java.nio.file.Files.createDirectories(foreign)
    df.limit(1).select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.lit(1L).as("n_tokens"))
      .write.mode("overwrite").parquet(foreign.toString)
    val verdict2 = Corpus.verifyShards(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(verdict2 == Set((victimPack, "missing"), ("forged#0#0", "unexpected")),
      verdict2.toString)
  }

  test("verifyShards: a wiped shards root returns every pack 'missing', not a read error (r13 advice)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-w").toString
    val df = docsDF((1L to 6L).map(i => (i, s"tok$i " * i.toInt)))
    val packed = Corpus.packGreedy(df, budgetTokens = 8, shardsPerStratum = 2)
    val manifest = Corpus.writeShards(df, packed, dir)
    val packs = manifest.collect().map(_.getString(0)).toSet
    // wipe the ENTIRE shards root (the trust-before-resume worst case)
    import scala.jdk.CollectionConverters._
    val shardsDir = java.nio.file.Paths.get(dir, "shards")
    val walk = java.nio.file.Files.walk(shardsDir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.delete)
    finally walk.close()
    val verdict = Corpus.verifyShards(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(verdict.map(_._1).toSet == packs, verdict.toString)
    assert(verdict.forall(_._2 == "missing"), verdict.toString)
    // same verdict when the root exists but is EMPTY (schema-inference path)
    java.nio.file.Files.createDirectories(shardsDir)
    val verdict2 = Corpus.verifyShards(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(verdict2.map(_._1).toSet == packs && verdict2.forall(_._2 == "missing"),
      verdict2.toString)
  }
}
