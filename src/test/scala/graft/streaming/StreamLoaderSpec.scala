package graft.streaming

import graft.SparkSpec
import graft.ops.Loader
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.Files

case class Change(k: Long, name: String, v: Double, seq: Long)

class StreamLoaderSpec extends SparkSpec {

  test("changelog stream upserts into the target across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    dropWithLocation("stream_merge_target")
    // initial full load
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "name", "v")
      .write.saveAsTable("stream_merge_target")
    val ckpt = Files.createTempDirectory("sl_ckpt").toString
    val input = MemoryStream[Change]
    val q = StreamLoader.startMerge(
      input.toDF(), "stream_merge_target", Seq("k"), "seq", ckpt)
    try {
      // batch 1: update k=2, insert k=3
      input.addData(Change(2L, "b2", 2.2, 10L), Change(3L, "c", 3.0, 11L))
      q.processAllAvailable()
      // the sink rewrites the table from the stream's cloned session;
      // this session must refresh before reading (normal cross-session
      // table-rewrite visibility in Spark)
      spark.catalog.refreshTable("stream_merge_target")
      val after1 = spark.table("stream_merge_target").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(after1 == Seq((1L, "a", 1.0), (2L, "b2", 2.2), (3L, "c", 3.0)))
      // batch 2: two changes to the SAME key — the later seq wins
      input.addData(Change(3L, "c-old", 3.1, 20L), Change(3L, "c-new", 3.9, 21L),
        Change(4L, "d", 4.0, 22L))
      q.processAllAvailable()
      spark.catalog.refreshTable("stream_merge_target")
      val after2 = spark.table("stream_merge_target").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(after2 == Seq((1L, "a", 1.0), (2L, "b2", 2.2),
        (3L, "c-new", 3.9), (4L, "d", 4.0)))
    } finally q.stop()
    spark.sql("DROP TABLE IF EXISTS stream_merge_target")
  }

  test("compactLatest keeps one row per key, greatest seq wins") {
    import spark.implicits._
    val batch = Seq(
      Change(1L, "x1", 1.0, 5L), Change(1L, "x2", 1.5, 9L),
      Change(2L, "y", 2.0, 1L)).toDF()
    val out = StreamLoader.compactLatest(batch, Seq("k"), "seq")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "x2"), (2L, "y")))
  }

  private def partFiles(table: String, part: String): Map[String, Long] = {
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table, part)
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala
      .filter(f => f.getFileName.toString.startsWith("part-"))
      .map(f => f.getFileName.toString ->
        java.nio.file.Files.getLastModifiedTime(f).toMillis)
      .toMap
    finally s.close()
  }

  test("partitioned target: a micro-batch rewrites ONLY the touched partitions") {
    import spark.implicits._
    dropWithLocation("stream_merge_part")
    Seq((1L, "a", 1.0, "2026-01-01"), (2L, "b", 2.0, "2026-01-02"))
      .toDF("k", "name", "v", "dt")
      .write.partitionBy("dt").saveAsTable("stream_merge_part")
    val before = partFiles("stream_merge_part", "dt=2026-01-01")
    assert(before.nonEmpty)
    val ckpt = Files.createTempDirectory("sl_part_ckpt").toString
    // the batch touches only dt=2026-01-02
    val batch = Seq((2L, "b2", 2.2, "2026-01-02", 10L),
      (3L, "c", 3.0, "2026-01-02", 11L)).toDF("k", "name", "v", "dt", "seq")
    StreamLoader.mergeBatch(spark, batch, "stream_merge_part", Seq("k"), "seq", ckpt)
    spark.catalog.refreshTable("stream_merge_part")
    // the untouched partition's files are byte-for-byte the same ones
    assert(partFiles("stream_merge_part", "dt=2026-01-01") == before,
      "untouched partition was rewritten")
    val rows = spark.table("stream_merge_part").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3))).toSeq
    assert(rows == Seq((1L, "a", 1.0, "2026-01-01"),
      (2L, "b2", 2.2, "2026-01-02"), (3L, "c", 3.0, "2026-01-02")))
    spark.sql("DROP TABLE IF EXISTS stream_merge_part")
  }

  test("partitioned target: streaming sink end-to-end across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    dropWithLocation("stream_merge_part_e2e")
    Seq((1L, "a", 1.0, "d1"), (2L, "b", 2.0, "d2"))
      .toDF("k", "name", "v", "dt")
      .write.partitionBy("dt").saveAsTable("stream_merge_part_e2e")
    val ckpt = Files.createTempDirectory("sl_part_e2e_ckpt").toString
    val input = MemoryStream[ChangeP]
    val q = StreamLoader.startMerge(
      input.toDF(), "stream_merge_part_e2e", Seq("k"), "seq", ckpt)
    try {
      input.addData(ChangeP(2L, "b2", 2.2, "d2", 10L), ChangeP(3L, "c", 3.0, "d3", 11L))
      q.processAllAvailable()
      spark.catalog.refreshTable("stream_merge_part_e2e")
      val after1 = spark.table("stream_merge_part_e2e").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSeq
      assert(after1 == Seq((1L, "a", "d1"), (2L, "b2", "d2"), (3L, "c", "d3")))
      input.addData(ChangeP(3L, "c2", 3.5, "d3", 20L))
      q.processAllAvailable()
      spark.catalog.refreshTable("stream_merge_part_e2e")
      val after2 = spark.table("stream_merge_part_e2e").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(after2 == Seq((1L, "a"), (2L, "b2"), (3L, "c2")))
    } finally q.stop()
    spark.sql("DROP TABLE IF EXISTS stream_merge_part_e2e")
  }

  /** Run the micro-batch merge `body` and assert nothing of it is left
    * behind: no swap table, no staging directory or persisted staged
    * slice ([[assertNoStagingLeft]]), and nothing in the checkpoint dir
    * (the merge does not write there).
    */
  private def assertNoScratchLeft(table: String, ckpt: String)(body: => Unit): Unit = {
    assertNoStagingLeft(body)
    assert(!spark.catalog.tableExists(Loader.swapName(table)), "swap table left behind")
    val s = Files.list(java.nio.file.Paths.get(ckpt))
    try assert(s.count() == 0, s"mergeBatch wrote into the checkpoint dir $ckpt")
    finally s.close()
  }

  test("touched-partition cap: 256 stays bounded (slice cleaned), 257 falls back") {
    import spark.implicits._
    dropWithLocation("stream_merge_cap")
    // 258 single-row partitions d000..d257
    (0 until 258).map(i => (i.toLong, "a", 1.0, f"d$i%03d"))
      .toDF("k", "name", "v", "dt")
      .write.partitionBy("dt").saveAsTable("stream_merge_cap")
    val untouched = partFiles("stream_merge_cap", "dt=d257")
    assert(untouched.nonEmpty)

    // exactly AT the cap (256 partitions): bounded path — the untouched
    // partition's files survive byte-for-byte and the staged slice is
    // released after the insert
    val ckpt1 = Files.createTempDirectory("sl_cap1_ckpt").toString
    val batchAt = (0 until 256).map(i => (i.toLong, "u", 2.0, f"d$i%03d", 10L))
      .toDF("k", "name", "v", "dt", "seq")
    assertNoScratchLeft("stream_merge_cap", ckpt1) {
      StreamLoader.mergeBatch(spark, batchAt, "stream_merge_cap", Seq("k"), "seq", ckpt1)
    }
    spark.catalog.refreshTable("stream_merge_cap")
    assert(partFiles("stream_merge_cap", "dt=d257") == untouched,
      "bounded path rewrote an untouched partition at the cap boundary")

    // ONE past the cap (257 partitions): predicate growth stops — the
    // full swap rewrite runs instead (d257's files are rewritten too)
    // and the merge is still correct
    val ckpt2 = Files.createTempDirectory("sl_cap2_ckpt").toString
    val batchOver = (0 until 257).map(i => (i.toLong, "w", 3.0, f"d$i%03d", 20L))
      .toDF("k", "name", "v", "dt", "seq")
    assertNoScratchLeft("stream_merge_cap", ckpt2) {
      StreamLoader.mergeBatch(spark, batchOver, "stream_merge_cap", Seq("k"), "seq", ckpt2)
    }
    spark.catalog.refreshTable("stream_merge_cap")
    val d257After = partFiles("stream_merge_cap", "dt=d257")
    assert(d257After.nonEmpty && d257After.keySet.intersect(untouched.keySet).isEmpty,
      "over-cap batch did not take the full rewrite")
    val rows = spark.table("stream_merge_cap").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.size == 258)
    assert((0 until 257).forall(i => rows(i.toLong) == "w"))
    assert(rows(257L) == "a")
    spark.sql("DROP TABLE IF EXISTS stream_merge_cap")
  }

  test("null partition value: <=> predicates match it; other partitions untouched") {
    import spark.implicits._
    dropWithLocation("stream_merge_nullpart")
    Seq((1L, "a", 1.0, "d1"), (2L, "b", 2.0, null.asInstanceOf[String]))
      .toDF("k", "name", "v", "dt")
      .write.partitionBy("dt").saveAsTable("stream_merge_nullpart")
    val d1Before = partFiles("stream_merge_nullpart", "dt=d1")
    assert(d1Before.nonEmpty)
    val ckpt = Files.createTempDirectory("sl_null_ckpt").toString
    // the batch touches ONLY the null partition — an = predicate would
    // evaluate to NULL and prune everything (silently dropping the
    // target rows); the null-safe <=> must match them
    val batch = Seq((2L, "b2", 2.2, null.asInstanceOf[String], 10L),
      (3L, "c", 3.0, null.asInstanceOf[String], 11L))
      .toDF("k", "name", "v", "dt", "seq")
    StreamLoader.mergeBatch(spark, batch, "stream_merge_nullpart", Seq("k"), "seq", ckpt)
    spark.catalog.refreshTable("stream_merge_nullpart")
    assert(partFiles("stream_merge_nullpart", "dt=d1") == d1Before,
      "null-partition batch rewrote the d1 partition")
    val rows = spark.table("stream_merge_nullpart").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(3)))).toSeq
    assert(rows == Seq((1L, "a", Some("d1")), (2L, "b2", None), (3L, "c", None)),
      s"got $rows")
    spark.sql("DROP TABLE IF EXISTS stream_merge_nullpart")
  }

  test("crash between drop and rewrite: target restored from the snapshot") {
    import spark.implicits._
    dropWithLocation("stream_merge_crash")
    dropWithLocation(Loader.swapName("stream_merge_crash"))
    Seq((1L, "a", 1.0)).toDF("k", "name", "v").write.saveAsTable("stream_merge_crash")
    val ckpt = Files.createTempDirectory("sl_crash_ckpt").toString
    val b1 = Seq((2L, "b", 2.0, 1L)).toDF("k", "name", "v", "seq")
    StreamLoader.mergeBatch(spark, b1, "stream_merge_crash", Seq("k"), "seq", ckpt)
    // simulate the crash window of the swap rewrite: the target is
    // dropped and the complete merged snapshot sits in the swap table
    Loader.renameTable(spark, "stream_merge_crash", Loader.swapName("stream_merge_crash"))
    assert(!spark.catalog.tableExists("stream_merge_crash"))
    // the checkpoint replay of the same micro-batch restores the target
    // and is idempotent — twice over
    for (_ <- 1 to 2) {
      assertNoScratchLeft("stream_merge_crash", ckpt) {
        StreamLoader.mergeBatch(spark, b1, "stream_merge_crash", Seq("k"), "seq", ckpt)
      }
      spark.catalog.refreshTable("stream_merge_crash")
      val replayed = spark.table("stream_merge_crash").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(replayed == Seq((1L, "a"), (2L, "b")))
    }
    spark.sql("DROP TABLE IF EXISTS stream_merge_crash")
  }

  test("crash recovery restores a BUCKETED target as bucketed (layout persisted)") {
    import spark.implicits._
    dropWithLocation("stream_merge_crash_bkt")
    dropWithLocation(Loader.swapName("stream_merge_crash_bkt"))
    Loader.writeTableBucketed(
      Seq((1L, "a", 1.0)).toDF("k", "name", "v"),
      "stream_merge_crash_bkt", Seq("k"), buckets = 4)
    val ckpt = Files.createTempDirectory("sl_crash_bkt_ckpt").toString
    val b1 = Seq((2L, "b", 2.0, 1L)).toDF("k", "name", "v", "seq")
    StreamLoader.mergeBatch(spark, b1, "stream_merge_crash_bkt", Seq("k"), "seq", ckpt)
    Loader.renameTable(spark, "stream_merge_crash_bkt",
      Loader.swapName("stream_merge_crash_bkt"))
    StreamLoader.mergeBatch(spark, b1, "stream_merge_crash_bkt", Seq("k"), "seq", ckpt)
    spark.catalog.refreshTable("stream_merge_crash_bkt")
    // the recovered table carries the ORIGINAL bucket spec, not a
    // default flattened layout (the scale invariant: recovery must not
    // silently degrade a bucketed 100 TB target)
    val info = org.apache.spark.sql.GraftBridge.tableInfo(spark, "stream_merge_crash_bkt")
    assert(info.numBuckets.contains(4) && info.bucketColumnNames == Seq("k"),
      s"recovery flattened the bucketed target: $info")
    val rows = spark.table("stream_merge_crash_bkt").orderBy("k").collect()
      .map(_.getLong(0)).toSeq
    assert(rows == Seq(1L, 2L))
    spark.sql("DROP TABLE IF EXISTS stream_merge_crash_bkt")
  }

  test("moved row: a micro-batch that changes a matched key's partition leaves ONE copy") {
    import spark.implicits._
    dropWithLocation("stream_merge_moved")
    Seq((1L, "a", 1.0, "d1"), (2L, "b", 2.0, "d2"))
      .toDF("k", "name", "v", "dt")
      .write.partitionBy("dt").saveAsTable("stream_merge_moved")
    val ckpt = Files.createTempDirectory("sl_moved_ckpt").toString
    // key 2 lives in d2; the batch moves it to d3
    val batch = Seq((2L, "b2", 2.2, "d3", 10L)).toDF("k", "name", "v", "dt", "seq")
    StreamLoader.mergeBatch(spark, batch, "stream_merge_moved", Seq("k"), "seq", ckpt)
    spark.catalog.refreshTable("stream_merge_moved")
    val rows = spark.table("stream_merge_moved").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSeq
    assert(rows == Seq((1L, "a", "d1"), (2L, "b2", "d3")), s"got $rows")
    // a batch touching EVERY partition swaps two keys' partitions: the
    // old copies sit inside the rewritten slice, still one copy each
    val swapBatch = Seq((1L, "a3", 1.3, "d3", 20L), (2L, "b3", 2.3, "d1", 21L))
      .toDF("k", "name", "v", "dt", "seq")
    StreamLoader.mergeBatch(spark, swapBatch, "stream_merge_moved", Seq("k"), "seq", ckpt)
    spark.catalog.refreshTable("stream_merge_moved")
    val swapped = spark.table("stream_merge_moved").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSeq
    assert(swapped == Seq((1L, "a3", "d3"), (2L, "b3", "d1")), s"got $swapped")
    spark.sql("DROP TABLE IF EXISTS stream_merge_moved")
  }

  test("a lease held by another writer: mergeBatch refuses loudly, target untouched") {
    import spark.implicits._
    dropWithLocation("stream_merge_leased")
    Seq((1L, "a", 1.0)).toDF("k", "name", "v").write.saveAsTable("stream_merge_leased")
    val ckpt = Files.createTempDirectory("sl_lease_ckpt").toString
    val lease = Loader.leaseFile(spark, "stream_merge_leased")
    // a SECOND writer holds the lease: acquireLease creates the file
    // without registering it as held by this thread's rewriters
    Loader.acquireLease(spark, "stream_merge_leased")
    try {
      val batch = Seq((1L, "z", 9.0, 1L)).toDF("k", "name", "v", "seq")
      val e = intercept[IllegalStateException] {
        StreamLoader.mergeBatch(spark, batch, "stream_merge_leased", Seq("k"), "seq", ckpt)
      }
      assert(e.getMessage.contains("stream_merge_leased") &&
        e.getMessage.contains("being written"), e.getMessage)
      assert(spark.table("stream_merge_leased").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))
    } finally {
      Files.deleteIfExists(lease)
      spark.sql("DROP TABLE IF EXISTS stream_merge_leased")
    }
  }

  test("bucketed unpartitioned target keeps its bucket layout through the sink") {
    import spark.implicits._
    dropWithLocation("stream_merge_bucketed")
    Loader.writeTableBucketed(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "name", "v"),
      "stream_merge_bucketed", Seq("k"), buckets = 4)
    val ckpt = Files.createTempDirectory("sl_bkt_ckpt").toString
    val batch = Seq((2L, "b2", 2.2, 1L)).toDF("k", "name", "v", "seq")
    StreamLoader.mergeBatch(spark, batch, "stream_merge_bucketed", Seq("k"), "seq", ckpt)
    spark.catalog.refreshTable("stream_merge_bucketed")
    val info = org.apache.spark.sql.GraftBridge.tableInfo(spark, "stream_merge_bucketed")
    assert(info.numBuckets.contains(4) && info.bucketColumnNames == Seq("k"),
      s"bucket layout was flattened by the sink rewrite: $info")
    val rows = spark.table("stream_merge_bucketed").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b2")))
    spark.sql("DROP TABLE IF EXISTS stream_merge_bucketed")
  }
}

case class ChangeP(k: Long, name: String, v: Double, dt: String, seq: Long)
