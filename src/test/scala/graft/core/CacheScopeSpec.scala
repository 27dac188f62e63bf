package graft.core

import graft.SparkSpec

/** Lifecycle of operator-pinned caches: after a query's action completes
  * and the consumer calls releaseAll(), storage memory must return to
  * baseline — no cached blocks accumulate across queries (VERDICT r2 #1).
  */
class CacheScopeSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("persist registers and releaseAll unpersists everything") {
    CacheScope.releaseAll() // clean slate (other specs share the session)
    val base = spark.sparkContext.getPersistentRDDs.keySet
    import spark.implicits._
    val df = (1 to 100).toDF("n").transform(CacheScope.persist)
    val df2 = df.select(col("n") * 2 as "m").transform(CacheScope.persist)
    df.count(); df2.count() // materialize both
    assert(CacheScope.trackedCount == 2)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- base).size >= 2)
    CacheScope.releaseAll()
    assert(CacheScope.trackedCount == 0)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- base).isEmpty)
  }

  test("releaseAll is idempotent and safe on never-materialized plans") {
    import spark.implicits._
    (1 to 10).toDF("n").transform(CacheScope.persist) // never actioned
    CacheScope.releaseAll()
    CacheScope.releaseAll()
    assert(CacheScope.trackedCount == 0)
  }

  test("a full LSH query leaves no cached blocks after release") {
    CacheScope.releaseAll()
    spark.catalog.clearCache()
    // set-based baseline: other suites' localCheckpoint RDDs may be
    // garbage-collected mid-test, so counts can shrink — what must hold
    // is that nothing NEW survives the release
    val base = spark.sparkContext.getPersistentRDDs.keySet
    import spark.implicits._
    val docs = (1 to 50).map(i => (i.toLong, s"some text body $i repeated " * 3))
      .toDF("doc_id", "text")
    val pairs = graft.ext.Dedup.minHashPairs(docs)
    pairs.count() // action — banded table materializes via CacheScope
    assert(CacheScope.trackedCount >= 1)
    CacheScope.releaseAll()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- base
    assert(leaked.isEmpty, s"cached RDDs leaked: $leaked")
  }

  test("storage escape: persist checkpoints to files, releaseAll deletes them") {
    CacheScope.releaseAll()
    val dir = java.nio.file.Files.createTempDirectory("cache_storage").toString
    spark.conf.set(CacheScope.StorageDirConf, dir)
    try {
      import spark.implicits._
      val df = (1 to 100).toDF("n").transform(CacheScope.persist)
      // no executor-memory pinning: the frame is a plain file reader
      assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      assert(df.count() == 100)
      assert(CacheScope.trackedCount == 1)
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      val nScopes = try files.count() finally files.close()
      assert(nScopes == 1, "no storage checkpoint written")
      // an operator that pins through CacheScope is value-identical in
      // storage mode (the escape is a medium change, not a semantics one)
      val docs = (1 to 40).map(i => (i.toLong, s"shared text body $i words " * 2))
        .toDF("doc_id", "text")
      val storagePairs = graft.ext.Dedup.minHashPairs(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      CacheScope.releaseAll()
      spark.conf.unset(CacheScope.StorageDirConf)
      val cachePairs = graft.ext.Dedup.minHashPairs(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      CacheScope.releaseAll()
      assert(storagePairs == cachePairs, "storage mode changed results")
      // release deleted every scope dir
      val after = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      val left = try after.count() finally after.close()
      assert(left == 0, s"$left storage-scope dirs leaked after release")
      // crash recovery: a scope dir orphaned by a dead session (nothing
      // in the in-memory queue) is reclaimed by the startup sweep
      spark.conf.set(CacheScope.StorageDirConf, dir)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(dir, "scope-9999"))
      assert(CacheScope.sweepStorage(spark) == 1)
      val swept = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      val leftAfterSweep = try swept.count() finally swept.close()
      assert(leftAfterSweep == 0)
    } finally {
      spark.conf.unset(CacheScope.StorageDirConf)
      CacheScope.releaseAll()
    }
  }

  test("releaseAll attempts every handle and scope dir, then throws the first failure") {
    CacheScope.releaseAll()
    val base = spark.sparkContext.getPersistentRDDs.keySet
    val dir = java.nio.file.Files.createTempDirectory("cache_refusing")
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    hadoopConf.set("fs.faildelete.impl", classOf[ScopeDeleteRefusingFileSystem].getName)
    try {
      import spark.implicits._
      val cached = (1 to 50).toDF("n").transform(CacheScope.persist)
      assert(cached.count() == 50)
      spark.conf.set(CacheScope.StorageDirConf, s"faildelete://$dir")
      (1 to 10).toDF("n").transform(CacheScope.persist)
      (11 to 20).toDF("n").transform(CacheScope.persist)
      spark.conf.unset(CacheScope.StorageDirConf)
      assert(CacheScope.trackedCount == 3)
      val e = intercept[java.io.IOException](CacheScope.releaseAll())
      assert(e.getMessage.contains("scope-"), e.getMessage)
      // the second refused directory was attempted too
      assert(e.getSuppressed.length == 1, e.getSuppressed.toSeq)
      assert(CacheScope.trackedCount == 0)
      val held = spark.sparkContext.getPersistentRDDs.keySet -- base
      assert(held.isEmpty, s"in-memory handles left persisted: $held")
    } finally {
      spark.conf.unset(CacheScope.StorageDirConf)
      hadoopConf.unset("fs.faildelete.impl")
      deleteTree(dir)
    }
  }

  test("scoped releases on exit even when body throws") {
    import spark.implicits._
    intercept[RuntimeException] {
      CacheScope.scoped {
        val df = (1 to 10).toDF("n").transform(CacheScope.persist)
        df.count()
        throw new RuntimeException("boom")
      }
    }
    assert(CacheScope.trackedCount == 0)
  }
}

/** The local file system under a `faildelete:` scheme, refusing to
  * delete [[CacheScope]]'s storage-scope directories (`scope-*`).
  */
class ScopeDeleteRefusingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faildelete:///")
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    if (p.getName.startsWith("scope-")) throw new java.io.IOException(s"delete refused: $p")
    else super.delete(p, recursive)
}
