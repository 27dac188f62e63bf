package graft.core

import org.apache.spark.sql.DataFrame

import java.util.concurrent.ConcurrentLinkedQueue
import scala.util.control.NonFatal

/** Lifecycle registry for DataFrames the engine pins with `persist()`.
  *
  * Several operators (LSH banded tables, inverted gram indexes, binned
  * intervals) materialize an intermediate that feeds 2–3 consumers of
  * the SAME query plan; without `persist` the expensive signature
  * expressions re-evaluate per consumer. But the query builders return
  * lazy plans — the builder cannot unpersist before the caller's action
  * has run, so a bare `persist()` pins the table for the session
  * lifetime (an unbounded leak in a long-lived session running many
  * queries).
  *
  * Contract: builders call [[persist]] instead of `df.persist()`; the
  * consumer runs its action, then calls [[releaseAll]] (as
  * `graft.Harness.release` does between queries). At cluster scale,
  * where the pinned frame exceeds the cache tier, set
  * [[StorageDirConf]]: [[persist]] then checkpoints to storage once and consumers read the
  * files back — same lifecycle (releaseAll deletes them), durable
  * medium, zero executor-memory pressure.
  */
object CacheScope {

  private val tracked = new ConcurrentLinkedQueue[DataFrame]()
  private val trackedPaths =
    new ConcurrentLinkedQueue[(org.apache.spark.sql.SparkSession, String)]()
  private val pathCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Session conf key enabling the STORAGE escape: when set to a
    * directory, [[persist]] materializes the frame to parquet under it
    * once and returns a reader over the files, instead of pinning
    * executor memory/disk cache. At 100 TB an LSH banded table or gram
    * index does not fit the cache tier — checkpoint-to-storage is the
    * standard escape, with the SAME lifecycle (one producer, many
    * consumers, released by [[releaseAll]], which deletes the files).
    * The trade is documented checkpoint semantics: materialization is
    * EAGER (a write job runs at persist time) and consumers re-read
    * from storage — exactly what a cluster job wants for a frame larger
    * than the cache tier, and why it is opt-in per session.
    */
  val StorageDirConf = "spark.graft.cacheScope.storageDir"

  /** Persist `df` for multi-consumer reuse and register it for later
    * release: MEMORY_AND_DISK cache by default, or a storage checkpoint
    * (parquet round-trip) when [[StorageDirConf]] is set.
    */
  def persist(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(StorageDirConf) match {
      case Some(dir) =>
        val path = s"$dir/scope-${pathCounter.incrementAndGet()}"
        df.write.mode("overwrite").parquet(path)
        trackedPaths.add((df.sparkSession, path))
        df.sparkSession.read.parquet(path)
      case None =>
        val p = df.persist()
        tracked.add(p)
        p
    }

  /** Register an ALREADY-persisted DataFrame for later release (for
    * iterative operators that manage materialization themselves but
    * want scope-level cleanup of their final state).
    */
  def track(df: DataFrame): DataFrame = {
    tracked.add(df)
    df
  }

  /** Number of currently tracked (not yet released) handles. */
  def trackedCount: Int = tracked.size() + trackedPaths.size()

  /** Unpersist every tracked DataFrame (idempotent; safe if a handle
    * was never materialized or was already dropped by `clearCache`).
    *
    * `blocking = true` waits for block removal — what a measurement
    * harness wants between queries (non-blocking release leaves the
    * previous query's blocks draining into the NEXT query's timed
    * region: heap pressure + GC billed to the wrong key). Streaming
    * faces keep the non-blocking default.
    *
    * Every tracked handle and storage path is attempted even when one
    * fails; the first failure is then rethrown, with the later ones
    * attached as suppressed exceptions, so a leaked cache or scope
    * directory is never silent.
    */
  def releaseAll(blocking: Boolean = false): Unit = {
    var first: Throwable = null
    def attempt(release: => Unit): Unit =
      try release catch { case NonFatal(e) =>
        if (first == null) first = e else first.addSuppressed(e)
      }
    Iterator.continually(tracked.poll()).takeWhile(_ != null).foreach { d =>
      attempt {
        d.unpersist(blocking)
        // localCheckpoint'd handles pin at RDD level, invisible to
        // Dataset.unpersist — release those blocks too
        org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(d, blocking)
      }
    }
    // storage-mode scopes: the files ARE the cache — release = delete
    Iterator.continually(trackedPaths.poll()).takeWhile(_ != null).foreach {
      case (spark, path) => attempt {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
    if (first != null) throw first
  }

  /** Run `body` (which should END IN AN ACTION — the scope cannot help
    * a lazy plan that escapes it), then release everything persisted
    * during it. For library callers who want try/finally hygiene; a
    * release failure after a failed body is attached to its exception.
    */
  def scoped[T](body: => T): T =
    scala.util.Using.resource(())(_ => body)(_ => releaseAll())

  /** Crash recovery for the storage escape: delete every `scope-*` dir
    * under the configured storage dir. [[releaseAll]]'s path queue is
    * in-memory, so checkpoints written by a session that died before
    * releasing would otherwise persist forever — call this once at
    * job startup (before any [[persist]]) to reclaim them. No-op when
    * [[StorageDirConf]] is unset.
    */
  def sweepStorage(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption(StorageDirConf) match {
      case None => 0
      case Some(dir) =>
        val base = new org.apache.hadoop.fs.Path(dir)
        val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(base)) 0
        else {
          val stale = fs.listStatus(base)
            .filter(s => s.isDirectory && s.getPath.getName.startsWith("scope-"))
          stale.foreach(s => fs.delete(s.getPath, true))
          stale.length
        }
    }
}
