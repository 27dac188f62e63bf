package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; tests fork). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Drop a managed table/database AND its warehouse directory: a
    * previous JVM's leftover dir trips Spark 4's location-exists
    * validation on CREATE even when the (fresh in-memory) catalog has
    * no such table.
    */
  def dropWithLocation(name: String, isDatabase: Boolean = false): Unit = {
    if (isDatabase) spark.sql(s"DROP DATABASE IF EXISTS `$name` CASCADE")
    else spark.sql(s"DROP TABLE IF EXISTS `$name`")
    deleteTree(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      if (isDatabase) s"$name.db" else name))
  }

  private def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally s.close()
    }

  /** Run `body` and assert it staged nothing that outlives it: no RDD
    * persisted during `body` is still persisted afterwards (the eager
    * localCheckpoint `graft.ops.Loader` stages partition overwrites
    * through is released), and no `_graft_staging` directory appears
    * under the warehouse (where the overwrite once staged its slice as
    * parquet; one left by an older build is removed first, so its
    * absence afterwards means `body` created none).
    */
  def assertNoStagingLeft[T](body: => T): T = {
    val stagingRoot = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "_graft_staging")
    deleteTree(stagingRoot)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = body
    val held = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(held.isEmpty, s"RDDs persisted during the call are still persisted: $held")
    assert(!java.nio.file.Files.exists(stagingRoot), s"$stagingRoot was created")
    out
  }

  /** Run `body` and count the Spark jobs it started: jobs carry a
    * per-call local property (inherited by the broadcast and AQE stage
    * threads Spark starts for them), so jobs of other threads are not
    * counted; the listener bus is drained before the count is read.
    */
  def jobsRun[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val out = body
      org.apache.spark.sql.GraftBridge.waitListeners(spark)
      (out, jobs.get())
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
