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
    val wh = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      if (isDatabase) s"$name.db" else name)
    if (java.nio.file.Files.exists(wh)) {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(wh)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }

  /** The warehouse directory `graft.ops.Loader` stages partition
    * overwrites under.
    */
  def stagingRoot: java.nio.file.Path = java.nio.file.Paths.get(
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "_graft_staging")

  /** Staged slices of `table` still under [[stagingRoot]]: empty once
    * every partition overwrite of `table` has cleaned up after itself.
    */
  def stagedSlices(table: String): Seq[String] =
    if (!java.nio.file.Files.isDirectory(stagingRoot)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(stagingRoot)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(s"$table.")).toList
      finally s.close()
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
