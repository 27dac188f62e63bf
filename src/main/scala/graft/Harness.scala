package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.Using
import scala.util.control.NonFatal

/** The one session and run harness of every main, spec and probe. */
object Harness {

  /** Cores of the mains' and probes' sessions: `SPARK_GRAFT_CPUS`, default 32. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(32)

  /** `SPARK_GRAFT_EXTRA_CONF`: `;`-separated `key=value` pairs over
    * [[session]]'s defaults, for A/B runs without recompiling and for
    * deployment-scale overrides the bench contract must not hard-code.
    * Printed to stderr once per JVM when set.
    */
  private lazy val extraConf: Seq[(String, String)] = {
    val pairs = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry is not key=value: $kv")
        kv.take(i).trim -> kv.drop(i + 1).trim
      }
    if (pairs.nonEmpty) System.err.println(
      "[graft] SPARK_GRAFT_EXTRA_CONF: " + pairs.map { case (k, v) => s"$k=$v" }.mkString("; "))
    pairs
  }

  /** `local[cores]` with as many shuffle partitions, the UTC zone
    * `Sources.table` relies on, nanosecond parquet timestamps read as
    * longs, no UI and WARN logging, then the [[extraConf]] overlay.
    */
  def session(cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  val WarmUpTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Read each [[WarmUpTables]] table once, so JVM, parquet and codegen
    * startup and footer reads are not billed to the first key that
    * touches it. A table with no `<table>.parquet` under `sfDir` is
    * skipped (partial rungs carry only some tables); a present one
    * that fails to read throws.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    WarmUpTables.foreach { t =>
      val p = new org.apache.hadoop.fs.Path(sfDir, s"$t.parquet")
      if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        try graft.io.Sources.table(spark, sfDir, t).count()
        catch { case NonFatal(e) => throw new IllegalStateException(
          s"warm-up read of table '$t' under $sfDir failed: ${e.getMessage}", e) }
    }

  /** The declared query `key`; an unknown key is refused, so a misspelt
    * key never reads as a clean empty run.
    */
  def query(key: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(key, throw new IllegalArgumentException(
      s"unknown query key '$key': not a key of SparkEntry.queries"))

  /** Release what one key pinned before the next runs: every
    * [[core.CacheScope]] handle, blocking so its blocks do not drain
    * into the next key's timed region, then the session's cache.
    */
  def release(spark: SparkSession): Unit = {
    core.CacheScope.releaseAll(blocking = true)
    spark.catalog.clearCache()
  }

  /** Seconds to evaluate `key` into the noop sink (every column computed,
    * where a `count()` would let Catalyst prune the measured
    * projections); [[release]] follows, untimed, also after a failure.
    */
  def timeKey(spark: SparkSession, sfDir: String, key: String): Double = {
    val fn = query(key)
    Using.resource(spark) { s =>
      val t0 = System.nanoTime()
      fn(s, sfDir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }(release(_))
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped, so SQL with a tab or CR still parses.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
