package graft
import java.nio.file.{Files, Paths}
import Harness.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // dev convenience: trailing args restrict the dump to those keys
    // (two args → full dump); a misspelt key is refused, never dumped
    // as an empty clean run
    val only = args.drop(2).toSet
    only.foreach(Harness.query)
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A failed query must FAIL its correctness check, not vanish from
        // it: write a one-row error parquet under the query's name so the
        // driver's DuckDB compare records an explicit schema/hash mismatch
        // for this key instead of silently dropping the check (round-8
        // post-mortem: 13 events-family keys disappeared from
        // CORRECTNESS_r08.json when their input was absent, and the round
        // still read all-green).
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        failures += name -> msg
        System.err.println(s"[verify] $name FAILED: $msg")
        try {
          import spark.implicits._
          Seq((name, msg)).toDF("_verify_failed_query", "_verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error-marker write failed: ${e2.getMessage}")
        }
      }
      // release operator-pinned intermediates between queries — 173
      // queries in one session would otherwise accumulate cached blocks
      Harness.release(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure record next to the dumps (second signal
    // alongside the per-key error parquets above): {} on a clean run.
    val errJson = failures
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: " +
          failures.keys.mkString(", "))
    spark.stop()
  }
}
