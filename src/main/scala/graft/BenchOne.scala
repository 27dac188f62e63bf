package graft

/** Dev tool: time individual declared queries in isolation (N repeats,
  * noop sink, on the [[Harness]] session and warm-up that [[Bench]]
  * uses) — for chasing a single query's regression without paying the
  * full declared-query sweep.
  *
  * Usage: `sbt "runMain graft.BenchOne <sfDir> <repeats> <key ...>"`
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: BenchOne <sfDir> <repeats> <key ...>")
    val sfDir = args(0)
    val repeats = args(1).toInt
    val keys = args.drop(2).toSeq
    keys.foreach(Harness.query)
    val spark = Harness.session(Harness.cpus)
    Harness.warmUp(spark, sfDir)
    for (key <- keys; i <- 1 to repeats) {
      val sec = Harness.timeKey(spark, sfDir, key)
      println(f"BENCHONE $key run$i $sec%.3f s")
    }
    spark.stop()
  }
}
