package graft
import Harness.jsonString
object Bench {
  private def load1(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // contention defense at the SOURCE (r13 verdict #7): the r10-r13
    // driver runs each launched onto a loaded host and needed
    // adjudication against the quiet anchor — instead, wait out the
    // co-tenant burst before measuring anything: bounded backoff while
    // the 1-min load average exceeds 1, every outcome stamped in the
    // artifact (`entry_load1` initial/final, seconds waited, and a
    // loud gave-up marker when the budget runs out on a still-loaded
    // host). Budget via SPARK_GRAFT_LOAD_WAIT_MAX seconds (default
    // 600; 0 disables for spec/CI runs).
    val entryLoadInitial = load1()
    val waitBudgetSec = sys.env.get("SPARK_GRAFT_LOAD_WAIT_MAX")
      .flatMap(_.toIntOption).getOrElse(600)
    val waitStart = System.nanoTime()
    var entryLoad = entryLoadInitial
    while (entryLoad > 1.0 &&
        (System.nanoTime() - waitStart) / 1e9 < waitBudgetSec) {
      Thread.sleep(15000)
      entryLoad = load1()
    }
    val entryWaitSec = (System.nanoTime() - waitStart) / 1e9
    val entryGaveUp = entryLoad > 1.0
    val spark = Harness.session(Harness.cpus)
    // warm-up: JVM/parquet/codegen infra startup and per-table footer
    // reads should not be billed to whichever query touches them first
    Harness.warmUp(spark, sfDir)
    // A thrown query must NOT time as a near-0 "success" — the r8
    // artifact recorded the then-failing events family at 0.06 s each,
    // silently deflating the total; failures are named in the artifact.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // returns (seconds, cleanRun): a thrown run's timing must never win
    // the min-of-2 or deflate the total — a failed run times near-0. A
    // failed release of the run's pinned intermediates fails it too.
    def evalOnce(name: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      try (Harness.timeKey(spark, sfDir, name), true)
      catch { case e: Throwable =>
        errors.getOrElseUpdate(name,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        ((System.nanoTime() - t0) / 1e9, false)
      }
    }
    def fmt(s: Double): String = (math.rint(s * 1000) / 1000).toString
    // deterministic sorted order + min-of-2: the artifact must be
    // reproducible and robust to transient co-tenant CPU contention.
    // One SHORT line per query as each finishes (`BENCHQ key min s1 s2`):
    // the r4/r6 single-line contract overflowed the driver's output-tail
    // capture once the surface passed ~70 keys (front of the line lost →
    // unparseable); per-query lines can only be truncated line-wise, and
    // the machine contract moves to a complete JSON artifact FILE plus a
    // short, never-overflowing summary line printed last.
    // per-query value = min over CLEAN runs; a key with no clean run
    // records -1 and contributes nothing to the total. n_failed counts
    // exactly those no-clean-run keys (a transient single-run error is
    // flagged TRANSIENT on its line and named in `errors`, but its
    // clean-run timing stands and it does NOT fail the artifact).
    // Contention defense (the r10-r12 driver runs each landed inflated
    // vs the quiet anchor, with single-key spikes min-of-2 could not
    // absorb): (a) when the two clean samples disagree by >1.5x the key
    // earns an adaptive THIRD repeat — a transient co-tenant burst then
    // costs one extra run instead of poisoning the key's min; (b) the
    // host 1-min load average is sampled before every run and the
    // per-key max is stamped into the artifact (`query_load1`), so an
    // inflated entry carries its own explanation and the judge can
    // separate plan regressions from host contention per key.
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      def run(): (Double, Boolean, Double) = {
        val l = load1()
        val (s, ok) = evalOnce(name)
        (s, ok, l)
      }
      val r1 = run()
      val r2 = run()
      val two = Seq(r1, r2)
      val clean2 = two.collect { case (s, true, _) => s }
      val unstable = clean2.size == 2 &&
        clean2.max > 1.5 * clean2.min
      val all = if (unstable || clean2.isEmpty) two :+ run() else two
      val clean = all.collect { case (s, true, _) => s }
      val v = if (clean.nonEmpty) clean.min else -1.0
      val ql = all.map(_._3).max
      val flag =
        if (v < 0) " FAILED"
        else if (errors.contains(name)) " TRANSIENT"
        else if (unstable) " UNSTABLE"
        else ""
      val sampleStr = all.map(r => fmt(r._1)).mkString(" ")
      println(s"BENCHQ $name ${fmt(v)} $sampleStr load1=${fmt(ql)}$flag")
      (name, v, all.map(_._1), ql)
    }
    val nFailed = results.count(_._2 < 0)
    // a JSON object of already-encoded values
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")
    val qs = obj(results.map(r => r._1 -> fmt(r._2)))
    val raw = obj(results.map(r => r._1 -> r._3.map(fmt).mkString("[", ",", "]")))
    val qload = obj(results.map(r => r._1 -> fmt(r._4)))
    val total = results.collect { case (_, v, _, _) if v >= 0 => v }.sum
    // 1-min load average at exit: a contaminated artifact (co-tenant
    // CPU) then carries its own explanation
    val load = load1()
    val errs = obj(errors.map { case (k, v) => k -> jsonString(v) })
    val entryStamp =
      s""""entry_load1":${fmt(entryLoad)},"entry_load1_initial":${fmt(entryLoadInitial)},""" +
        s""""entry_wait_sec":${fmt(entryWaitSec)},"entry_wait_gave_up":$entryGaveUp"""
    val contract =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","load1":${fmt(load)},""" +
        s"""$entryStamp,""" +
        s""""n_queries":${results.size},"n_failed":$nFailed,"errors":$errs,""" +
        s""""artifact":"bench_artifact.json","queries":$qs,""" +
        s""""raw_timings":$raw,"query_load1":$qload,"sf":"$sfDir"}"""
    // complete machine-readable artifact (all keys + raw min-of-2
    // samples + exit load): immune to any stdout capture limit
    val out = java.nio.file.Paths.get("bench_artifact.json")
    java.nio.file.Files.write(out, contract.getBytes("UTF-8"))
    // short summary LAST — this is the line a tail capture parses; it
    // must stay well under the driver's 2000-char tail window (the
    // r1-r3 all-queries line overflowed it head-first → unparseable),
    // so "queries" carries only the headline slowest keys; the full map
    // lives in the artifact file. Printed raw (run/outputStrategy =
    // StdoutOutput in build.sbt): an "[info] " logger prefix would make
    // a line-wise json.loads of the tail fail.
    val slowest = obj(results.sortBy(-_._2).take(8).map(r => r._1 -> fmt(r._2)))
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","load1":${fmt(load)},$entryStamp,"n_queries":${results.size},"n_failed":$nFailed,"queries":$slowest,"artifact":"${out.toAbsolutePath}","sf":"$sfDir"}""")
    spark.stop()
  }
}
