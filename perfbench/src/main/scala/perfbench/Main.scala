package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkEntry
import graft.core.CacheScope
import graft.io.Sources
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{Row, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files => JF, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Runs one workload in this JVM and writes its raw measurements as JSON.
  *
  * Usage: `perfbench.Main --workload <name> --input <dir> --work <dir>
  * --seconds <s> --trace <0|1> --out <file>`
  *
  * Set-up (session + warm-up reads of the input tables) runs five
  * times. Then a cold pass, whose outputs are dumped for the oracle
  * check, then warm passes in a closed loop until `--seconds` have been
  * measured and at least `WarmPasses` untraced ones have run. With
  * `--trace 1` the warm passes alternate untraced and traced, so the
  * tracing overhead is measured in the same JVM.
  * Persisted outputs are hashed on every pass and must match the
  * checked pass; the heap is read after a forced GC at every operation
  * boundary of the warm passes (outside the timed region).
  */
object Main {
  private val Setups = 5
  // a warm metric is the median of at least this many untraced passes; a
  // single pass (7-15 s) is too short a window on a shared host
  private val WarmPasses = 2
  private val om = new ObjectMapper()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def sha(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def rowsHash(rows: Array[Row]): String = sha(rows.iterator.map(_.toString))

  private def deleteTree(p: Path): Unit = if (JF.exists(p)) {
    val s = JF.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(JF.deleteIfExists)
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(x => x(0).stripPrefix("--") -> x(1)).toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val input = Paths.get(a("input")).toAbsolutePath.toString
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val plan = om.readTree(new java.io.File(s"$input/plan.json"))
    val wl = Workloads(a("workload"), plan)
    val dumps = work.resolve("dumps")
    JF.createDirectories(dumps)

    var spark: SparkSession = null
    val setupS = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work, cores)
      wl.tables.foreach(t => Sources.table(spark, input, t).count())
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val counters = new Counters
    val layers = new LayerListener(counters)
    sc.addSparkListener(layers)
    val planListener = new PlanListener(counters)

    val result = om.createObjectNode()
    result.put("workload", a("workload"))
    result.put("cores", cores)
    val setupArr = result.putArray("setup_s")
    setupS.foreach(s => setupArr.add(s))
    val oracle = result.putObject("oracle_sql")
    wl.oracleKeys.foreach(k => oracle.put(k, SparkEntry.oracleSql(k)))
    val passes = result.putArray("passes")

    // output hash of each op / state on the checked pass
    val reference = scala.collection.mutable.Map.empty[String, String]

    def runPass(i: Int, traced: Boolean): ObjectNode = {
      val root = work.resolve(s"pass$i")
      JF.createDirectories(root)
      val p = new Pass(spark, i, root, input)
      val check = i == 0
      layers.full = traced
      if (traced) spark.listenerManager.register(planListener)
      val pn = passes.addObject()
      pn.put("index", i)
      pn.put("traced", traced)
      val opsArr = pn.putArray("ops")
      var wall = 0.0
      var cpu = 0.0
      var heapPeak = 0.0
      var failed = false
      for (op <- wl.ops(p)) {
        Bus.drain(sc)
        layers.clearIntervals()
        val before = counters.snapshot()
        val targetBytes = op.target.map(Files.bytes).getOrElse(0L)
        val startMs = System.currentTimeMillis()
        val c0 = os.getProcessCpuTime
        val t0 = System.nanoTime()
        val out = Try(op.run())
        val t1 = System.nanoTime()
        CacheScope.releaseAll(blocking = true)
        // whatever releaseAll failed to release is still persisted here;
        // counted before clearCache, which would unpersist leaked Datasets
        val leaked = sc.getPersistentRDDs.values.toSeq
        spark.catalog.clearCache()
        val t2 = System.nanoTime()
        val c2 = os.getProcessCpuTime
        // ---- untimed from here: attribution, checks, hygiene
        leaked.foreach(_.unpersist(blocking = true))
        Bus.drain(sc)
        val busy = layers.takeBusySeconds(startMs)
        val d = Counters.delta(counters.snapshot(), before)
        val problem = out match {
          case Failure(e) =>
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          case Success(o) => Try(op.after(o)).fold(
            e => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}"), identity)
        }
        val on = opsArr.addObject()
        on.put("name", op.name)
        on.put("family", op.family)
        on.put("writes", op.writes)
        on.put("setup", op.setup)
        op.key.foreach(on.put("key", _))
        op.layer.foreach(on.put("layer", _))
        on.put("s", (t2 - t0) / 1e9)
        on.put("release_s", (t2 - t1) / 1e9)
        on.put("cpu_s", (c2 - c0) / 1e9)
        on.put("busy_s", busy)
        on.put("release_failures", leaked.size)
        on.put("target_bytes", targetBytes)
        if (traced && op.writes) on.put("files_written", Files.writtenSince(root, startMs))
        val ln = on.putObject("layers")
        d.foreach { case (k, v) => ln.put(k, v) }
        out.toOption.foreach { o =>
          on.put("cells", o.cells.size)
          o.rows.foreach { case (schema, rows) =>
            val h = rowsHash(rows)
            on.put("hash", h)
            if (check) {
              // a wrong checked output makes every later pass mismatch
              reference(op.name) = if (problem.isDefined) "failed" else h
              spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
                .write.parquet(dumps.resolve(op.name).toString)
            } else if (!reference.get(op.name).contains(h))
              on.put("problem", "output differs from the checked pass")
          }
        }
        problem.foreach(on.put("problem", _))
        if (on.has("problem")) failed = true
        if (!check) {
          System.gc()
          heapPeak = math.max(heapPeak,
            ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
        }
        if (!op.setup) {
          wall += (t2 - t0) / 1e9
          cpu += (c2 - c0) / 1e9
        }
      }
      if (traced) {
        Bus.drain(sc)
        spark.listenerManager.unregister(planListener)
      }
      val statesArr = pn.putArray("states")
      wl.states(p).foreach { st =>
        val sn = statesArr.addObject()
        sn.put("name", st.name)
        val owners = sn.putArray("owners")
        st.owners.foreach(owners.add)
        Try {
          val df = st.df()
          val h = sha(df.collect().map(_.toString).sorted.iterator)
          sn.put("hash", h)
          if (check) {
            reference(s"state:${st.name}") = h
            df.coalesce(1).write.parquet(dumps.resolve(s"state_${st.name}").toString)
          } else if (!reference.get(s"state:${st.name}").contains(h))
            sn.put("problem", "state differs from the checked pass")
        }.failed.foreach(e => sn.put("problem", s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        if (sn.has("problem")) failed = true
      }
      pn.put("layout_cells", wl.layoutCells(p))
      wl.endPass(p)
      deleteTree(root)
      pn.put("wall_s", wall)
      pn.put("cpu_s", cpu)
      pn.put("heap_peak_mb", heapPeak)
      pn.put("failed", failed)
      pn
    }

    val t0 = System.nanoTime()
    runPass(0, traced = false)
    var i = 1
    var untraced = 0
    var tracedN = 0
    var measured = 0.0 // timed seconds of the warm passes
    // traced runs interleave U, T, U, ... and end untraced, so the JIT
    // warm-up drift across passes cancels out of trace_overhead
    while (measured < seconds || untraced < WarmPasses ||
        (trace && (tracedN == 0 || untraced <= tracedN))) {
      val traced = trace && untraced > tracedN
      val pn = runPass(i, traced)
      measured += pn.get("wall_s").asDouble
      if (traced) tracedN += 1 else untraced += 1
      i += 1
    }
    result.put("run_s", (System.nanoTime() - t0) / 1e9)
    spark.stop()
    om.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(a("out")), result)
  }
}
