package graft

import org.apache.spark.scheduler._

/** Dev tool: run one declared query with a listener that prints per-job
  * wall time, stage task time, and shuffle bytes — the "which stage eats
  * the seconds" view the optimization guide (§1) asks for before any
  * change. Runs on the [[Harness]] session and warm-up that [[Bench]]
  * uses.
  *
  * Usage: `sbt "runMain graft.ProfileOne <sfDir> <key ...>"`
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileOne <sfDir> <key ...>")
    val sfDir = args(0)
    val keys = args.drop(1).toSeq
    keys.foreach(Harness.query)
    val spark = Harness.session(Harness.cpus)
    Harness.warmUp(spark, sfDir)
    final case class StageAgg(
      var taskMs: Long = 0L, var shufRead: Long = 0L, var shufWrite: Long = 0L,
      var input: Long = 0L, var nTasks: Int = 0, var name: String = "",
      var cpuMs: Long = 0L, var gcMs: Long = 0L, var deserMs: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // callsite of each job's terminal stage → (count, total wall s):
    // which driver loops spawn the jobs, not just how many there are
    val jobSites = new java.util.concurrent.ConcurrentHashMap[String, (Int, Double)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        jobs.put(e.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach { case (t0, desc) =>
          val sec = (System.nanoTime() - t0) / 1e9
          jobSites.merge(desc, (1, sec),
            (a, b) => (a._1 + b._1, a._2 + b._2))
          if (sec >= 0.05)
            jobLines.add(f"  job ${e.jobId}%4d ${sec}%7.2f s  $desc")
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val agg = stages.computeIfAbsent(si.stageId, _ => StageAgg())
        agg.name = si.name
        agg.nTasks += si.numTasks
        val m = si.taskMetrics
        if (m != null) {
          agg.taskMs += m.executorRunTime
          agg.shufRead += m.shuffleReadMetrics.totalBytesRead
          agg.shufWrite += m.shuffleWriteMetrics.bytesWritten
          agg.input += m.inputMetrics.bytesRead
          agg.cpuMs += m.executorCpuTime / 1000000L
          agg.gcMs += m.jvmGCTime
          agg.deserMs += m.executorDeserializeTime
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (key <- keys) {
      jobs.clear(); stages.clear(); jobLines.clear(); jobSites.clear()
      val total = Harness.timeKey(spark, sfDir, key)
      // listener bus is async — let the tail events drain
      org.apache.spark.sql.GraftBridge.waitListeners(spark)
      println(f"PROFILE $key total=$total%.3f s jobs=${jobs.size}")
      import scala.jdk.CollectionConverters._
      jobSites.asScala.toSeq.sortBy(-_._2._2).take(20).foreach {
        case (site, (n, sec)) =>
          println(f"  site n=$n%4d wall=$sec%7.2f s  ${site.take(90)}")
      }
      jobLines.asScala.toSeq.sorted.foreach(println)
      val top = stages.asScala.toSeq.sortBy(-_._2.taskMs).take(12)
      top.foreach { case (sid, a) =>
        println(f"  stage $sid%4d task=${a.taskMs / 1000.0}%8.2f s " +
          f"cpu=${a.cpuMs / 1000.0}%7.2f gc=${a.gcMs / 1000.0}%6.2f " +
          f"deser=${a.deserMs / 1000.0}%6.2f " +
          f"n=${a.nTasks}%4d in=${a.input / 1e6}%7.1f MB " +
          f"sr=${a.shufRead / 1e6}%6.1f MB sw=${a.shufWrite / 1e6}%6.1f MB  ${a.name.take(60)}")
      }
    }
    spark.stop()
  }
}
