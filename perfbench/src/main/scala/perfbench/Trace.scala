package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Cumulative layer counters. Operations are measured as the difference
  * of two snapshots taken around them, after the listener bus drained.
  */
final class Counters {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, d: Double): Unit = v(k) = v.getOrElse(k, 0.0) + d
  def snapshot(): Map[String, Double] = synchronized(v.toMap)
}

object Counters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, x) => k -> (x - before.getOrElse(k, 0.0)) }
}

/** SparkListener feeding the `sched`, `exec`, `shuffle`, `io` and `core`
  * layers. With `full = false` it only sums the bytes tasks write, which
  * the untraced run needs for `write_amp`.
  */
final class LayerListener(val c: Counters) extends SparkListener {
  @volatile var full = false
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  /** (start, end) wall-clock ms of every finished job, for the busy union. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) c.synchronized {
    c.add("sched.jobs", 1)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full) c.synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (full) c.synchronized {
    c.add("sched.stages", 1)
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.synchronized {
    stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.synchronized {
    val m = e.taskMetrics
    if (m != null) {
      c.add("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      if (full) {
        c.add("sched.tasks", 1)
        stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { s =>
          c.add("sched.task_launch_wait_s", math.max(0L, e.taskInfo.launchTime - s) / 1e3)
        }
        c.add("exec.run_s", m.executorRunTime / 1e3)
        c.add("exec.cpu_s", m.executorCpuTime / 1e9)
        c.add("exec.gc_s", m.jvmGCTime / 1e3)
        c.add("exec.deser_s", m.executorDeserializeTime / 1e3)
        c.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        val r = m.shuffleReadMetrics
        c.add("shuffle.read_bytes", (r.localBytesRead + r.remoteBytesRead).toDouble)
        c.add("shuffle.fetch_wait_s", r.fetchWaitTime / 1e3)
        val w = m.shuffleWriteMetrics
        c.add("shuffle.write_bytes", w.bytesWritten.toDouble)
        c.add("shuffle.write_s", w.writeTime / 1e9)
        c.add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
        c.add("io.input_records", m.inputMetrics.recordsRead.toDouble)
        c.add("io.output_records", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (full) {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) c.synchronized {
      c.add("core.cache_blocks_put", 1)
      c.add("core.cache_bytes_put", (b.memSize + b.diskSize).toDouble)
    }
  }

  def clearIntervals(): Unit = c.synchronized(jobIntervals.clear())

  /** Union length, in seconds, of the job intervals that start at or
    * after `from` (ms); consumes them.
    */
  def takeBusySeconds(from: Long): Double = c.synchronized {
    val iv = jobIntervals.filter(_._1 >= from).sortBy(_._1)
    jobIntervals.clear()
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE >= 0) busy += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE >= 0) busy += curE - curS
    busy / 1e3
  }
}

/** QueryExecutionListener feeding the `plan` layer: Catalyst phase times
  * of every query a traced pass runs.
  */
final class PlanListener(c: Counters) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = c.synchronized {
    c.add("plan.queries", 1)
    val phases = qe.tracker.phases
    def ph(n: String) = phases.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    c.add("plan.analysis_s", ph("analysis"))
    c.add("plan.optimization_s", ph("optimization"))
    c.add("plan.planning_s", ph("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Data files under a pass's storage root: the files an operation wrote
  * (modified since it started), their bytes, and a layout fingerprint.
  */
object Files {
  import java.nio.file.{Files => JF, Path}
  import scala.jdk.CollectionConverters._

  private def dataFiles(root: Path): Seq[Path] =
    if (!JF.exists(root)) Nil
    else {
      val s = JF.walk(root)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        JF.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toList
      finally s.close()
    }

  def writtenSince(root: Path, sinceMs: Long): Int =
    dataFiles(root).count(p => JF.getLastModifiedTime(p).toMillis >= sinceMs)

  def bytes(root: Path): Long = dataFiles(root).map(JF.size).sum

  /** (relative path, size, mtime) of every data file: a layout fingerprint. */
  def listing(root: Path): Set[(String, Long, Long)] =
    dataFiles(root).map(p => (root.relativize(p).toString, JF.size(p),
      JF.getLastModifiedTime(p).toMillis)).toSet
}
