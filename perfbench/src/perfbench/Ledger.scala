package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Job/stage/task ledger: a `SparkListener` that books every Spark job,
  * with the stages and tasks it ran, under the op label the harness set
  * as a local property when the job was submitted. Jobs started from other
  * threads (broadcasts, streaming queries) inherit the label of the thread
  * that started them.
  */
final class Ledger extends SparkListener {
  import Ledger._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  @volatile private var lastEventMs = System.currentTimeMillis()
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    val label = Option(e.properties).flatMap(p => Option(p.getProperty(LabelKey)))
      .getOrElse("")
    val j = new Job(e.jobId, label, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventMs = System.currentTimeMillis()
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskRunMs += m.executorRunTime
        j.taskCpuNs += m.executorCpuTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Snapshot of every job booked so far, in start order. */
  def snapshot(): Seq[Job] = synchronized(jobs.values.map(_.copy()).toList)

  /** Blocks until every started job has ended and no event has arrived
    * for a quiet period (listener events arrive asynchronously, a little
    * after the action that caused them returns).
    */
  def await(quietMs: Long = 50L, timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def busy = synchronized(jobs.values.exists(_.end < 0)) ||
      System.currentTimeMillis() - lastEventMs < quietMs
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

object Ledger {
  val LabelKey = "perfbench.op"

  final class Job(val id: Int, val label: String, val start: Long) {
    var end = -1L
    var stages, tasks = 0
    var taskRunMs, taskCpuNs, shuffleRead, shuffleWrite, spill, input, output = 0L
    def copy(): Job = {
      val c = new Job(id, label, start)
      c.end = end; c.stages = stages; c.tasks = tasks
      c.taskRunMs = taskRunMs; c.taskCpuNs = taskCpuNs
      c.shuffleRead = shuffleRead; c.shuffleWrite = shuffleWrite
      c.spill = spill; c.input = input; c.output = output
      c
    }
  }

  /** Total wall time covered by at least one of the intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Spark-level totals of a set of jobs, by the per-layer metric names. */
  def totals(js: Seq[Job], wallMs: Long): Map[String, Double] = {
    val busy = unionMs(js.map(j => j.start -> math.max(j.start, j.end)))
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.job_busy_s" -> busy / 1e3,
      "spark.driver_gap_s" -> math.max(0L, wallMs - busy) / 1e3,
      "spark.task_run_s" -> js.map(_.taskRunMs).sum / 1e3,
      "spark.task_cpu_s" -> js.map(_.taskCpuNs).sum / 1e9,
      "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> js.map(_.input).sum.toDouble,
      "spark.output_bytes" -> js.map(_.output).sum.toDouble)
  }
}
