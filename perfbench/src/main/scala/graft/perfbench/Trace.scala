package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

final case class Job(id: Int, submit: Long, var end: Long, stages: Seq[Int], exec: Option[Long])
final case class Stage(id: Int, job: Int, name: String, submit: Long, var end: Long)
final case class Exec(id: Long, desc: String, start: Long, var end: Long)
final case class Planning(start: Long, analysis: Long, optimization: Long, planning: Long)

/** Task-metric sums of one stage. Times in ms except cpu (ns). */
final class Sums {
  var tasks, runMs, cpuNs, gcMs, inBytes, inRows, shRead, shWrite, spill, outBytes = 0L
}

/** The benchmark's own Spark listener and query-execution listener.
  *
  * It records jobs, stages, task metric sums, SQL executions and Catalyst
  * phase times with their wall-clock intervals, so that each can be charged
  * to the benchmark operation whose window it started in. Events arrive on
  * Spark's listener bus, so every method is synchronized and readers call
  * [[settle]] first.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[Int, Stage]()
  val execs = mutable.LinkedHashMap[Long, Exec]()
  val plannings = mutable.ArrayBuffer[Planning]()
  val stageSums = mutable.Map[Int, Sums]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption)
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds, exec)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = Stage(i.stageId, stageJob.getOrElse(i.stageId, -1), i.name,
      i.submissionTime.getOrElse(System.currentTimeMillis()), -1L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach(_.end = i.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stageSums.getOrElseUpdate(e.stageId, new Sums)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.inRows += m.inputMetrics.recordsRead
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Exec(s.executionId, s.description, s.time, -1L)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  private def planning(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    plannings += Planning(start, ms("analysis"), ms("optimization"), ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planning(qe)

  /** Waits until Spark reports no active job and every job this listener
    * saw has its end event, so the records are complete.
    */
  def settle(sc: org.apache.spark.SparkContext, timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open: Boolean = sc.statusTracker.getActiveJobIds().nonEmpty ||
      synchronized(jobs.values.exists(_.end < 0))
    while (open && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}

/** Length of the union of intervals, each clipped to [lo, hi]. */
object Intervals {
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
