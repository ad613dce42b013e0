package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans below the call: Spark jobs and stages from a SparkListener, and
  * Catalyst phases from a QueryExecutionListener. Events are only queued
  * while attached; [[attribute]] assigns them to calls afterwards by time
  * window, because AQE and operator-internal jobs carry call sites that
  * name no operator. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val qes = new ConcurrentLinkedQueue[Qe]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != 0L) jobs.add(Job(s, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(Stage(i.submissionTime.getOrElse(0L), i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
        qes.add(Qe(ph.values.map(_.startTimeMs).min, ms("analysis"),
          ms("optimization"), ms("planning")))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits for the bus to deliver everything queued, then stops recording. */
  def detach(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Per-call layer figures for calls given as (startMs, endMs) windows.
    * `job_union_s` merges the call's job intervals as Spark reported
    * them; `outside_jobs_s` is the part of the call window no job
    * covers. Their sum equals the call wall only when every job the
    * call started also ended inside it, which is the self-check. */
  def attribute(windows: Seq[(Long, Long)]): Seq[Map[String, Double]] = {
    val js = jobs.asScala.toSeq
    val ss = stages.asScala.toSeq
    val qs = qes.asScala.toSeq
    windows.map { case (w0, w1) =>
      def in(t: Long) = t >= w0 && t <= w1
      val cj = js.filter(j => in(j.submitMs)).sortBy(_.submitMs)
      val cs = ss.filter(s => in(s.submitMs))
      val cq = qs.filter(q => in(q.startMs))
      // merged job intervals, unclipped
      var union = 0L; var curS = -1L; var curE = -1L
      // uncovered parts of [w0, w1]
      var outside = 0L; var covered = w0
      cj.foreach { j =>
        if (j.submitMs > curE) {
          if (curE >= 0) union += curE - curS
          curS = j.submitMs; curE = j.endMs
        } else curE = math.max(curE, j.endMs)
        if (j.submitMs > covered) outside += j.submitMs - covered
        covered = math.max(covered, math.min(j.endMs, w1))
      }
      if (curE >= 0) union += curE - curS
      outside += math.max(0L, w1 - covered)
      Map(
        "jobs" -> cj.size.toDouble,
        "stages" -> cs.size.toDouble,
        "tasks" -> cs.map(_.tasks.toLong).sum.toDouble,
        "single_task_stages" -> cs.count(_.tasks == 1).toDouble,
        "job_union_s" -> union / 1e3,
        "outside_jobs_s" -> outside / 1e3,
        "task_s" -> cs.map(_.runMs).sum / 1e3,
        "cpu_s" -> cs.map(_.cpuNs).sum / 1e9,
        "gc_s" -> cs.map(_.gcMs).sum / 1e3,
        "input_mb" -> cs.map(_.inBytes).sum / 1e6,
        "input_records" -> cs.map(_.inRecords).sum.toDouble,
        "shuffle_write_mb" -> cs.map(_.shWrite).sum / 1e6,
        "shuffle_read_mb" -> cs.map(_.shRead).sum / 1e6,
        "fetch_wait_s" -> cs.map(_.fetchWaitMs).sum / 1e3,
        "spill_disk_mb" -> cs.map(_.spillDisk).sum / 1e6,
        "analysis_ms" -> cq.map(_.analysisMs).sum.toDouble,
        "optimization_ms" -> cq.map(_.optimizationMs).sum.toDouble,
        "planning_ms" -> cq.map(_.planningMs).sum.toDouble,
        "actions" -> cq.size.toDouble)
    }
  }
}

object Trace {
  private final case class Job(submitMs: Long, endMs: Long)
  private final case class Stage(submitMs: Long, tasks: Int, runMs: Long, cpuNs: Long,
                                 gcMs: Long, inBytes: Long, inRecords: Long,
                                 shWrite: Long, shRead: Long, fetchWaitMs: Long,
                                 spillDisk: Long)
  private final case class Qe(startMs: Long, analysisMs: Long, optimizationMs: Long,
                              planningMs: Long)
}
