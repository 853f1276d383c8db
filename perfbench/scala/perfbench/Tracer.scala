package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener bus reported it. `group` is the job group
  * the submitting thread had set; `stages` are the call-site names of the
  * job's stages ("parquet at Tables.scala:57").
  */
final case class JobRec(id: Int, startMs: Long, endMs: Long, group: String,
    stages: Seq[String])

/** Catalyst time of one query execution: analysis + optimization +
  * planning, read from `qe.tracker.phases`.
  */
final case class QeRec(startMs: Long, catalystMs: Long)

/** Execution counters summed over every task and stage since [[reset]]. */
final case class ExecTotals(stages: Long, tasks: Long, taskCpuNs: Long,
    taskRunMs: Long, gcMs: Long, shuffleWriteB: Long, spillB: Long,
    inputB: Long, outputB: Long)

/** The traced run's instrument: a `SparkListener` for jobs, stages and
  * task metrics plus a `QueryExecutionListener` for Catalyst phases. It
  * records only while [[active]] is set, so untraced iterations of the
  * same process pay one volatile read per event.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var active = false

  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val stages, tasks, cpuNs, runMs, gcMs, shuffleW, spill, input,
    output = new LongAdder

  def reset(): Unit = {
    starts.clear(); jobs.clear(); qes.clear()
    Seq(stages, tasks, cpuNs, runMs, gcMs, shuffleW, spill, input, output)
      .foreach(_.reset())
  }

  def jobRecords: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.id)
  def qeRecords: Seq[QeRec] = qes.asScala.toSeq
  def totals: ExecTotals = ExecTotals(stages.sum, tasks.sum, cpuNs.sum,
    runMs.sum, gcMs.sum, shuffleW.sum, spill.sum, input.sum, output.sum)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    starts.put(e.jobId, JobRec(e.jobId, e.time, -1L, group,
      e.stageInfos.map(_.name)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) {
    Option(starts.remove(e.jobId)).foreach(j => jobs.add(j.copy(endMs = e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (active) stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.add(m.executorCpuTime)
      runMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      shuffleW.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.diskBytesSpilled)
      input.add(m.inputMetrics.bytesRead)
      output.add(m.outputMetrics.bytesWritten)
    }
  }

  private def onQe(qe: QueryExecution): Unit = if (active) {
    val phases = qe.tracker.phases
    val catalyst = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val start = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    qes.add(QeRec(start, catalyst))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = onQe(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = onQe(qe)
}
