package graft.perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. Times are epoch milliseconds with a
  * fractional part; `parent` is the id of the enclosing span (0 for the
  * run itself). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Span {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curStart = 0.0
    var curEnd = Double.NegativeInfinity
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > Double.NegativeInfinity) total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = curEnd max b
    }
    if (curEnd > Double.NegativeInfinity) total += curEnd - curStart
    total
  }

  /** Length of the union of `children`, clipped to `span`. */
  def childTime(span: Span, children: Seq[Span]): Double =
    covered(span.startMs, span.endMs, children.map(c => (c.startMs, c.endMs)))

  /** A span's duration minus the part its children cover. */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.durMs - childTime(span, children)
}

/** Wall clock with sub-millisecond resolution on the epoch-ms scale
  * Spark's listener events use. */
object Clock {
  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6
}

/** One Spark job as the listener saw it. `op` is the benchmark
  * operation whose thread started it, read from [[Tracer.OpProperty]]. */
final class JobRec(val id: Int, val op: Long, val startMs: Double, val description: String) {
  var endMs: Double = startMs
  var stages = 0
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** One query execution's planner phases and scan-node metrics. */
final case class QeRec(startMs: Double, endMs: Double, analysisMs: Double,
                       optimizationMs: Double, planningMs: Double,
                       scanRows: Long, scanFiles: Long)

/** One micro-batch progress report. */
final case class BatchRec(startMs: Double, durations: Map[String, Long],
                          inputRows: Long, stateRows: Long, stateMemBytes: Long,
                          stateCommitMs: Long, lateRowsDropped: Long) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
}

/** The traced run's listeners: jobs, stages and tasks from a
  * [[SparkListener]], planner phases and scan metrics from a
  * [[QueryExecutionListener]], micro-batches from a
  * [[StreamingQueryListener]]. Everything is kept in memory; the
  * listener buses are drained by `SparkSession.stop()` before the
  * records are read. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  def jobRecs: Seq[JobRec] = synchronized(jobs.values.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val op = prop(Tracer.OpProperty).map(_.toLong).getOrElse(0L)
    val j = new JobRec(e.jobId, op, e.time.toDouble, prop("spark.job.description").getOrElse(""))
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val starts = phases.values.map(_.startTimeMs)
    val ends = phases.values.map(_.endTimeMs)
    if (starts.nonEmpty) {
      val (rows, files) = Tracer.scanMetrics(qe)
      qes.add(QeRec(starts.min.toDouble, ends.max.toDouble,
        ms("analysis"), ms("optimization"), ms("planning"), rows, files))
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty)
      batches.add(BatchRec(
        Instant.parse(p.timestamp).toEpochMilli.toDouble,
        Option(p.durationMs).map(_.asScala.map { case (k, v) => k -> v.longValue }.toMap)
          .getOrElse(Map.empty),
        p.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum))
    }
  }
}

object Tracer {

  /** Thread-local Spark property naming the benchmark operation that
    * started a job. The engine itself sets `spark.job.description`
    * (Snapshots.labeled), so attribution uses a property of its own. */
  val OpProperty = "perfbench.op"

  private object Plans extends AdaptiveSparkPlanHelper

  /** Rows and files read by the scan nodes of one execution, from
    * their SQL metrics (DSv2 scans report input partitions as files). */
  def scanMetrics(qe: QueryExecution): (Long, Long) = {
    def metric(m: Map[String, org.apache.spark.sql.execution.metric.SQLMetric], k: String) =
      m.get(k).map(_.value).getOrElse(0L)
    val per = Plans.collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => (metric(s.metrics, "numOutputRows"), metric(s.metrics, "numFiles"))
      case b: BatchScanExec =>
        (metric(b.metrics, "numOutputRows"), b.inputPartitions.size.toLong)
    }
    (per.map(_._1).sum, per.map(_._2).sum)
  }
}
