package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval, in epoch milliseconds. `layer` is one of
  * op | schema | lake | sources | queries | catalyst | exec.
  */
final case class Span(op: Int, layer: String, name: String,
    t0: Double, t1: Double)

/** Per-operation execution counters, filled from Spark's listener
  * surfaces. Jobs carry their operation in a local property; stages and
  * tasks inherit it through their job.
  */
final class OpExec {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskWaitMs = 0L
  var taskGcMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One statement seen by the QueryExecutionListener. */
final case class Statement(phases: Map[String, (Long, Long)],
    scans: Seq[(String, Int, Long)])

/** Process-wide collector. The listeners are created by Spark (the
  * execution listener by class name from `spark.sql.queryExecutionListeners`,
  * so sessions derived with `newSession()` report too), hence the
  * singleton. Spans stay in memory and are written once at the end.
  */
object Trace {
  val OpKey = "perfbench.op"

  @volatile var tracing = false

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var currentOp: Int = -1
  /** True while an operation's timed call runs: jobs started then, on
    * any thread, belong to it (a result check's jobs do not). */
  @volatile var inOp = false

  /** Time one call into a layer. The per-op sums are always kept (they
    * are cheap); the span itself only when tracing. */
  val layerMs = mutable.Map.empty[String, Double]
  def span[T](layer: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val key = s"$layer.$name"
      layerMs(key) = layerMs.getOrElse(key, 0.0) + (t1 - t0) / 1e6
      if (tracing) spans.synchronized {
        spans += Span(currentOp, layer, name, epochMs(t0), epochMs(t1))
      }
    }
  }

  // ---- Spark job / stage / task events --------------------------------
  /** Jobs started by operations (tagged, or while one runs). */
  val jobsStarted = new AtomicLong
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  val exec = new ConcurrentHashMap[Int, OpExec]()
  def execOf(op: Int): OpExec = exec.computeIfAbsent(op, _ => new OpExec)

  /** Installed in every run: the job counter behind `jobs_per_op`; the
    * stage and task detail only when tracing. */
  object Listener extends SparkListener {
    private def opOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(OpKey)))
        .flatMap(_.toIntOption).getOrElse(-1)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tagged = opOf(e.properties)
      if (tagged >= 0 || inOp) jobsStarted.incrementAndGet()
      if (tracing) {
        // a job started off the operation's thread (no property)
        // belongs to the operation running at the time
        val op = if (tagged >= 0) tagged else currentOp
        jobStart.put(e.jobId, (op, e.time))
        e.stageIds.foreach(s => stageOp.put(s, op))
        val x = execOf(op)
        x.synchronized { x.jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracing) {
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        val x = execOf(op)
        x.synchronized { x.jobIntervals += ((t0, e.time)) }
        spans.synchronized {
          spans += Span(op, "exec", "job", t0.toDouble, e.time.toDouble)
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (tracing) {
        val id = e.stageInfo.stageId
        stageSubmit.put(id,
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
        val x = execOf(stageOp.getOrDefault(id, currentOp))
        x.synchronized { x.stages += 1 }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (tracing) {
        val i = e.stageInfo
        val op = stageOp.getOrDefault(i.stageId, currentOp)
        for (a <- i.submissionTime; b <- i.completionTime)
          spans.synchronized {
            spans += Span(op, "exec", "stage", a.toDouble, b.toDouble)
          }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracing) {
      val x = execOf(stageOp.getOrDefault(e.stageId, currentOp))
      val m = e.taskMetrics
      val submit = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
      x.synchronized {
        x.tasks += 1
        x.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submit)
        if (m != null) {
          x.taskRunMs += m.executorRunTime
          x.taskCpuNs += m.executorCpuTime
          x.taskGcMs += m.jvmGCTime
          x.inputBytes += m.inputMetrics.bytesRead
          x.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
        }
      }
    }
  }

  // ---- catalyst phases and scans, per statement -----------------------
  private val pending = mutable.ArrayBuffer.empty[Statement]

  /** Statements delivered since the last call; the caller drains the
    * listener bus first, so these are exactly the operation's. */
  def takeStatements(): Seq[Statement] = pending.synchronized {
    val s = pending.toList; pending.clear(); s
  }

  private object Plans extends AdaptiveSparkPlanHelper

  def onQuery(qe: QueryExecution): Unit = if (tracing) {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs, v.endTimeMs) }
    val scans =
      try Plans.collectWithSubqueries(qe.executedPlan) {
        case b: BatchScanExec =>
          (b.table.name(), b.inputPartitions.size,
            b.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
      }
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    val op = currentOp
    pending.synchronized { pending += Statement(phases, scans) }
    spans.synchronized {
      phases.foreach { case (name, (a, b)) =>
        spans += Span(op, "catalyst", name, a.toDouble, b.toDouble)
      }
    }
  }

  /** The union length of intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def execJson(op: Int): Map[String, Any] = {
    val x = Option(exec.get(op)).getOrElse(new OpExec)
    x.synchronized {
      Map("jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
        "task_run_ms" -> x.taskRunMs, "task_cpu_ms" -> x.taskCpuNs / 1e6,
        "task_wait_ms" -> x.taskWaitMs, "task_gc_ms" -> x.taskGcMs,
        "input_bytes" -> x.inputBytes, "shuffle_bytes" -> x.shuffleBytes,
        "job_busy_ms" -> unionMs(x.jobIntervals.toSeq))
    }
  }

  def spansSnapshot: Seq[Span] = spans.synchronized(spans.toList)
}

/** Registered by class name through `spark.sql.queryExecutionListeners`. */
class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = Trace.onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = Trace.onQuery(qe)
}
