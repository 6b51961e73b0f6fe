package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans line up with the epoch-ms times Spark stamps on jobs and tasks. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** A span at a layer boundary: workload -> op -> layer call. */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double)

/** Spans kept in memory and written out when the run ends. Each span's id
  * is published as a Spark local property on the calling thread while it
  * is open, so jobs it launches carry it; jobs launched from threads the
  * program owns do not inherit it and are reported as unattributed. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private var stack: List[Long] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val start = Clock.nowMs
      try body
      finally {
        done.add(Span(id, parent, name, start, Clock.nowMs))
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.toString).orNull)
      }
    }

  def currentSpan: Long = stack.headOption.getOrElse(0L)

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Tracer { val Prop = "perfbench.span" }

/** Executor CPU summed over completed stages; the one listener the
  * untraced run keeps. */
final class CpuListener extends SparkListener {
  val cpuNs = new AtomicLong(0)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) cpuNs.addAndGet(m.executorCpuTime)
  }
}

final case class JobRec(id: Int, span: Long, submit: Long, stages: Seq[Int])
final case class TaskRec(stage: Int, launch: Long, finish: Long, cpuNs: Long,
    runMs: Long, gcMs: Long, shufW: Long, shufR: Long, spill: Long, input: Long)

/** The traced run's scheduler listener: jobs with the span that launched
  * them, and every finished task with its timeline and metrics. */
final class TraceListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toLong).getOrElse(0L)
    jobs.add(JobRec(e.jobId, span, e.time, e.stageIds))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m == null) tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0))
    else tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorCpuTime,
      m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, m.inputMetrics.bytesRead))
  }
}

/** Analysis + optimization + planning time of every finished query
  * execution, from `QueryExecution.tracker`. Registered through
  * `spark.sql.queryExecutionListeners`, so sessions the program creates
  * with `newSession()` report here too. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanListener.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    PlanListener.record(qe)
}

object PlanListener {
  /** (start epoch ms of the first phase, summed phase ms) */
  val plans = new ConcurrentLinkedQueue[(Long, Long)]()
  def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      plans.add((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
  }
}

/** Micro-batch progress of every streaming query, registered through
  * `spark.sql.streaming.streamingQueryListeners` so the per-query
  * sessions the streaming harness builds report here. */
final class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    ProgressListener.batches.add((java.time.Instant.parse(e.progress.timestamp).toEpochMilli, d))
  }
}

object ProgressListener {
  val batches = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
}

/** Waits until the listener bus has delivered every posted event. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
