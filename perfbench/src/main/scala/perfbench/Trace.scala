package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `req` keys the request the span belongs to (a
  * query name plus its pass, or a statement's text); `parent` names the
  * span that caused it when the recorder knows it ("" = unknown, the
  * analysis places it by time containment). Times are nanoseconds on the
  * `System.nanoTime` clock; spans taken from Spark's millisecond event
  * times are converted with [[Trace.epochMsToNano]]. */
final case class Span(req: String, name: String, start: Long, end: Long,
    parent: String = "", attrs: Map[String, String] = Map.empty)

/** In-memory span and counter store. Nothing is written until the run
  * ends; recording is a no-op unless [[enabled]]. */
object Trace {
  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()

  private val nanoMinusEpochMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def epochMsToNano(ms: Long): Long = ms * 1000000L + nanoMinusEpochMs

  def record(s: Span): Unit = if (enabled) spans.add(s)

  /** Time `f` as span `name` of request `req` when tracing is on. */
  def span[A](req: String, name: String, parent: String = "",
      attrs: Map[String, String] = Map.empty)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f finally record(Span(req, name, t0, System.nanoTime(), parent, attrs))
    }

  def drain(): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var s = spans.poll()
    while (s != null) { out += s; s = spans.poll() }
    out.result()
  }
}

/** Scheduler and executor counters for the engine layers (`sched`,
  * `exec`), plus the Catalyst phase spans of every executed query
  * (`catalyst`). Registered only for the traced part of a run; the
  * driver thread drains the listener bus with [[ListenerShim]] before it
  * reads, so events from one query never bleed into the next. */
final class EngineListener(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import EngineListener._

  private val events = new ConcurrentLinkedQueue[Event]()
  private val stageSubmitted = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    events.add(JobStart(e.jobId, e.time))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    events.add(JobEnd(e.jobId, e.time))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
    events.add(StageSubmit(e.stageInfo.stageId))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val sub = Option(stageSubmitted.get(e.stageId)).map(_.longValue)
    val wait = sub.map(s => math.max(0L, e.taskInfo.launchTime - s)).getOrElse(0L)
    if (m != null)
      events.add(TaskDone(wait, m.executorCpuTime / 1000000.0, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory, m.jvmGCTime))
    else events.add(TaskDone(wait, 0, 0, 0, 0, 0, 0, 0))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    events.add(Executed(phases(qe), broadcasts(qe.executedPlan)))
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    events.add(Executed(phases(qe), 0))

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(): Unit = {
    ListenerShim.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Every event delivered since the last call, after the bus is empty. */
  def take(): Seq[Event] = {
    ListenerShim.waitUntilEmpty(spark.sparkContext)
    val out = Seq.newBuilder[Event]
    var e = events.poll()
    while (e != null) { out += e; e = events.poll() }
    out.result()
  }
}

object EngineListener {
  sealed trait Event
  final case class JobStart(id: Int, ms: Long) extends Event
  final case class JobEnd(id: Int, ms: Long) extends Event
  final case class StageSubmit(id: Int) extends Event
  final case class TaskDone(waitMs: Long, cpuMs: Double, runMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, peakMem: Long,
      gcMs: Long) extends Event
  /** Catalyst phases as (name, start epoch ms, end epoch ms). */
  final case class Executed(phases: Seq[(String, Long, Long)], broadcasts: Int)
      extends Event

  def phases(qe: QueryExecution): Seq[(String, Long, Long)] =
    qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }

  private object PlanWalk extends AdaptiveSparkPlanHelper
  /** Broadcast exchanges in the final (post-AQE) physical plan. */
  def broadcasts(plan: SparkPlan): Int =
    PlanWalk.collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }.size
}
