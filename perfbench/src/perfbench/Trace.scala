package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock milliseconds with sub-millisecond resolution, on the same
  * epoch as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans around the benchmark's calls into the engine. Disabled, `span`
  * is a plain call; enabled, it records name, start, end, parent and op
  * id, and tags the Spark jobs the call starts with the span id through a
  * thread-local job property. Spans stay in memory until the run ends. */
final class Tracer(sc: SparkContext) {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
                        startMs: Double, endMs: Double)

  var enabled = false
  private val ids = new AtomicLong(0)
  private var stack = List.empty[Long]
  private var currentOp = 0L
  val spans = mutable.ArrayBuffer.empty[Span]

  def op[T](opId: Long, name: String)(f: => T): T = {
    currentOp = opId
    sc.setLocalProperty(Tracer.OpKey, opId.toString)
    try span(name)(f)
    finally {
      sc.setLocalProperty(Tracer.OpKey, null)
      currentOp = 0L
    }
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val start = Clock.nowMs
      try f
      finally {
        spans += Span(id, parent, currentOp, name, start, Clock.nowMs)
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, if (parent == 0L) null else parent.toString)
      }
    }
}

object Tracer {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
}

/** Per-job record: the op and span that started it, the engine frames of
  * its call site (innermost first), and task totals. */
final class JobRecord(val id: Int, val op: Long, val span: Long, val execution: Long,
                      val site: String, val frames: Seq[String], val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var failedTasks = 0L
}

/** SparkListener that attributes every job to the op/span that started
  * it and sums its tasks' metrics. */
final class JobTrace extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val executionFrames = new ConcurrentHashMap[Long, Seq[String]]()

  private def engineFrames(callSite: String): Seq[String] =
    callSite.split("\n").iterator.map(_.trim).filter(_.startsWith("graft.")).take(12).toSeq

  /** A query stage that adaptive execution submits from its own thread
    * pool has no engine frame on its stack; the SQL execution it belongs
    * to recorded the call site of the action that started it. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionFrames.put(s.executionId, engineFrames(s.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): Option[Long] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).map(_.toLong)
    val stage = e.stageInfos.sortBy(_.stageId).lastOption
    val execution = prop("spark.sql.execution.id").getOrElse(-1L)
    val own = engineFrames(stage.map(_.details).getOrElse(""))
    val frames = if (own.nonEmpty) own else executionFrames.getOrDefault(execution, Nil)
    jobs.put(e.jobId, new JobRecord(e.jobId, prop(Tracer.OpKey).getOrElse(0L),
      prop(Tracer.SpanKey).getOrElse(0L), execution, stage.map(_.name).getOrElse(""),
      frames, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
    if (j != null) j.synchronized {
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time
  }
}

/** Catalyst phase times and file-write counts of every executed query. */
final class QueryTrace extends QueryExecutionListener {
  final case class Rec(startMs: Long, analysisMs: Long, optimizationMs: Long,
                       planningMs: Long, files: Long, bytes: Long)
  val recs = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()

  private def writes(plan: SparkPlan): (Long, Long) = {
    var files, bytes = 0L
    val queue = mutable.Queue[SparkPlan](plan)
    while (queue.nonEmpty) queue.dequeue() match {
      case a: AdaptiveSparkPlanExec => queue.enqueue(a.executedPlan)
      case q: QueryStageExec => queue.enqueue(q.plan)
      case c: CommandResultExec => queue.enqueue(c.commandPhysicalPlan)
      case w: DataWritingCommandExec =>
        files += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        bytes += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
        w.children.foreach(queue.enqueue)
      case other => other.children.foreach(queue.enqueue)
    }
    (files, bytes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    val (files, bytes) = writes(qe.executedPlan)
    recs.add(Rec(start, ms("analysis"), ms("optimization"), ms("planning"), files, bytes))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** The listeners of one traced section. */
final class Listeners(spark: SparkSession) {
  val jobs = new JobTrace
  val queries = new QueryTrace
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(queries)

  /** Deliver every queued listener event, then detach. */
  def close(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(queries)
    spark.sparkContext.removeSparkListener(jobs)
  }

  def jobRecords: Seq[JobRecord] = jobs.jobs.values().asScala.toSeq.sortBy(_.id)
}
