package graft.core

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted,
  SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What the Spark jobs of one block of driver code cost: the jobs it ran
  * (call site, times, width), the stages they completed, and the task
  * metric totals. One listener serves every caller that attributes cost
  * to a block — Bench's timed pass (and so QTime, which is Bench's
  * section over a name filter), the ScaleSanity tool and the scaling
  * specs.
  *
  * Listener events arrive on Spark's async listener bus, so [[measure]]
  * waits after `body` until every job it saw start has ended and the
  * record has stopped changing ([[awaitQuiet]]); a task-end event can
  * otherwise land after the caller reads the totals. */
object JobTrace {

  /** `site` is the first stage's name. `frame` is the innermost `graft.`
    * frame of the job's call site: the first stage's own, else — for a
    * query stage that adaptive execution submits from its own thread
    * pool, whose stack holds no engine frame — that of the action that
    * started the job's SQL execution; "" when neither holds one.
    * `endMs` is None for a job still running at the wait's deadline. */
  final case class Job(id: Int, site: String, frame: String, startMs: Long,
                       endMs: Option[Long], maxTasks: Int)

  /** `wallMs` is -1 when Spark reported no submission/completion time. */
  final case class Stage(name: String, tasks: Int, wallMs: Long,
                         shuffleWriteRecords: Long)

  final case class Totals(cpuNs: Long, inputBytes: Long, inputRecords: Long,
                          shuffleWriteBytes: Long, shuffleWriteRecords: Long)

  /** `startMs` is when the listener attached, on the clock of the job
    * times. Jobs in start order, stages in completion order. */
  final case class Record(startMs: Long, jobs: Seq[Job], stages: Seq[Stage], totals: Totals)

  private val QuietMs = 200L
  private val DeadlineMs = 30000L

  /** Run `body` with a listener attached; return its result and what
    * its jobs cost. A job started by another thread meanwhile is
    * recorded too — the record is per session, not per thread. */
  def measure[A](spark: SparkSession)(body: => A): (A, Record) = {
    val l = new Listener
    val a = attached(spark, l)(body)
    (a, l.record)
  }

  /** Run `body` with `l` attached, wait for its events, detach `l` —
    * also when `body` throws (then without the wait). */
  private[graft] def attached[A](spark: SparkSession, l: Listener)(body: => A): A = {
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val a = body
      awaitQuiet(() => l.events, () => l.allEnded)
      a
    } finally sc.removeSparkListener(l)
  }

  /** Block until `settled` holds and `state` has not changed for
    * `stableMs`, or until `maxMs` has passed. */
  def awaitQuiet(state: () => Any, settled: () => Boolean = () => true,
                 stableMs: Long = QuietMs, maxMs: Long = DeadlineMs): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = state()
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      Thread.sleep(25)
      val now = state()
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
      else if (settled() && System.currentTimeMillis() - stableSince >= stableMs) return
    }
  }

  /** Events arrive on one bus thread; `record` is read from another. */
  private[graft] final class Listener extends SparkListener {
    private val startMs = System.currentTimeMillis()
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private var cpuNs, inputBytes, inputRecords, shuffleBytes, shuffleRecords = 0L
    private var seen = 0L
    private val executionFrames = mutable.HashMap.empty[Long, String]

    private def graftFrame(callSite: String): String =
      callSite.split("\n").iterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("")

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized(executionFrames(s.executionId) = graftFrame(s.details))
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val stage = e.stageInfos.headOption
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val own = graftFrame(stage.map(_.details).getOrElse(""))
      val frame = if (own.nonEmpty) own
        else execution.flatMap(executionFrames.get).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, stage.map(_.name).getOrElse("?"), frame,
        e.time, None, e.stageInfos.map(_.numTasks).maxOption.getOrElse(0))
      seen += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = Some(e.time)))
      seen += 1
    }

    // recorded nowhere, but they are activity: the quiet wait must not
    // end while stages and tasks are still being scheduled
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized(seen += 1)

    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized(seen += 1)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
        .getOrElse(-1L)
      stages += Stage(si.name, si.numTasks, wall,
        Option(si.taskMetrics).map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L))
      seen += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        inputBytes += m.inputMetrics.bytesRead
        inputRecords += m.inputMetrics.recordsRead
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      }
      seen += 1
    }

    def events: Long = synchronized(seen)

    def allEnded: Boolean = synchronized(jobs.values.forall(_.endMs.isDefined))

    def record: Record = synchronized {
      Record(startMs, jobs.values.toSeq, stages.toSeq,
        Totals(cpuNs, inputBytes, inputRecords, shuffleBytes, shuffleRecords))
    }
  }
}
