package graft.lineage

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.JobTrace

/** One materializing action of a run: what ran, how many rows the root
  * operator emitted, how long it took. */
final case class RunReport(runId: String, action: String, rows: Long, elapsedMs: Long)

/** I5 (second half) — run telemetry. Every reference workflow posts a
  * per-run report with elapsed time and rows processed
  * (ref: pipeline/functions/functions.py:26-40 `workflow_monitoring`;
  * config/google_chat/google_chat.py:23-32 formats elapsed as "Xh Ym Zs",
  * :35-107 renders the card).
  *
  * Spark-native shape: a [[QueryExecutionListener]] captures every
  * materializing action (count, collect, write) of the session with the
  * row count straight from the executed plan's `numOutputRows` metric —
  * no second pass over the data, no driver-side accounting. The report
  * surfaces three ways: raw [[RunReport]]s, a small DataFrame
  * ([[reportFrame]], appendable to a run-log table like the reference's
  * monitoring dataset), and formatted lines ([[summaryLines]], the
  * "post to chat" payload — delivery itself goes through the
  * reverse-ETL sink seam).
  *
  * Listener callbacks arrive on the async listener bus; callers that
  * need a complete report after an action should poll [[reports]]
  * briefly (tests do) or read it at end-of-run like [[graft.pipelines.SnapshotSync]].
  */
final class RunTelemetry private (spark: SparkSession, runId: String)
    extends QueryExecutionListener {

  private val captured = new ConcurrentLinkedQueue[RunReport]()

  /** Root-most `numOutputRows` of the executed plan. AQE wraps the real
    * plan in AdaptiveSparkPlanExec / QueryStageExec nodes whose own
    * metric maps are empty and whose inner plan is held in a field, not
    * in `children` — a naive tree collect sees nothing. BFS from the
    * root, descending through the wrappers, and take the first operator
    * that carries the metric (the closest to the root = the action's
    * output row count; for writes that is the write command's
    * BasicWriteJobStatsTracker rows). */
  private def outputRows(plan: SparkPlan): Long = {
    val queue = scala.collection.mutable.Queue[SparkPlan](plan)
    while (queue.nonEmpty) {
      queue.dequeue() match {
        case a: AdaptiveSparkPlanExec => queue.enqueue(a.executedPlan)
        case q: QueryStageExec => queue.enqueue(q.plan)
        case c: CommandResultExec => queue.enqueue(c.commandPhysicalPlan)
        case other =>
          other.metrics.get("numOutputRows") match {
            case Some(m) => return m.value
            case None => other.children.foreach(queue.enqueue)
          }
      }
    }
    -1L
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    captured.add(
      RunReport(runId, funcName, outputRows(qe.executedPlan), durationNs / 1000000L))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    captured.add(RunReport(runId, s"$funcName:failed", -1L, -1L))

  /** Record an externally-computed fact into the same report stream the
    * listener feeds — e.g. a composed pipeline's per-stage row counts,
    * which are produced by the pipeline's own staged counts rather than
    * by one materializing action the listener could attribute. Rides the
    * same [[RunReport]] struct, [[reportFrame]], and [[summaryLines]] as
    * listener-captured actions. */
  def record(action: String, rows: Long, elapsedMs: Long = -1L): Unit =
    captured.add(RunReport(runId, action, rows, elapsedMs))

  def reports: Seq[RunReport] = captured.asScala.toSeq

  /** Listener events arrive asynchronously; wait until the captured set
    * has been stable for `stableMs` (or `maxMs` elapsed) so an
    * end-of-run report includes the trailing actions. */
  def awaitQuiesce(stableMs: Long = 200, maxMs: Long = 3000): Unit =
    JobTrace.awaitQuiet(() => captured.size(), stableMs = stableMs, maxMs = maxMs)

  /** The run report as a DataFrame, elapsed formatted the way the
    * reference's chat card shows it (exercises F.durationPretty / F19). */
  def reportFrame: DataFrame = {
    val s = spark
    import s.implicits._
    reports.toDF()
      .withColumn("elapsed_pretty",
        graft.functions.F.durationPretty(col("elapsedMs") / 1000))
  }

  /** Chat-message lines, one per action (functions.py:32-39 shape). */
  def summaryLines: Seq[String] =
    reports.map(r =>
      s"run=${r.runId} action=${r.action} rows=${r.rows} elapsed=${r.elapsedMs}ms")

  def detach(): Unit = spark.listenerManager.unregister(this)
}

object RunTelemetry {
  def attach(spark: SparkSession, runId: String): RunTelemetry = {
    val t = new RunTelemetry(spark, runId)
    spark.listenerManager.register(t)
    t
  }
}
