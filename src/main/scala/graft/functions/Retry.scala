package graft.functions

import scala.util.Random

/** I6 — driver-level retry with exponential backoff + jitter
  * (ref: test/hubspot/retry.py:6-42; GCS variant config/gcs/gcs.py:204-229).
  * Executor-side failures are already retried by Spark
  * (`spark.task.maxFailures`); this wraps driver-side actions (e.g. a
  * snapshot swap racing an external reader).
  *
  * Only an error a retry can fix is retried. A deterministic one — a
  * bad argument or state, an analysis error, an ANSI arithmetic error,
  * an unsupported operation — fails the same way on every attempt, so
  * it rethrows at once instead of after the whole backoff.
  */
object Retry {

  private def deterministic(e: Throwable): Boolean = e match {
    case _: IllegalStateException | _: IllegalArgumentException |
         _: org.apache.spark.sql.AnalysisException | _: ArithmeticException |
         _: UnsupportedOperationException => true
    case _ => false
  }

  def withBackoff[A](maxRetries: Int = 3, baseDelayMs: Long = 1000,
                     jitterMs: Long = 250, rnd: Random = new Random())(f: => A): A = {
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= maxRetries) {
      try return f
      catch {
        // fatal errors (OOM, ThreadDeath) and interrupts rethrow
        // immediately — retrying them wastes the backoff budget and, for
        // an interrupt, fights whoever is trying to stop us
        case e: InterruptedException => throw e
        case e: Throwable if deterministic(e) => throw e
        case scala.util.control.NonFatal(e) =>
          lastErr = e
          attempt += 1
          if (attempt <= maxRetries)
            Thread.sleep((baseDelayMs << (attempt - 1)) + rnd.nextLong(jitterMs.max(1)))
      }
    }
    throw lastErr
  }
}
