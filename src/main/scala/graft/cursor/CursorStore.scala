package graft.cursor

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.core.FooterSchema
import graft.functions.Retry

/** Watermark (cursor) store — the incremental-sync checkpoint every
  * reference workflow starts and ends with (I1).
  *
  * Replays the reference's protocol: an append-only table
  * `{emitted_id, emitted_at, cursor_date, object}` (ref: constants.py:19-25),
  * watermark = max(cursor_date) per object read via a warehouse query
  * (ref: pipeline/functions/functions.py:58-77), advanced by appending one
  * row per run after a successful load
  * (ref: pipeline/hubspot_2_bigquery_migration/companies_pipeline.py:42-53,129-132).
  *
  * Scale note: the table grows one row per run per object — trivially
  * small forever. The `latest` aggregate is the single permissible
  * driver-side scalar in the engine (everything else stays distributed).
  *
  * Cost: `latest` takes the table's schema from one footer read on the
  * driver (graft.core.FooterSchema) instead of an inference job, so it
  * runs only the aggregate's jobs; `advance` writes its one row in one
  * job, one file.
  */
final class CursorStore(spark: SparkSession, path: String) {

  private def exists: Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Max cursor for an object, or None before the first run
    * (ref: pipeline/functions/functions.py:58-67). Retried with backoff:
    * this is a DRIVER-side read, outside Spark's task-retry umbrella, and
    * a transient storage error here would fail the whole run before any
    * work started (the reference retries its warehouse/GCS reads the same
    * way, ref: config/gcs/gcs.py:204-229). A store whose `cursor_date`
    * is not a TIMESTAMP fails, whichever object is asked for: an
    * aggregate over the wrong type would read as "no cursor yet" for an
    * object with no rows and start a full re-sync. That failure, like a
    * store dir with no data file, is deterministic, so it is not
    * retried.
    */
  def latest(obj: String): Option[Timestamp] =
    Retry.withBackoff(maxRetries = 3, baseDelayMs = 200) {
      if (!exists) None
      else {
        val store = FooterSchema.load(spark, path)
        val found = store.schema.find(_.name == "cursor_date").map(_.dataType)
        if (!found.contains(TimestampType))
          throw new IllegalStateException(s"cursor store '$path': cursor_date is " +
            s"${found.fold("missing")(_.sql)}, expected TIMESTAMP")
        val row = store
          .filter(col("object") === obj)
          .agg(max(col("cursor_date")).as("c"))
          .head()
        Option(row.getTimestamp(0))
      }
    }

  /** Append one cursor row — advance the watermark
    * (ref: companies_pipeline.py:129-132). Retried like `latest`: the
    * append is idempotent-safe to retry because `latest` takes the MAX
    * over rows, so a duplicate advance row from a retried half-failure
    * cannot move the watermark wrongly.
    */
  def advance(obj: String, cursorDate: Timestamp, runId: String,
              emittedAt: Timestamp): Unit = {
    import spark.implicits._
    Retry.withBackoff(maxRetries = 3, baseDelayMs = 200) {
      Seq((runId, emittedAt, cursorDate, obj))
        .toDF("emitted_id", "emitted_at", "cursor_date", "object")
        .coalesce(1) // the one-row local relation has one partition already
        .write.mode("append").parquet(path)
    }
  }
}
