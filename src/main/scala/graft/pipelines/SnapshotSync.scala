package graft.pipelines

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{SchemaRegistry, Tables}
import graft.cursor.CursorStore
import graft.lineage.{Lineage, RunTelemetry}
import graft.operators.{Dedup, Upsert}
import graft.streaming.Sessionize

/** The reference's canonical snapshot-sync lifecycle (SURVEY.md §3.1,
  * ref: pipeline/hubspot_2_bigquery_migration/companies_pipeline.py:96-139):
  *
  *   read cursor → extract rows modified after it (predicate pushed into
  *   the scan) → dedup by pk → stamp lineage → MERGE upsert into the
  *   snapshot → advance cursor.
  *
  * `orders` stands in for the object table (pk o_orderkey, cursor
  * o_orderdate) per FIXTURES.md §2. State (cursor table, snapshot) lives
  * in a temp dir — the driver smoke only checks the returned frame.
  */
object SnapshotSync {

  def run(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-sync").toString
    val runId = Lineage.newRunId()
    val batchTs = Timestamp.valueOf("2002-01-01 00:00:00")
    // run telemetry, mirroring the reference's workflow_monitoring
    // (functions.py:26-40): every materializing action below is captured
    // with rows + elapsed and reported at end of run; detached in the
    // finally so a failed run can't leak the listener onto the
    // long-lived session
    val telemetry = RunTelemetry.attach(spark, runId)
    // reclamation scope: only staging THIS run creates is reclaimed at the
    // end — scratch staged by other work on a shared session is not ours
    val stagingMark = graft.core.Staging.mark(spark)
    try {

    val cursorStore = new CursorStore(spark, s"$tmp/cursor")
    val orders = Tables.load(spark, dir, "orders")

    // The snapshot is a year-partitioned parquet table and every MERGE is
    // partition-scoped (Upsert.partitioned): a batch rewrites only the
    // year partitions its rows land in, never the whole snapshot — the
    // 100 TB MERGE story. o_orderdate is midnight-precision, so the +1 s
    // tombstone bump below never moves a row across a year boundary
    // (partition stability, the partitioned-MERGE contract).
    val snapPath = s"$tmp/orders_snapshot"
    // pk/cursor come from the table registry (the reference reads these
    // from per-table YAML config, bigquery.py:72-90) — the pipeline is
    // table-agnostic, `orders` is just the configured object.
    val spec = SchemaRegistry.default("orders")
    val pk = spec.pk
    val cursorCol = spec.cursorOrFail
    val partCol = "o_year"
    val partOf = year(col(cursorCol))

    // Bootstrap: snapshot holds everything before the initial cursor.
    val initialCursor = Timestamp.valueOf("1999-01-01 00:00:00")
    val bootstrap = orders
      .filter(col(cursorCol) < lit(initialCursor))
      .transform(Lineage.stamp("bootstrap", Timestamp.valueOf("1999-01-01 00:00:00")))
      .withColumn("archived", lit(false))
    Upsert.partitioned(snapPath, bootstrap, pk, cursorCol, partCol, partOf)
    cursorStore.advance("orders", initialCursor, "bootstrap", batchTs)

    // Incremental run: extract strictly-after-cursor (filter pushed to the
    // parquet scan), dedup deterministically, stamp, merge — touching only
    // the years present in the batch; the bootstrap-era partitions'
    // files are not rewritten.
    val cursor = cursorStore.latest("orders").getOrElse(initialCursor)
    val changed = orders
      .filter(col(cursorCol) >= lit(cursor))
      .transform(df => Dedup.latestWins(df, pk, cursorCol))
      .transform(Lineage.stamp(runId, batchTs))
      .withColumn("archived", lit(false))
    Upsert.partitioned(snapPath, changed, pk, cursorCol, partCol, partOf)

    // Second merge pass for soft-deleted objects, mirroring the
    // reference's archived re-scan + upsert with `archived` as the change
    // detector (ref: companies_pipeline.py:113-124): finished orders play
    // the archived partition; their tombstone lands as a flag update.
    // The re-scan is cursor-scoped like the main extract — an UNSCOPED
    // status filter would touch every year partition and turn the
    // partition-pruned MERGE back into a full-table rewrite.
    val archived = orders
      .filter(col("o_orderstatus") === "F" && col(cursorCol) >= lit(cursor))
      .transform(Lineage.stamp(runId, batchTs))
      .withColumn("archived", lit(true))
      // cursor bump so the MERGE cursor-change guard applies the tombstone
      .withColumn(cursorCol, col(cursorCol) + expr("INTERVAL 1 SECOND"))
    Upsert.partitioned(snapPath, archived, pk, cursorCol, partCol, partOf)
    val finalSnapshot = spark.read.parquet(snapPath)

    cursorStore.advance("orders", batchTs, runId, batchTs)

    // Stateful streaming surfaced end-to-end: the flagship run also
    // sessionizes the events stream through the same
    // flatMapGroupsWithState path the streaming tests pin — staged event
    // files, AvailableNow trigger (one bounded drain, the reference's
    // batch cadence), closed-session count into the run report.
    val eventsDir = s"$tmp/events_staged"
    Tables.load(spark, dir, "events").select("user_id", "ts")
      .write.mode("overwrite").parquet(eventsDir)
    val sessionsTable = "entry_sessions_" + runId.replace("-", "")
    val stream = spark.readStream
      .schema(spark.read.parquet(eventsDir).schema)
      .parquet(eventsDir)
    val sq = Sessionize.sessions(stream, gapMs = 5 * 60 * 1000, watermarkDelay = "1 minute")
      .writeStream
      .format("memory").queryName(sessionsTable).outputMode("append")
      .option("checkpointLocation", s"$tmp/sessionize_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val drained = sq.awaitTermination(120000)
    if (!drained) sq.stop() // don't leak a running query onto the session
    val closedSessions = spark.table(sessionsTable).count()
    spark.catalog.dropTempView(sessionsTable) // memory sink holds rows on the driver
    println(s"[run-report] run=$runId action=sessionize closed_sessions=$closedSessions" +
      s" gap=5m drained=$drained")

    // end-of-run report (the reference posts this to chat; here it goes
    // to the run log — delivery to an external channel is the
    // reverse-ETL sink seam)
    telemetry.awaitQuiesce()
    telemetry.summaryLines.foreach(l => println(s"[run-report] $l"))
    finalSnapshot
    } finally {
      telemetry.detach()
      // run-end scratch reclamation: every reliable-mode staging dir this
      // run wrote is deleted (finalSnapshot reads the snapshot path, not a
      // staged path, so the returned frame stays valid)
      graft.core.Staging.reclaim(spark, stagingMark)
    }
  }
}
