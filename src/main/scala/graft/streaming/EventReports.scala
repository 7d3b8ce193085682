package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{FooterSchema, Staging}
import graft.sinks.Sinks

/** Streaming cohort-retention and rolling-WAU — q108/q109 as
  * incrementally-maintained reports, completing the event-analytics
  * family's streaming tier (the funnel went first, in [[Funnel]]).
  *
  * The funnel needed a stateful operator because its walk is
  * ORDER-SENSITIVE; retention and WAU are not — their inputs are a
  * per-user MIN (cohort) and a distinct SET of (user, day) activity
  * pairs, both order-insensitive folds. So the right machinery is the
  * engine's persisted-state foreachBatch pattern (CorpusStream's), not
  * flatMapGroupsWithState: each micro-batch folds its delta into two
  * compact state tables, and the reports run the BATCH query bodies
  * ([[retentionReport]] / [[wauReport]] — shared
  * code, not re-derived) over that state. Stream == batch by
  * construction wherever the inputs agree, and EventReportsStreamSpec
  * pins that they do — under reversed arrival order too, which needs no
  * watermark here precisely because the folds are order-insensitive.
  *
  * State under `statePath`:
  *  - `cohorts/` — append-only per-batch signup-week minima
  *    (user_id, cohort); the report takes the running min, compaction
  *    collapses history. Per-batch cost ∝ the batch's signup users.
  *  - `days/` — the distinct (user_id, d) activity pairs, PARTITIONED
  *    BY DAY: a micro-batch's novelty probe prunes to the days the
  *    batch touches and broadcasts the batch's pairs into the pruned
  *    scan (the bucketed-state discipline of CorpusStream's hash
  *    store, with the day as the natural bucket) — no accumulated
  *    state row is ever shuffled, per batch or ever.
  *
  * Replay safety: both tables tolerate duplicate rows (min and distinct
  * absorb them); compaction reclaims the storage.
  *
  * Scale: state is users + users×days — orders of magnitude below the
  * event log the batch reports re-scan; the reports themselves are
  * state-table-sized, so an hourly report over a 100 TB log becomes a
  * scan of a compact activity table instead of the log.
  */
object EventReports {

  private def cohortsPath(state: String) = s"$state/cohorts"
  private def daysPath(state: String) = s"$state/days"

  /** Fold one micro-batch of events (`user_id`, `ts`, `event_type`)
    * into the report state. */
  def foldBatch(batch: DataFrame, statePath: String): Unit = {
    // cohort candidates: the batch's own signup-week min per user —
    // appended, not merged (min over appended candidates at report
    // time == min over all events, because min is associative)
    val bc = batch.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min(date_trunc("week", col("ts"))).as("cohort"))

    // activity pairs: batch-distinct, then the shared bucketed novelty
    // probe with the DAY as the natural bucket — prune to the batch's
    // touched days, broadcast the delta, shuffle ∝ batch. Staged WITH
    // the count in one job (stageCounted): the count is the empty-batch
    // gate (a batch with rows always has ≥ 1 user-day pair), replacing
    // the separate batch.isEmpty source-probe job each micro-batch paid
    val (bd, nBd) = Staging.stageCounted(batch
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct())
    if (nBd == 0L) { Staging.release(bd); return }
    // the two state tables are independent (cohorts absorb replay via
    // min, days via the novelty probe — no ordering contract), and both
    // writes are fixed-cost-dominated at micro-batch sizes: overlap
    graft.core.Par.awaitBoth(
      if (!bc.isEmpty)
        bc.write.mode("append").parquet(cohortsPath(statePath)),
      StateStore.novelAgainst(daysPath(statePath), bd,
          Seq("user_id", "d"), "d", col("d"))
        .repartition(col("d"))
        .write.partitionBy("d").mode("append").parquet(daysPath(statePath)))
    Staging.release(bd) // fold hygiene: the staged delta is dead
  }

  /** Wire [[foldBatch]] as a foreachBatch sink with the engine's
    * compaction cadence (checkpointed batchId, serial callback). */
  def sink(stream: DataFrame, statePath: String, checkpointDir: String,
           trigger: Trigger = Trigger.AvailableNow(),
           compactEvery: Int = 8): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, statePath)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactState(batch.sparkSession, statePath)
      }
      .start()

  /** Compact the state: cohort candidate history collapses to the
    * per-user min; day pairs dedup (replay duplicates only) keeping the
    * day partitioning — one file per day is the compaction granule. */
  def compactState(spark: SparkSession, statePath: String): Unit = {
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(cohortsPath(statePath))))
      Sinks.snapshotSwap(
        FooterSchema.load(spark, cohortsPath(statePath))
          .groupBy("user_id").agg(min("cohort").as("cohort")),
        cohortsPath(statePath))
    if (fs.exists(new Path(daysPath(statePath))))
      Sinks.snapshotSwap(
        FooterSchema.load(spark, daysPath(statePath)).distinct()
          .repartition(col("d")),
        daysPath(statePath), Seq("d"))
  }

  /** cohorts/ as a frame — empty (correct schema) when no folded batch
    * ever contained a signup event, so the report degrades to the empty
    * result batch q108 produces on the same log, instead of a
    * PATH_NOT_FOUND crash. */
  private def cohortsOf(spark: SparkSession, statePath: String): DataFrame =
    if (StateStore.exists(spark, cohortsPath(statePath)))
      StateStore.readPacked(spark, cohortsPath(statePath))
        .groupBy("user_id").agg(min("cohort").as("cohort"))
    else spark.range(0).select(col("id").as("user_id"),
      lit(null).cast("timestamp_ntz").as("cohort"))

  /** days/ as a raw (possibly replay-duplicated) frame — empty with the
    * correct schema before any fold. Consumers dedup at THEIR key
    * granularity, so no report pays two distinct passes. */
  private def daysRaw(spark: SparkSession, statePath: String): DataFrame =
    if (StateStore.exists(spark, daysPath(statePath)))
      StateStore.readPacked(spark, daysPath(statePath)).select("user_id", "d")
    else spark.range(0).select(col("id").as("user_id"),
      lit(null).cast("date").as("d"))

  /** The q108 report body over prepared inputs — shared verbatim by
    * the batch query and [[retention]], so stream and batch can only
    * diverge where their inputs do.
    * @param cohorts (user_id, cohort: week-truncated first signup)
    * @param active  distinct (user_id, wk: week-truncated activity) */
  private[graft] def retentionReport(cohorts: DataFrame,
                                     active: DataFrame): DataFrame =
    cohorts.join(active, Seq("user_id"))
      .filter(col("wk") >= col("cohort"))
      .withColumn("week_offset",
        expr("CAST(datediff(wk, cohort) div 7 AS INT)"))
      .groupBy("cohort", "week_offset")
      .agg(countDistinct(col("user_id")).cast("long").as("active_users"))
      .orderBy("cohort", "week_offset")

  /** The q109 report body over a distinct (user_id, d: date) activity
    * table — shared verbatim by the batch query and [[rollingActive]]. */
  private[graft] def wauReport(days: DataFrame): DataFrame =
    days
      .select(col("user_id"),
        explode(expr("sequence(d, date_add(d, 6))")).as("day"))
      .join(days.select(col("d").as("day")).distinct(), Seq("day"), "left_semi")
      .groupBy("day")
      .agg(countDistinct(col("user_id")).cast("long").as("wau"))
      .select(col("day").cast("timestamp_ntz").as("day"), col("wau"))
      .orderBy("day")

  /** The q108 cohort-retention report over the folded state — the batch
    * query body ([[retentionReport]]) on streaming inputs. */
  def retention(spark: SparkSession, statePath: String): DataFrame =
    retentionReport(
      cohortsOf(spark, statePath),
      daysRaw(spark, statePath)
        .select(col("user_id"),
          date_trunc("week", col("d").cast("timestamp_ntz")).as("wk"))
        .distinct())

  /** The q109 rolling-7-day-WAU report over the folded state — the
    * batch query body ([[wauReport]]) on streaming inputs. */
  def rollingActive(spark: SparkSession, statePath: String): DataFrame =
    wauReport(daysRaw(spark, statePath).distinct())
}
