package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{FooterSchema, Staging}
import graft.pipelines.CorpusPipeline

/** Streaming corpus preparation — `CorpusPipeline.run` as a foreachBatch
  * fold, composing the streaming pieces the engine already verifies
  * individually: the stage-1 gate+scrub (shared code with the batch
  * pipeline), an exact-dedup fold over a persisted content-hash table,
  * and `ClusterMaintenance` for incremental near-dup labeling. The
  * corpus-global stages (collapse → decontaminate → mix → pack) run in
  * [[finalize]] over the accumulated state through the SAME
  * `CorpusPipeline.finish` the batch path uses — stream and batch can
  * only diverge where their inputs do, and CorpusStreamSpec pins that
  * they don't (split ingest == one batch run).
  *
  * State under `statePath`:
  *  - `docs/`   — gated, scrubbed, exact-dedup-novel docs, append-only;
  *  - `hashes/` — content hashes seen so far (the dedup probe table),
  *    partitioned by the hash's 2-hex-digit prefix (256 buckets) so a
  *    batch probes only its touched buckets;
  *  - `cluster/` — ClusterMaintenance's bands/toks/labels.
  *
  * Exact dedup here is FIRST-ARRIVAL-wins: a doc whose content hash is
  * already in `hashes/` is dropped. The probe reads only the batch's
  * touched hash-prefix buckets and never shuffles a state row (the
  * batch's hash set broadcasts into the pruned scan), so per-batch
  * probe cost is ∝ delta — measured flat under 8× state growth in
  * ShuffleGrowthSpec. When ingest
  * order follows doc_id (an append-only feed's natural order — and the
  * spec's split), first-arrival == the batch pipeline's first-id-wins
  * exactly. An out-of-order backfill that needs min-id semantics
  * retroactively is a batch re-run, not a stream — same posture as the
  * reference's backfill path. Event-time `dedupStream`
  * (dropDuplicatesWithinWatermark) is deliberately NOT the mechanism:
  * corpus identity is content, not a key within a time window, and its
  * watermark-evicted state would re-admit a duplicate arriving a month
  * later — the persisted hash table is the unbounded-stream-safe exact
  * store.
  *
  * Replay safety mirrors ClusterMaintenance: appends are idempotent in
  * effect (a replayed batch re-appends rows; `finalize` collapses exact
  * doc_id duplicates defensively, and duplicated hash rows only make
  * the anti-join drop what it would drop anyway).
  */
object CorpusStream {

  private def docsPath(state: String) = s"$state/docs"
  private def hashesPath(state: String) = s"$state/hashes"
  private def clusterPath(state: String) = s"$state/cluster"

  /** The hash store's partition key — the shared 256-way hex-prefix
    * contract ([[StateStore.hashPrefixBucket]]). */
  private def hashBucketOf(h: Column) = StateStore.hashPrefixBucket(h)

  /** Fold one micro-batch of raw documents into the corpus state.
    *
    * When a benchmark exclusion set has been folded ([[foldBenchmark]]),
    * arriving docs are gated against it FIRST — a contaminated doc
    * never enters `docs/`, the hash store, or the cluster state (the
    * ingest-time tier of the q65/q80 gate; `finalize`'s
    * decontamination stage still runs over the survivors, so a
    * benchmark folded AFTER some corpus batches still catches them). */
  def foldBatch(batch: DataFrame, statePath: String,
                cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
                threshold: Double = 0.5): Unit = {
    if (batch.isEmpty) return
    val admitted = Decontam.gate(batch, statePath)

    // stage-1 gate+scrub — the batch pipeline's own code
    val gated = CorpusPipeline.gateScrub(admitted, cfg)
      .withColumn("content_hash", md5(col("text")))
    // within-batch first wins (deterministic), then drop already-seen.
    // hb = the hash's first two hex digits as an int — the state
    // store's 256-way partition key
    val w = Window.partitionBy("content_hash").orderBy("doc_id")
    val (firsts, nFirsts) = Staging.stageCounted(gated
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .withColumn("hb", hashBucketOf(col("content_hash"))))
    // the dedup probe, ∝ delta instead of ∝ corpus: StateStore prunes
    // the state to the batch's touched hash-prefix buckets and runs the
    // broadcast-delta novelty join — no accumulated-state row is ever
    // shuffled, per batch or ever.
    // LAZY staging ordering invariant: `novel`'s plan re-probes the
    // LIVE hash store until its checkpoint blocks materialize, and the
    // materializing action is the `docs` stage below (an eager
    // checkpoint over a derivation scans — and caches — every block).
    // That stage MUST run before the hashes append mutates the store: a
    // reorder that appends hashes first would make the first real
    // materialization re-probe the mutated store and read back EMPTY,
    // silently dropping the batch's docs. If this site ever needs to
    // move, switch it to eager Staging.stage instead.
    val novel = Staging.stageLazy(StateStore.novelAgainst(hashesPath(statePath),
      firsts, Seq("content_hash"), "hb", col("hb"), 256, nFirsts))

    // DOCS BEFORE HASHES: a crash between the two appends must err
    // toward re-admitting a doc on replay (finalize's dropDuplicates
    // collapses it), never toward losing one — hash-committed-but-
    // doc-missing would make the replay probe drop the doc as seen
    val docs = Staging.stage(novel.drop("content_hash", "hb"))
    docs.write.mode("append").parquet(docsPath(statePath))
    StateStore.appendBucketed(novel.select("content_hash", "hb"),
      hashesPath(statePath), "hb", deltaRows = nFirsts)
    Staging.release(firsts, novel) // fold hygiene: dead once appended
    // incremental near-dup labeling over the SCRUBBED novel docs — the
    // batch pipeline shingles scrubbed text too, so bands agree
    ClusterMaintenance.foldBatch(docs, clusterPath(statePath), threshold)
    Staging.release(docs)
  }

  /** Wire [[foldBatch]] as a foreachBatch sink (AvailableNow by default —
    * the engine's drain-and-stop trigger discipline). Every
    * `compactEvery`-th micro-batch also runs [[compactState]] — the
    * ClusterMaintenance cadence, for the same reason: `docs/` and
    * `hashes/` accrete one small file set per batch. Cadenced on the
    * checkpointed batchId (survives restarts) and run INSIDE the serial
    * foreachBatch callback, so no fold races the swap. Pass 0 to
    * disable. */
  def sink(stream: DataFrame, statePath: String, checkpointDir: String,
           cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
           threshold: Double = 0.5,
           trigger: Trigger = Trigger.AvailableNow(),
           compactEvery: Int = 8): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, statePath, cfg, threshold)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactState(batch.sparkSession, statePath)
      }
      .start()

  /** Compact the append-only corpus state: `docs/` and `hashes/` rewrite
    * through the atomic snapshot swap with exact-row dedup (duplicates
    * arise ONLY from at-least-once replay — both tables are
    * deterministic per doc — so `distinct` restores the exactly-once
    * state), and the cluster state delegates to
    * `ClusterMaintenance.compactState`. */
  def compactState(spark: SparkSession, statePath: String,
                   targetFileBytes: Long = 128L << 20): Unit = {
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileBudget(p: String): Int = {
      val bytes = fs.getContentSummary(new Path(p)).getLength
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    }
    val docsP = docsPath(statePath)
    if (fs.exists(new Path(docsP)))
      graft.sinks.Sinks.snapshotSwap(
        FooterSchema.load(spark, docsP).distinct().repartition(fileBudget(docsP)), docsP)
    // the hash store keeps its hb partitioning through the rewrite —
    // one file per touched bucket (bucket = the compaction granule)
    StateStore.compactBucketed(spark, hashesPath(statePath), "hb",
      targetFileBytes)
    Decontam.compactState(spark, statePath, targetFileBytes)
    ClusterMaintenance.compactState(spark, clusterPath(statePath), targetFileBytes)
  }

  /** Fold a batch of benchmark/eval docs into the persisted exclusion
    * set that [[foldBatch]] gates against — see [[Decontam]]. */
  def foldBenchmark(bench: DataFrame, statePath: String): Unit =
    Decontam.foldBenchmark(bench, statePath)

  /** The corpus-global tail (collapse → decontaminate → temperature mix →
    * packing) over the accumulated state: clusters come from the
    * maintained labeling (no re-shingling), decontamination is the
    * streaming gate (`NearDup.decontaminateStream` — a pure filter, so it
    * applies to the static frame too), and the stage bodies are
    * `CorpusPipeline.finish` verbatim.
    * @return (packed corpus, per-stage row counts for stages 3–6) */
  def finalize(spark: SparkSession, statePath: String,
               benchHashes: Array[String],
               cfg: CorpusPipeline.Config = CorpusPipeline.Config())
      : (DataFrame, Seq[CorpusPipeline.StageReport]) = {
    val report = Seq.newBuilder[CorpusPipeline.StageReport]
    def staged(name: String, df: DataFrame): DataFrame = {
      val s = Staging.stage(df)
      report += CorpusPipeline.StageReport(name, s.count())
      s
    }
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(docsPath(statePath))),
      s"no corpus state at $statePath — fold at least one batch first")
    // dropDuplicates on doc_id: replayed appends duplicate identical rows.
    // The persisted-benchmark gate applies RETROACTIVELY here too: docs
    // that arrived before a benchmark was folded passed the ingest gate
    // unchecked (the state didn't exist yet) — without this pass the
    // foldBatch docstring's "a benchmark folded after some corpus
    // batches still catches them" would be a promise the code doesn't
    // keep. Gating runs on the scrubbed stored text, the same asymmetry
    // the benchHashes stage below already has; pass-through when no
    // benchmark state exists.
    val exact = Decontam.gate(
      StateStore.readPacked(spark, docsPath(statePath)).dropDuplicates("doc_id"),
      statePath)
    val clusters = ClusterMaintenance.labels(spark, clusterPath(statePath))
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
    val decontaminate: DataFrame => DataFrame = corpus =>
      NearDup.decontaminateStream(corpus, benchHashes,
        cfg.contaminationShared.toInt)
    (CorpusPipeline.finish(exact, clusters, decontaminate, cfg, staged),
      report.result())
  }
}
