package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Staging
import graft.llm.Shingles

/** Streaming benchmark decontamination — the persisted-state tier of the
  * q65/q80 gate: the benchmark's shingle-hash set lives as a bucketed
  * state table, arriving corpus micro-batches are gated against it with
  * the `StateStore` novelty discipline, and the benchmark itself can
  * GROW over time (new eval suites fold in incrementally) without ever
  * rebuilding or re-broadcasting a driver-side array.
  *
  * Where it sits relative to the existing gates:
  *  - q65/q80/q81 (batch): one-shot joins/bloom probes — the benchmark
  *    is re-shingled per run;
  *  - `NearDup.decontaminateStream`: a stateless per-row filter against
  *    a DRIVER-COLLECTED hash array — right for one small eval suite
  *    baked into a pipeline, wrong once the exclusion set outgrows a
  *    literal or must be maintained by a separate ingest;
  *  - this module: the exclusion set is STATE. `foldBenchmark` appends
  *    novel hashes (dedup via the pruned-probe novelty join), `gate`
  *    drops contaminated docs with state-scan-only IO.
  *
  * The gate is EXACT (the distinct-hash set, not a bloom) — bucketed
  * storage makes the memory argument the bloom filter answered moot:
  * state is on disk, probes read only the buckets the batch's own
  * hashes touch, and no state row is ever shuffled (the batch's hash
  * set rides broadcasts both ways). Per-batch shuffle is batch-sized
  * regardless of accumulated benchmark size — measured flat in
  * DecontamStreamSpec. False positives: zero, by construction.
  *
  * Replay safety: `foldBenchmark` appends are idempotent in effect
  * (duplicate hash rows change no gate decision — the probe distincts);
  * `gate` is a pure filter, safe to re-run.
  */
object Decontam {

  private[streaming] def ngramsPath(state: String) = s"$state/bench_ngrams"

  /** 256-way partition key of a shingle-hash row — the shared
    * hex-prefix contract ([[StateStore.hashPrefixBucket]]). */
  private def hashBucketOf(h: Column) = StateStore.hashPrefixBucket(h)

  /** Fold a batch of benchmark/eval documents (`doc_id`, `text`) into
    * the persisted exclusion set: distinct shingle hashes, novel-only
    * append (the probe prunes to touched buckets; the batch's hashes
    * ride a broadcast). Null-shingle docs contribute nothing, matching
    * the batch gate's equi-join semantics. */
  def foldBenchmark(bench: DataFrame, statePath: String): Unit = {
    val p = ngramsPath(statePath)
    // the staged-count IS the empty gate (an empty bench yields zero
    // hashes, and nh == 0 short-circuits exactly like the old
    // bench.isEmpty — appendBucketed skips zero-row deltas) — one job
    // instead of a source-scan probe plus the staging job
    val (hs, nh) = Staging.stageCounted(Shingles.shingleHashes(bench)
      .select("h").filter(col("h").isNotNull).distinct()
      .withColumn("hb", hashBucketOf(col("h"))))
    if (nh == 0L) { Staging.release(hs); return }
    val novel = StateStore.novelAgainst(p, hs, Seq("h"), "hb", col("hb"),
      256, nh)
    StateStore.appendBucketed(novel.select("h", "hb"), p, "hb",
      deltaRows = nh)
    Staging.release(hs) // fold hygiene: the staged hashes are dead
  }

  /** Benchmark-state byte size below which [[gate]] broadcasts the
    * STATE side instead of the batch's hash set (one getContentSummary
    * call — no job): a young exclusion set gated against a bulk corpus
    * batch is q65's exact broadcast-bench shape, and the delta-broadcast
    * path would build a corpus-sized hash broadcast to probe it.
    * The threshold is [[StateStore.stateBroadcastBytes]] — ONE policy
    * for every state-vs-delta broadcast decision: the number is an
    * ON-DISK size, and hash columns decompress 5–10× into the broadcast
    * relation, so a per-site 64 MB gate (this site's first cut) could
    * push a several-hundred-MB broadcast onto the driver and every
    * executor from a near-threshold benchmark. */
  private val stateBroadcastBytes = StateStore.stateBroadcastBytes

  /** Drop documents sharing at least `minShared` distinct shingle
    * hashes with the persisted benchmark set — q65's contamination rule
    * against state instead of a literal. Pass-through when no benchmark
    * has been folded. Which side broadcasts is decided per call, and
    * BOTH sides are gated by the one [[StateStore.stateBroadcastBytes]]
    * policy: a small exclusion set rides the broadcast itself (the
    * corpus side is then ONE map-side join + agg, never staged, never
    * shuffled before the per-doc partial count — q65's batch plan); a
    * benchmark that outgrew the broadcast is partition-pruned to the
    * batch's touched buckets and only scanned, with the BATCH's hash
    * set riding the broadcasts — which its own size gate verifies is
    * micro-batch-sized; and when neither side fits (a bulk backfill
    * gated against an accumulated set) the gate degrades to one keyed
    * shuffle join, the honest bulk-vs-bulk cost, rather than build an
    * unbounded broadcast on either side. */
  def gate(batch: DataFrame, statePath: String, minShared: Int = 2): DataFrame = {
    val spark = batch.sparkSession
    val p = ngramsPath(statePath)
    if (!StateStore.exists(spark, p)) return batch
    val stateBytes = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    // flaggedBounded: whether `flagged` is micro-batch-bounded (safe to
    // broadcast into the kept-set anti-join below) — only the bulk-batch
    // fallback, where flagged can be corpus-sized, says no
    val (flagged, flaggedBounded) =
      if (stateBytes <= stateBroadcastBytes) {
        // small-state regime: broadcast the exclusion set as-is — NOT
        // distinct'ed first (that exchange would be the one shuffle that
        // grows with the benchmark, ShuffleGrowthSpec's subject).
        // Replay-duplicated hash rows only duplicate join output, and
        // the per-doc countDistinct below collapses them exactly.
        val benchH = StateStore.readPacked(spark, p).select("h")
        (Shingles.shingleHashes(batch).filter(col("h").isNotNull)
          .join(broadcast(benchH), Seq("h"))
          .groupBy("doc_id")
          .agg(countDistinct(col("h")).as("n_shared"))
          .filter(col("n_shared") >= minShared)
          .select("doc_id"), true)
      } else {
        // accumulated-state regime: the batch's (doc_id, h) pairs are
        // staged once and counted (the count feeds the broadcast-side
        // decision below AND materializes the staging in one job)
        val (pairs, nPairs) = Staging.stageCounted(Shingles.shingleHashes(batch)
          .filter(col("h").isNotNull)
          .withColumn("hb", hashBucketOf(col("h"))))
        // which side broadcasts, part 2: with the STATE past the
        // broadcast bound, this path rides the BATCH's distinct hash
        // set on broadcasts instead — which is only safe while the
        // batch itself is micro-batch-sized. A bulk batch (a
        // corpus-sized backfill gated against an accumulated set)
        // would otherwise build an unbounded batch-hash broadcast —
        // the mirror image of the state-broadcast hazard the 8 MB
        // policy exists for. Same policy number, estimated in memory:
        // nPairs (≥ the distinct hash count) × ~64 B per UnsafeRow'd
        // 32-hex hash vs the policy's on-disk bound × the documented
        // ~8× decompression.
        if (nPairs * 64L <= stateBroadcastBytes * 8) {
          val batchHashes = pairs.select("h", "hb").distinct()
          // state ∩ batch: pruned scan vs broadcast batch hashes
          val seen = StateStore.prunedByTouched(spark, p, "hb", batchHashes,
            col("hb"), 256)
            .join(broadcast(batchHashes.select("h")), Seq("h"))
            .select("h").distinct()
          (pairs
            .join(broadcast(seen), Seq("h"))
            .groupBy("doc_id")
            .agg(countDistinct(col("h")).as("n_shared"))
            .filter(col("n_shared") >= minShared)
            .select("doc_id"), true)
        } else {
          // both sides past the bound: no broadcast is safe, so pay
          // ONE keyed shuffle join (state ⋈ pairs on h) — the honest
          // cost of bulk-vs-bulk. No bucket pruning (a corpus-sized
          // hash set touches every bucket with near-certainty; the
          // deltaRows hint makes prunedByTouched skip the wasted
          // collect) and no state-side distinct (replay-duplicated
          // state rows only duplicate join output, which the per-doc
          // countDistinct collapses exactly).
          val slice = StateStore.prunedByTouched(spark, p, "hb", pairs,
            col("hb"), 256, deltaRows = nPairs)
          (pairs
            .join(slice.select("h"), Seq("h"))
            .groupBy("doc_id")
            .agg(countDistinct(col("h")).as("n_shared"))
            .filter(col("n_shared") >= minShared)
            .select("doc_id"), false)
        }
      }
    // the kept-set anti-join: `flagged` is batch-doc-bounded in the
    // micro-batch regimes (broadcast), corpus-sized in the bulk-batch
    // fallback (leave the strategy to the planner rather than force a
    // driver-sized copy)
    if (flaggedBounded) batch.join(broadcast(flagged), Seq("doc_id"), "left_anti")
    else batch.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** Compact the exclusion set (append-only, one file set per folded
    * benchmark batch) — the shared bucketed-compaction discipline. */
  def compactState(spark: SparkSession, statePath: String,
                   targetFileBytes: Long = 128L << 20): Unit =
    StateStore.compactBucketed(spark, ngramsPath(statePath), "hb",
      targetFileBytes)
}
