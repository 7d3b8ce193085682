package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.FooterSchema

/** The bucketed-state probe discipline, in ONE place: streaming state
  * tables (content hashes, band indexes, token sets, activity pairs)
  * are partitioned by a stable hash bucket of their probe key so a
  * micro-batch reads only the buckets its delta touches, and the probes
  * broadcast the (bounded) delta so no accumulated-state row is ever
  * shuffled. CorpusStream, ClusterMaintenance, and EventReports all
  * fold through these helpers — the per-batch-∝-delta claim is
  * maintained here, measured in ShuffleGrowthSpec.
  */
object StateStore {

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Existence probe with a healing side effect: a crash inside
    * `snapshotSwap`'s rename window leaves NO live dir with the
    * pre-swap snapshot in `__old` — without the heal, every caller
    * that treats absence as "no state yet" would silently restart the
    * state from empty (fatal for non-rederivable state like the CMS
    * ledger; silent dup re-admission for the hash stores). Every state
    * reader in the engine gates on this probe, so healing here covers
    * them all; the two extra existence checks are a no-op outside the
    * crash shape. */
  def exists(spark: SparkSession, path: String): Boolean = {
    graft.sinks.Sinks.recoverSwap(spark, path)
    // A dir holding no data file (only _SUCCESS, layout tags, tmp tags)
    // is NOT state: a partitionBy write of an empty delta creates exactly
    // that shape (the dynamic-partition writer opens files only when a
    // row arrives), and treating it as present would send every later
    // reader into the footer read of a layout with no footer — which
    // throws, permanently wedging the fold. The probe is the shared
    // data-file walk (graft.core.FooterSchema), which stops at the first
    // data file: a bucketed layout costs two listings, no job.
    FooterSchema.hasData(spark, path)
  }

  /** Does `path` hold the bucketed (partition-dir) layout? One listing,
    * not a schema inference — this runs on every fold. */
  def isBucketed(spark: SparkSession, path: String, bucketCol: String): Boolean = {
    val p = new Path(path)
    val f = fs(spark, path)
    f.exists(p) && f.listStatus(p)
      .exists(_.getPath.getName.startsWith(bucketCol + "="))
  }

  /** Read a small one-line tag file inside a state layout (underscore
    * names — parquet readers skip them). A missing or empty file reads
    * as absent; [[writeTag]] publishes via tmp+rename, so a reader never
    * observes a torn value. */
  def readTag(spark: SparkSession, path: String, name: String): Option[String] = {
    val f = fs(spark, path)
    val m = new Path(path, name)
    if (!f.exists(m)) None
    else {
      val in = f.open(m)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
      if (s.isEmpty) None else Some(s)
    }
  }

  /** Write a tag file (see [[readTag]]) via tmp + atomic rename
    * (mirroring Sinks.writeMarkerAtomic): a crash mid-write leaves only
    * an orphaned tmp (swept by the next write), never a PARTIAL but
    * parsable value at the tag name — e.g. a torn '3:' from '3:3' would
    * name a banding no fold uses. A crash before the rename reads as
    * ABSENT, which every caller treats as the safe direction. Tmp names
    * keep the underscore prefix so parquet listings skip them too. */
  def writeTag(spark: SparkSession, path: String, name: String,
               value: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, path)
    val tag = new Path(path, name)
    val tmp = new Path(path, s"$name.tmp-${java.util.UUID.randomUUID()}")
    // sweep tmps orphaned by writers that died between create and rename
    // (ours doesn't exist yet — unique suffix)
    f.globStatus(new Path(path, s"$name.tmp-*"))
      .foreach(st => f.delete(st.getPath, false))
    val out = f.create(tmp, true)
    try out.write(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(tag.toUri, conf)
    fc.rename(tmp, tag, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Remove a tag file — absence is the tag contract's "no value", so
    * deletion is how a maintenance op retires its in-progress marker. */
  def deleteTag(spark: SparkSession, path: String, name: String): Unit =
    fs(spark, path).delete(new Path(path, name), false)

  /** The banded-state guard of the streaming folds (ClusterMaintenance,
    * PageRankStream): band rows mean nothing under another banding. Refuses
    * (IllegalArgumentException) while `marker` holds an interrupted
    * [[reband]], when the band store's `_banding` tag names another
    * setting, and when the store holds data but no tag — the folds stamp
    * it before their first append and compaction carries it, so such a
    * store was not written by a fold. Passing folds call [[stampBanding]]
    * before appending. */
  def checkBanding(spark: SparkSession, statePath: String, marker: String,
                   bands: String, tag: String): Unit = {
    // heal a swap-window crash of either store first (compaction swaps
    // both), so the tags read from the restored directories
    graft.sinks.Sinks.recoverSwap(spark, marker)
    val present = exists(spark, bands)
    readTag(spark, marker, "_rebanding").foreach { t =>
      require(requirement = false,
        s"state at $statePath has an interrupted re-band to $t; " +
          "re-run rebandTo to complete it before folding")
    }
    val remedy = "re-banding existing state is a batch rebuild " +
      "(rebandTo / new statePath), not a fold"
    readTag(spark, bands, "_banding") match {
      case Some(t) =>
        require(t == tag, s"band state at $bands was built under banding " +
          s"$t; refusing to fold under $tag — $remedy")
      case None =>
        require(!present, s"band state at $bands has no _banding tag; " +
          s"refusing to fold under $tag — $remedy")
    }
  }

  /** Stamp the band store's `_banding` tag BEFORE its first append, so a
    * crash before the appends replays against a tagged store. The tag
    * file is hidden, so a tag-only directory still reads as "no state". */
  def stampBanding(spark: SparkSession, bands: String, tag: String): Unit =
    if (readTag(spark, bands, "_banding").isEmpty)
      writeTag(spark, bands, "_banding", tag)

  /** Run a re-band `rebuild` to `tag`: the `_rebanding` marker lands
    * FIRST, on `marker` (a store the rebuild never swaps), and
    * [[checkBanding]] refuses folds until the restamp that follows
    * `rebuild` — the band swap drops the `_banding` tag with the
    * directory it replaces, so between the swap and the restamp the
    * store is untagged and holds rows of either banding. Any crash
    * leaves the marker; re-run. */
  def reband(spark: SparkSession, marker: String, bands: String,
             tag: String)(rebuild: => Unit): Unit = {
    writeTag(spark, marker, "_rebanding", tag)
    rebuild
    writeTag(spark, bands, "_banding", tag)
    deleteTag(spark, marker, "_rebanding")
  }

  /** Exact row count of a parquet layout from file FOOTERS, on the
    * driver — no Spark job. The per-fold sizing decisions (bulk-ingest
    * escape ratios) need the count every micro-batch, and a footer walk
    * over the layout's files costs milliseconds where a count() job pays
    * scheduling overhead each time. The files are the shared data-file
    * walk's (graft.core.FooterSchema: tags and hidden entries skipped).
    * At a scale where the file census itself is large, the count is only
    * steering a ratio test — callers tolerate the listing cost or
    * precompute. */
  def parquetRowCount(spark: SparkSession, path: String): Long =
    FooterSchema.dataFiles(spark, path).map(FooterSchema.rowCount(spark, _)).sum

  /** Delta row count below which a bucketed append writes through a
    * FIXED small task count (8, hash-partitioned by the bucket column)
    * instead of the full per-bucket repartition: the layout is identical
    * (one file per touched bucket either way), but at micro-batch delta
    * sizes the write is all fixed cost — parquet writer open/close and
    * commit per file — and 8 tasks of ~4 files each beat BOTH measured
    * alternatives (one task serializing all 32 files: ~0.6 s/append;
    * 32 near-empty tasks: task overhead exceeds the file work). Large
    * deltas (a bulk ingest) keep the full-width path so each bucket is
    * one task's one well-sized file. */
  private val smallDeltaAppendRows = 1L << 18
  private val smallDeltaAppendTasks = 8

  /** Append a delta into the bucketed layout. Pass `deltaRows` when the
    * caller already has the count (most folds do — it feeds their
    * novelty-probe hints): small deltas then take the fixed-width write
    * path above; unknown (-1) or large deltas repartition by bucket so
    * each bucket is one task's one file. The bucket count is a layout
    * constant of the caller's state: a new value means a new state
    * path. */
  def appendBucketed(delta: DataFrame, path: String, bucketCol: String,
                     deltaRows: Long = -1L): Unit = {
    // An EMPTY delta must not touch the layout: partitionBy writes no
    // files for zero rows but still creates the dir + _SUCCESS, a shape
    // [[exists]] must then reject — so skip the write outright. Known
    // counts (most folds) skip free; when the count is unknown the
    // isEmpty probe is paid only on the fold that would CREATE the
    // layout (appending nothing to an existing layout is already
    // harmless).
    if (deltaRows == 0L) return
    if (deltaRows < 0L && !exists(delta.sparkSession, path) && delta.isEmpty)
      return
    val arranged =
      if (deltaRows >= 0 && deltaRows <= smallDeltaAppendRows)
        delta.repartition(smallDeltaAppendTasks, col(bucketCol))
      else delta.repartition(col(bucketCol))
    arranged.write.partitionBy(bucketCol).mode("append").parquet(path)
  }

  /** 256-way partition key of a hex-hash state row: first two hex
    * digits of the (md5) hash — ONE definition of the hash-store bucket
    * contract, shared by the corpus dedup store and the decontamination
    * exclusion set (their layouts must bucket identically or a pruned
    * probe reads the wrong dirs). */
  def hashPrefixBucket(h: Column): Column =
    conv(substring(h, 1, 2), 16, 10).cast("int")

  /** Compact an append-only bucketed state table: exact-row dedup
    * (duplicates arise only from at-least-once replay), ⌈bytes/target⌉
    * files repartitioned by the bucket column, and the atomic snapshot
    * swap.
    *
    * `preserveTags` names the caller's layout tags (`_banding`, an
    * in-progress `_rebanding` marker) to carry across the swap: their
    * values are read BEFORE the directory is replaced and written into
    * the staged directory before it goes live, so the swap publishes
    * data and tags together. Without this a compaction silently reverts
    * a tagged store to untagged, which the banding guard refuses. Tags
    * absent before the swap stay absent. */
  def compactBucketed(spark: SparkSession, path: String, bucketCol: String,
                      targetFileBytes: Long = 128L << 20,
                      preserveTags: Seq[String] = Nil): Unit =
    if (exists(spark, path)) {
      val p = new Path(path)
      val bytes = fs(spark, path).getContentSummary(p).getLength
      val files = math.max(1L,
        (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val kept = preserveTags.flatMap(t => readTag(spark, path, t).map((t, _)))
      graft.sinks.Sinks.snapshotSwap(
        FooterSchema.load(spark, path).distinct().repartition(files, col(bucketCol)),
        path, Seq(bucketCol),
        staged = tmp => kept.foreach { case (t, v) => writeTag(spark, tmp, t, v) })
    }

  /** On-disk bytes per scan task for state-table reads ([[readPacked]]).
    * Input-split sizing is session-wide (`maxPartitionBytes` +
    * `openCostInBytes` charge ~4 MB per FILE), and the bucketed state
    * layouts are exactly the many-tiny-files shape that defeats it: a
    * ~2 MB 256-bucket store accumulates hundreds of small part files
    * across folds and scans as a 144–223-task stage (measured on the
    * q148 trace) — per-task fixed cost, zero bytes. Per-READ packing
    * caps the task count from the layout's actual byte size instead,
    * without touching the session confs the bench's comparability (and
    * every non-state scan) rides on. 8 MiB on-disk ≈ a few tens of MB
    * decompressed per task — the same memory class the broadcast-side
    * policy above commits to. */
  private val readPackBytes = 8L << 20

  /** Files per packed scan task ([[readPacked]]'s second bound): a task
    * pays a parquet footer read + stream open PER FILE, sequentially —
    * collapsing a 500-tiny-file layout to ONE task would serialize 500
    * opens that the unpacked scan at least parallelized. 32 mirrors the
    * session default's own per-split file bound (maxPartitionBytes /
    * openCostInBytes = 128 MB / 4 MB). */
  private val readPackFilesPerTask = 32L

  /** Read a state layout with its scan tasks PACKED to the layout's
    * actual size: max(⌈bytes / readPackBytes⌉, ⌈files / 32⌉) partitions
    * via coalesce — a narrow, value-neutral cap (no shuffle, no row
    * changes; filters and column pruning push through a Repartition
    * node, so bucket-pruned probes keep their PartitionFilters). One
    * getContentSummary call on the driver (bytes AND file count), no
    * job; the schema is one footer's (graft.core.FooterSchema), so no
    * inference job either. Large layouts keep byte-proportional
    * parallelism and many-file layouts keep ≥ 1 task per 32 files
    * (parallel file opens); only the tasks-with-no-bytes fixed cost is
    * removed. */
  def readPacked(spark: SparkSession, path: String): DataFrame = {
    val cs = fs(spark, path).getContentSummary(new Path(path))
    val byBytes =
      (cs.getLength + readPackBytes - 1) / readPackBytes
    val byFiles =
      (cs.getFileCount + readPackFilesPerTask - 1) / readPackFilesPerTask
    val parts = math.max(1L, math.max(byBytes, byFiles))
    FooterSchema.load(spark, path)
      .coalesce(math.min(parts, Int.MaxValue.toLong).toInt)
  }

  /** The state slice a delta's probe touches: partition-pruned by the
    * delta's distinct bucket values (a bounded collect — at most the
    * bucket-count, the `Upsert.partitioned` touched-partition category).
    * The returned frame is meant to be SCANNED against a broadcast of
    * the delta, never shuffled.
    *
    * @param deltaRows the delta's row count when the caller already has
    *   it: a delta with many times more rows than there are buckets has
    *   touched every bucket with near-certainty, so the pruning collect
    *   is a wasted job — read the table whole (same bytes either way). */
  def prunedByTouched(spark: SparkSession, path: String, bucketCol: String,
                      delta: DataFrame, deltaBucket: Column,
                      buckets: Int = 0, deltaRows: Long = -1L): DataFrame = {
    if (buckets > 0 && deltaRows >= buckets.toLong * 16)
      readPacked(spark, path)
    else {
      val touched = delta.select(deltaBucket.as("__b")).distinct()
        .collect().map(_.get(0)).toIndexedSeq
      readPacked(spark, path).filter(col(bucketCol).isin(touched: _*))
    }
  }

  /** State layout byte size below which [[novelAgainst]] broadcasts the
    * STATE side instead of the delta (the bulk-ingest regime: a young
    * state probed by a corpus-sized delta — fold 2 of the oracle rows'
    * seed-then-rest scripts, or a deployment's first big backfill).
    * Decided per call from ONE getContentSummary call — a per-file
    * footer walk was measured at ~1 s of driver time per fold on
    * 256-bucket layouts (hundreds of small files), which is exactly the
    * fixed cost this path exists to avoid. 8 MB of ON-DISK parquet
    * decompresses to a few tens of MB of broadcast relation (hash/key
    * columns commonly expand 5–10×) — comfortably inside executor
    * memory. Shared (`private[streaming]`) so every state-vs-delta
    * broadcast-side decision in the streaming package answers the same
    * memory question with the same number ([[Decontam.gate]] was the
    * site that diverged, at 64 MB — several hundred MB decompressed). */
  private[streaming] val stateBroadcastBytes = 8L << 20

  /** Delta rows whose `keys` are NOT yet in the bucketed state table —
    * the novelty probe shared by the exact-dedup hash store and the
    * activity-pair store. The pruned state is inner-joined against a
    * broadcast of the delta's keys, producing the already-seen subset
    * (≤ delta-sized); the anti-join then runs delta-vs-seen. Shuffle is
    * delta-sized regardless of accumulated state. `delta` must carry
    * the key columns under the state's names. */
  def novelAgainst(path: String, delta: DataFrame, keys: Seq[String],
                   bucketCol: String, deltaBucket: Column,
                   buckets: Int = 0, deltaRows: Long = -1L): DataFrame = {
    val spark = delta.sparkSession
    if (!exists(spark, path)) delta
    else {
      val state = prunedByTouched(spark, path, bucketCol, delta, deltaBucket,
        buckets, deltaRows)
      // Which side broadcasts? The steady-state shape is a bounded
      // micro-batch against an accumulated corpus: broadcast the DELTA,
      // state never shuffles. But when the LAYOUT itself is still small
      // (one getContentSummary call — no job, no footer walk), the
      // one-join state-broadcast anti beats building a delta-sized
      // broadcast (measured: fold 2 of q144 broadcasts 1.35M edge keys
      // to probe a 4k-row store without this). Both shapes shuffle
      // nothing; a small state broadcasts cheaply whatever the delta.
      val stateBytes = fs(spark, path)
        .getContentSummary(new Path(path)).getLength
      if (stateBytes <= stateBroadcastBytes)
        delta.join(broadcast(state.select(keys.map(col): _*)), keys,
          "left_anti")
      else {
        val seen = state
          .join(broadcast(delta.select(keys.map(col): _*)), keys)
          .select(keys.map(col): _*).distinct()
        delta.join(broadcast(seen), keys, "left_anti")
      }
    }
  }
}
