package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.core.{FooterSchema, Staging}
import graft.sinks.Sinks

/** MERGE upsert — the reference's core sink (K3), re-expressed as a
  * distributed plan composition instead of a warehouse-side SQL MERGE.
  *
  * Semantics of the BigQuery MERGE at config/bigquery/bigquery.py:245-256:
  *
  *   MERGE target t USING source s ON t.pk = s.pk
  *   WHEN MATCHED AND t.cursor != s.cursor THEN UPDATE all columns
  *   WHEN NOT MATCHED THEN INSERT
  *
  * i.e. a matched row with an UNCHANGED cursor keeps the target version;
  * changed or new rows take the source version. BigQuery errors on
  * duplicate source pks (pre-checked at bigquery.py:227-229); we instead
  * dedup source latest-cursor-wins deterministically (SURVEY.md §7.4.1).
  *
  * Scale design: one pass over target ∪ source, no join, no
  * driver-side collect, no all-string coercion (the reference's
  * `astype(str)` at bigquery.py:165 is a bug we do not port). The
  * target is scanned once and shuffled once, together with the
  * source, and one unordered window per pk group decides which row
  * survives — the shape of BigQuery's one-pass MERGE. `partitioned`
  * bounds the target to the touched partitions and makes its write
  * layout's repartition that one shuffle.
  */
object Upsert {

  /** Pure-plan upsert: returns the post-MERGE snapshot DataFrame. */
  def apply(target: DataFrame, source: DataFrame,
            pk: Seq[String], cursor: String): DataFrame =
    merge(target, Dedup.latestWins(source, pk, cursor), pk, cursor)

  /** The MERGE body over a source with one row per pk, in one window
    * over target ∪ source. Each pk group holds at most one target row
    * and one source row; the window tells each row whether its group
    * is matched, holds a source row, and carries a changed cursor:
    *
    *   WHEN NOT MATCHED                        -> keep the source row
    *   WHEN MATCHED AND t.cursor != s.cursor   -> keep the source row
    *   otherwise                               -> keep the target row
    *
    * A NULL cursor on either side makes `t.cursor != s.cursor` unknown,
    * so the target row stays, and a row with a NULL pk column matches
    * nothing, exactly like the SQL MERGE.
    *
    * `layout` is the partitioned path's write layout, `(tasks, keys)`:
    * the union is repartitioned by `keys` into `tasks` and the window is
    * partitioned by `keys ++ pk`, so that one exchange serves both the
    * window and the write. Without a layout the window's own exchange
    * (by pk) is the one shuffle. */
  private def merge(target: DataFrame, deduped: DataFrame, pk: Seq[String], cursor: String,
                    layout: Option[(Int, Seq[Column])] = None): DataFrame = {
    val cols = target.columns.toIndexedSeq.map(col) // align the source with target
    val union = target.select(cols :+ lit(false).as("__src"): _*)
      .union(deduped.select(cols :+ lit(true).as("__src"): _*))
    val placed = layout.fold(union) { case (tasks, keys) => union.repartition(tasks, keys: _*) }
    val w = Window.partitionBy(layout.fold(Seq.empty[Column])(_._2) ++ pk.map(col): _*)
    val src = col("__src")
    val keyed = !pk.map(col(_).isNull).reduce(_ || _)
    val matched = keyed && max(!src).over(w)
    val hasSrc = keyed && max(src).over(w)
    val changed = coalesce(
      max(when(!src, col(cursor))).over(w) =!= max(when(src, col(cursor))).over(w), lit(false))
    placed
      .withColumn("__keep", when(src, !matched || changed).otherwise(!hasSrc || !changed))
      .filter(col("__keep"))
      .drop("__src", "__keep")
  }

  /** Partition-scoped incremental MERGE — the 100 TB shape of `apply`.
    *
    * `apply` computes the merged SNAPSHOT, so its writer rewrites the
    * whole table every run; the warehouse MERGE it models touches matched
    * rows only (ref: config/bigquery/bigquery.py:206-271). This variant
    * restores that asymmetry for a partitioned snapshot: derive each
    * source row's partition (`partOf`, e.g. `year(cursor)`), read ONLY
    * the touched partitions of the target (partition-pruned scan), run
    * the same MERGE over that slice, and dynamic-partition-overwrite only
    * those partitions. An incremental batch touching one day rewrites one
    * partition of a 100 TB table, and every untouched partition's files
    * are left byte-identical (asserted in UpsertSpec).
    *
    * Requirements:
    *  - `partOf` must be STABLE per pk (derived from the pk or an
    *    immutable attribute, or a cursor whose partition projection never
    *    changes for a given row): a row "moving" partitions would leave
    *    its superseded version alive in the old partition, because the
    *    MERGE matches rows within one partition (its window is
    *    partitioned by `partCol`), and an untouched partition is never
    *    read. This is the standard contract of partition-granular MERGE
    *    on non-transactional storage.
    *  - `partOf` must be non-null (a null partition value lands in the
    *    Hive default partition and escapes the touched-partition pruning).
    *    ENFORCED: a null partition value fails the run via a distributed
    *    `raise_error` — silent pk duplication is converted into an error.
    *
    * The touched-partition list is a driver-side read of partition VALUES
    * (bounded by the number of touched partitions — partition metadata,
    * same category as a cursor read, never row data). Each value is named
    * the way Spark's file writer names its directory, and only the touched
    * directories that already exist (one existence probe each) are listed
    * and read: no step lists or scans the whole snapshot, so a merge's
    * cost follows the delta, not the table. The target's partition column
    * takes the source's type instead of one inferred from the touched
    * directory names, which could differ from the whole table's (a subset
    * of numeric-looking string values would read back as integers), and
    * its other columns come from one footer read on the driver
    * (graft.core.FooterSchema), not from an inference job: a touched
    * dir's, or, when no touched dir exists yet, the snapshot's first data
    * file, and the target is then an empty frame of that schema.
    *
    * Jobs per merge: four. (1) The SOURCE is deduplicated once (latest
    * cursor wins) and staged lazily (graft.core.Staging); the dedup's
    * shuffle-map stage runs as its own job (a source already
    * partitioned by `pk` does not add it). (2) The touched-value probe
    * — a map-only per-partition distinct plus collect — is the one
    * action that materializes the staged blocks, so the merge reads
    * them instead of re-running the upstream extract or the dedup. A
    * source that touches no partition returns right after the probe:
    * no footer read, no plan, no write. (3) Otherwise the touched
    * target slice and the staged source are shuffled together, once,
    * by the write layout's keys ([[writeLayout]]: `partCol`, salted
    * above the advisory size), into one task per touched partition (at
    * most `defaultParallelism`), and the MERGE window is partitioned by
    * those keys plus `pk`, so it needs no exchange of its own. (4) The
    * partitioned write then writes the touched dirs in parallel, one
    * file each below the advisory size (without the repartition, AQE
    * coalesced the merge output into one task that wrote every touched
    * dir in turn: traced on a 4-core box with 18 touched dirs, 222 ms
    * in 4 tasks against 529 ms in one).
    *
    * Crash consistency: the merged slice is written to a private staging
    * directory beside the snapshot (which also keeps the write plan's
    * input set disjoint from the snapshot path it reads), then published
    * partition-by-partition through `Sinks.swapPartitions` — per-dir
    * atomic renames, so every touched partition is always either its
    * complete old or complete new version, never a partial mix. A crash
    * mid-publish is repaired by `Sinks.recoverPartitionSwaps` on the next
    * call, and the un-advanced cursor replays the batch; the MERGE's
    * idempotence makes the replay a no-op on partitions that already
    * swapped. (The reference gets the same guarantee from BigQuery's
    * transactional MERGE, config/bigquery/bigquery.py:259-262.)
    *
    * Returns nothing: a caller that wants the merged snapshot reads
    * `snapshotPath` itself (a whole-table listing this method never pays).
    */
  def partitioned(snapshotPath: String, source: DataFrame, pk: Seq[String],
                  cursor: String, partCol: String, partOf: Column): Unit = {
    val spark = source.sparkSession
    val checkedPart = when(partOf.isNull,
      raise_error(lit(s"NULL partition value ('$partCol') in partitioned upsert source")))
      .otherwise(partOf)
    // deduplicated once, then staged lazily: the first action below (the
    // touched-value probe, or the bootstrap write) materializes it, and
    // every later read of the source scans the staged blocks instead of
    // the upstream extract or the dedup
    val src = Staging.stageLazy(
      Dedup.latestWins(source.withColumn(partCol, checkedPart), pk, cursor))
    val fs = new Path(snapshotPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the partitioned MERGE manages the partition-dir layout; a snapshot
    // published under the marker protocol (data in __versions + pointer)
    // would be invisible to the plain-path reads here, and the bootstrap
    // branch would silently fork it — fail loudly instead
    if (fs.exists(new Path(s"${snapshotPath}__current")))
      throw new IllegalStateException(s"'$snapshotPath' uses the marker snapshot " +
        "layout (snapshotSwapMarker); the partitioned MERGE requires the partition-dir layout")
    if (!fs.exists(new Path(snapshotPath))) {
      // bootstrap: no target yet — the deduped source IS the snapshot
      Sinks.overwritePartitions(src, snapshotPath, Seq(partCol))
      // seed the write-side manifest from the bootstrap's own output (a
      // one-time root listing at table creation, when the listing is the
      // write we just did) so manifest-driven compaction sees the
      // initial load's partitions too
      Compact.writeManifest(spark, snapshotPath,
        fs.listStatus(new Path(snapshotPath))
          .filter(st => st.isDirectory && st.getPath.getName.contains("="))
          .map(_.getPath.getName).toSeq)
    } else {
      Sinks.recoverPartitionSwaps(spark, snapshotPath)
      // staged dirs orphaned by a crashed publish are superseded by this
      // replay — reclaim them before writing a fresh one
      fs.globStatus(new Path(s"${snapshotPath}__stage-*"))
        .foreach(st => fs.delete(st.getPath, true))
      // touched partitions as the writer names their dirs (the cast to
      // string is the writer's own), in one map-only job: each task keeps
      // its partition's distinct values, so the job scans (and so
      // materializes) every staged row and evaluates the null check
      val touched = src.select(col(partCol).cast("string")).as(Encoders.STRING)
        .mapPartitions(_.toSet.iterator)(Encoders.STRING).collect().distinct
      if (touched.nonEmpty) mergeTouched(snapshotPath, src, pk, cursor, partCol,
        touched.toIndexedSeq, fs)
    }
  }

  /** The non-bootstrap MERGE of a staged, deduplicated source that
    * touches the partitions named by `touched` (the writer's string
    * form). */
  private def mergeTouched(snapshotPath: String, src: DataFrame, pk: Seq[String],
                           cursor: String, partCol: String, touched: IndexedSeq[String],
                           fs: FileSystem): Unit = {
    val spark = src.sparkSession
    // new partitions have no dir yet
    val existing = touched
      .map(v => s"$snapshotPath/${getPartitionPathString(partCol, v)}")
      .filter(d => fs.exists(new Path(d)))
    // the target's columns come from one footer: a touched dir's, else
    // the first data file of the snapshot's walk; a merge that touches
    // no existing dir merges into an empty frame of that schema
    val schema = FooterSchema.read(spark, existing.headOption.getOrElse(snapshotPath))
      .add(src.schema(partCol))
    val target =
      if (existing.nonEmpty)
        spark.read.schema(schema).option("basePath", snapshotPath).parquet(existing: _*)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    // the target slice's file bytes, from the file index the read above
    // already listed (no job)
    val (tasks, salt) = writeLayout(touched.size,
      target.queryExecution.optimizedPlan.stats.sizeInBytes,
      spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      spark.sparkContext.defaultParallelism)
    val keys = if (salt == 1) Seq(col(partCol))
      else Seq(col(partCol), pmod(xxhash64(pk.map(col): _*), lit(salt)))
    val stagedPath = s"${snapshotPath}__stage-${java.util.UUID.randomUUID()}"
    merge(target, src, pk, cursor, Some((tasks, keys)))
      .write.partitionBy(partCol).mode("error").parquet(stagedPath)
    // write-side manifest for the compaction census: the staged dir
    // names ARE the touched partitions, already in Spark's escaped
    // dir-name form (re-deriving them from `touched` values would
    // re-implement the escaping). Recorded BEFORE the swap — if the
    // swap crashes, the batch replays and the manifest over-approximates
    // harmlessly; recording after would lose the hint forever.
    Compact.writeManifest(spark, snapshotPath,
      fs.listStatus(new Path(stagedPath))
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .map(_.getPath.getName).toSeq)
    Sinks.swapPartitions(spark, stagedPath, snapshotPath)
  }

  /** The merged slice's write layout, `(tasks, salt)`: the repartition
    * width before the partitioned write, and the number of salted
    * sub-keys each touched partition's rows spread over.
    *
    * A slice of at most `advisoryBytes` per touched partition keeps one
    * key per partition (`salt` 1) in `min(touched, parallelism)` tasks:
    * every touched dir is written by one task into one file, and the
    * dirs are written in parallel. A larger slice spreads each partition
    * over `salt = ⌈sliceBytes / (advisoryBytes × touched)⌉` sub-keys in
    * `touched × salt` tasks, so each sub-key carries about
    * `advisoryBytes` — the size AQE coalesces the unrepartitioned write
    * to — and a huge slice never writes narrower than AQE would make it.
    * `sliceBytes` counts the target's compressed file bytes, so it
    * underestimates the rows' in-memory size: the guard errs toward
    * fewer, larger files. */
  private[graft] def writeLayout(touched: Int, sliceBytes: BigInt, advisoryBytes: Long,
                                 parallelism: Int): (Int, Int) = {
    val perSalt = BigInt(advisoryBytes.max(1)) * touched
    val salt = ((sliceBytes + perSalt - 1) / perSalt).max(1).min(Int.MaxValue / touched).toInt
    if (salt == 1) (touched.min(parallelism), 1) else (touched * salt, salt)
  }
}
