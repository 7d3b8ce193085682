package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Staging
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
  * Scale design: two shuffle joins keyed on pk, no driver-side collect,
  * no all-string coercion (the reference's `astype(str)` at
  * bigquery.py:165 is a bug we do not port). With AQE on, a small source
  * (the usual incremental case: few changed rows vs a huge snapshot)
  * converts both joins to broadcast joins automatically, so the 100 TB
  * target table is never shuffled — only scanned and rewritten.
  */
object Upsert {

  /** Source dedup by pk, latest-cursor-wins (deterministic stand-in for
    * the reference's duplicate pre-check, bigquery.py:227-229). */
  private def dedupLatest(source: DataFrame, pk: Seq[String],
                          cursor: String): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*)
      .orderBy(col(cursor).desc_nulls_last)
    source.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Pure-plan upsert: returns the post-MERGE snapshot DataFrame. */
  def apply(target: DataFrame, source: DataFrame,
            pk: Seq[String], cursor: String): DataFrame = {
    val keyCols = pk.map(col)
    val dedupedSrc = dedupLatest(source, pk, cursor)
      .select(target.columns.toIndexedSeq.map(col): _*) // align column order with target
    // WHEN MATCHED AND t.cursor != s.cursor / WHEN NOT MATCHED:
    // keep only source rows that are new, or whose cursor changed. The
    // __matched marker distinguishes "not matched" (insert) from "matched
    // with NULL target cursor" (t.cursor != s.cursor is unknown -> no
    // update), exactly like the SQL MERGE.
    val targetCursors = target.select(
      (keyCols :+ col(cursor).as("__t_cursor") :+ lit(true).as("__matched")): _*)
    val applied = dedupedSrc
      .join(targetCursors, pk, "left")
      .filter(col("__matched").isNull || col("__t_cursor") =!= col(cursor))
      .drop("__t_cursor", "__matched")
    // Target rows not superseded + applied source rows = new snapshot.
    target.join(applied.select(keyCols: _*), pk, "left_anti")
      .unionByName(applied)
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
    *    its superseded version alive in the old partition, because that
    *    partition is never read. This is the standard contract of
    *    partition-granular MERGE on non-transactional storage.
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
    * of numeric-looking string values would read back as integers). The
    * SOURCE is staged once (graft.core.Staging) so the touched-partition
    * read and the merge don't each re-execute the upstream extract.
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
    // staged once: the touched-partition scan and the merge both read the
    // materialized source instead of re-running the upstream extract
    val src = Staging.stage(source.withColumn(partCol, checkedPart))
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
      Sinks.overwritePartitions(dedupLatest(src, pk, cursor), snapshotPath,
        Seq(partCol))
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
      // string is the writer's own); new partitions have no dir yet
      val existing = src.select(col(partCol).cast("string")).distinct().collect()
        .map(r => s"$snapshotPath/${getPartitionPathString(partCol, r.getString(0))}")
        .filter(d => fs.exists(new Path(d))).toIndexedSeq
      // the target's columns come from one partition dir's footer (the
      // root only if no partition dir exists, which fails as before)
      val probe = existing.headOption.getOrElse(anyPartitionDir(fs, snapshotPath, partCol))
      val schema = spark.read.parquet(probe).schema.add(src.schema(partCol))
      val reader = spark.read.schema(schema).option("basePath", snapshotPath)
      val target =
        if (existing.nonEmpty) reader.parquet(existing: _*)
        else reader.parquet(probe).limit(0)
      val stagedPath = s"${snapshotPath}__stage-${java.util.UUID.randomUUID()}"
      apply(target, src, pk, cursor)
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
  }

  /** The first partition dir found under `root` (stopping there, not
    * listing the rest), or `root` itself when it holds none. */
  private def anyPartitionDir(fs: FileSystem, root: String, partCol: String): String = {
    val it = fs.listStatusIterator(new Path(root))
    while (it.hasNext) {
      val st = it.next()
      if (st.isDirectory && st.getPath.getName.startsWith(s"$partCol=")) return st.getPath.toString
    }
    root
  }
}
