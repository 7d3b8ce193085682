package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, Metadata, StructType}

import graft.core.FooterSchema
import graft.sinks.Sinks

/** Small-file compaction for a partitioned snapshot (beyond-reference
  * breadth — the reference's warehouse compacts internally; a
  * parquet-directory snapshot accumulates one file per incremental batch
  * per partition until reads drown in per-file open costs).
  *
  * Incremental MERGE writes (Upsert.partitioned) add files to touched
  * partitions; after N batches a hot partition holds N small files, and
  * at 100 TB the scan's bottleneck becomes file-listing and footer reads
  * rather than bytes. Compaction rewrites each qualifying partition into
  * ⌈bytes / targetFileBytes⌉ files.
  *
  * Two census modes feed the same batched rewrite:
  *
  *  - [[partitions]] enumerates candidates from a driver-side listing of
  *    the snapshot root — self-contained, but O(#partitions) metadata
  *    calls, the wrong tool past ~10⁵ partitions;
  *  - [[partitionsFromManifests]] reads the write-side manifests the
  *    MERGE records ([[writeManifest]], called by Upsert.partitioned
  *    with the touched-partition list it already computes) and examines
  *    ONLY the dirs incremental writes have actually fragmented since
  *    the last compaction — per-run cost proportional to the delta,
  *    zero root listings, the same architecture as q76's persisted band
  *    index.
  *
  * Scale design: partition sizes come from driver-side metadata
  * (listings of candidate dirs only), selection is threshold-based so an
  * already-compact partition is never rewritten, and the rewrite
  * publishes through the same crash-consistent per-partition staged swap
  * as the MERGE (`Sinks.swapPartitions` + recovery repair) — a crash
  * mid-compaction leaves every partition complete-old or complete-new,
  * and compaction is idempotent (re-running selects nothing once
  * partitions are compact; manifests are consumed only after their
  * rewrite succeeds, so a crashed run replays from the same manifests).
  */
object Compact {

  /** Manifest directory under the snapshot root. The underscore prefix
    * keeps it invisible to Spark's file index (same convention as
    * _SUCCESS), to the partition census, and to swapPartitions. */
  private val ManifestDirName = "_graft_manifest"

  /** Record a write-side manifest: one file per MERGE run listing the
    * partition dir names the run touched. Written BEFORE the run's swap
    * publishes (an over-approximation is harmless — compaction just
    * examines a dir that may not exceed the threshold; an
    * under-approximation would leave a fragmented partition invisible to
    * manifest-driven compaction forever). */
  def writeManifest(spark: SparkSession, snapshotPath: String,
                    dirNames: Seq[String]): Unit = {
    if (dirNames.isEmpty) return
    val dir = new Path(s"$snapshotPath/$ManifestDirName")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val file = new Path(dir, s"manifest-${java.util.UUID.randomUUID()}")
    val out = fs.create(file, false)
    try out.write(dirNames.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readManifest(fs: FileSystem, file: Path): Seq[String] = {
    val in = fs.open(file)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Compact partitions of `snapshotPath` that hold more than
    * `maxFilesPerPartition` data files, rewriting each into
    * ⌈bytes / targetFileBytes⌉ files. Candidates come from a listing of
    * the snapshot root — use [[partitionsFromManifests]] when the
    * snapshot's writers record manifests and the partition count makes a
    * root walk unaffordable.
    * @return the partition dir names rewritten */
  def partitions(spark: SparkSession, snapshotPath: String,
                 targetFileBytes: Long = 128L << 20,
                 maxFilesPerPartition: Int = 4,
                 batchSize: Int = 16): Seq[String] = {
    val root = new Path(snapshotPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sinks.recoverPartitionSwaps(spark, snapshotPath)
    sweepOrphans(fs, snapshotPath)
    val dirNames = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(_.getPath.getName).toSeq
    compactDirs(spark, fs, snapshotPath, dirNames,
      targetFileBytes, maxFilesPerPartition, batchSize)
  }

  /** Manifest-driven census: compact only the partitions named by the
    * write-side manifests accumulated since the last compaction, then
    * consume exactly the manifest files read (a concurrent MERGE's new
    * manifest is left for the next run). Recovery is scoped the same
    * way — per-named-partition existence probes
    * (`Sinks.recoverPartitionSwap`), never a root listing: a crashed
    * compaction's manifests survive (consumed only on success), so its
    * partitions are re-examined and re-repaired by the replay.
    * @return the partition dir names rewritten */
  def partitionsFromManifests(spark: SparkSession, snapshotPath: String,
                              targetFileBytes: Long = 128L << 20,
                              maxFilesPerPartition: Int = 4,
                              batchSize: Int = 16): Seq[String] = {
    val root = new Path(snapshotPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifestDir = new Path(s"$snapshotPath/$ManifestDirName")
    if (!fs.exists(manifestDir)) return Seq.empty
    val manifestFiles = fs.listStatus(manifestDir)
      .filter(st => st.isFile && st.getPath.getName.startsWith("manifest-"))
      .map(_.getPath).toSeq
    val dirNames = manifestFiles.flatMap(readManifest(fs, _)).distinct
    dirNames.foreach(Sinks.recoverPartitionSwap(spark, snapshotPath, _))
    sweepOrphans(fs, snapshotPath)
    // a manifest-listed dir can be legitimately absent (partition dropped
    // since the write) — skip it rather than failing the census
    val existing = dirNames.filter(n => fs.exists(new Path(s"$snapshotPath/$n")))
    val rewritten = compactDirs(spark, fs, snapshotPath, existing,
      targetFileBytes, maxFilesPerPartition, batchSize)
    manifestFiles.foreach(fs.delete(_, false))
    rewritten
  }

  /** A crash mid-compaction orphans its __compact-<uuid> staged dir (the
    * live snapshot is repaired by swap recovery, but nothing else
    * references the staging copy) — sweep them on entry, mirroring
    * Upsert.partitioned's __stage-* sweep, so repeated crashes don't
    * leak partition copies. (The glob lists the snapshot's PARENT dir,
    * not the snapshot root.) */
  private def sweepOrphans(fs: FileSystem, snapshotPath: String): Unit =
    fs.globStatus(new Path(s"${snapshotPath}__compact-*"))
      .foreach(st => fs.delete(st.getPath, true))

  /** Grouping key for batch assembly: exact schemas that differ only in
    * nullability or field metadata describe logically identical dirs and
    * must share a batch — the census's footer path derives
    * nullability from parquet repetition while the mergeSchema fallback
    * reports Spark read semantics (everything nullable), and splitting
    * on that difference would cost extra write jobs for nothing. */
  private def normalizedType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f => f.copy(
      dataType = normalizedType(f.dataType), nullable = true, metadata = Metadata.empty)))
    case a: ArrayType =>
      a.copy(elementType = normalizedType(a.elementType), containsNull = true)
    case m: MapType => m.copy(keyType = normalizedType(m.keyType),
      valueType = normalizedType(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def normalized(schema: StructType): StructType =
    normalizedType(schema).asInstanceOf[StructType]

  private def compactDirs(spark: SparkSession, fs: FileSystem,
                          snapshotPath: String, dirNames: Seq[String],
                          targetFileBytes: Long, maxFilesPerPartition: Int,
                          batchSize: Int): Seq[String] = {
    // driver-side partition census: (dir name, data files, bytes); a
    // dir's data files are its own entries under the shared data-file
    // rule (graft.core.FooterSchema.isData)
    val candidates = dirNames
      .map { name =>
        val files = fs.listStatus(new Path(s"$snapshotPath/$name"))
          .filter(f => f.isFile && FooterSchema.isData(f.getPath.getName)).toSeq
        (name, files, files.map(_.getLen).sum)
      }
      .filter { case (_, files, _) => files.length > maxFilesPerPartition }

    // Schema handling, two layers. WITHIN a dir: incremental appends can
    // straddle a schema evolution inside ONE partition, and one file's
    // schema would silently drop the newer files' columns from the
    // rewrite (data loss, since the originals are swapped away) — so
    // every data file's footer is decoded on the driver
    // (FooterSchema.ofFile: metadata-priced reads, the same category as
    // the listing above, and the Spark schema the writer embedded wins,
    // so UDTs, char/varchar and column metadata survive the rewrite).
    // Only a dir whose footers genuinely DISAGREE (straddling an
    // evolution — rare) pays one mergeSchema read, the one inferred
    // schema in the engine, for Spark's exact merge semantics. ACROSS
    // dirs: a batch unions its partitions into one frame, so dirs whose
    // (merged) schemas differ must not share a batch — group by schema;
    // each partition is rewritten with exactly its own merged layout,
    // never another group's. Only the SCHEMA is retained from this pass
    // — batch reads below re-open their dirs with the schema passed
    // explicitly (the parquet reader nulls a file's missing columns), so
    // neither a second footer walk nor 10⁵ live DataFrames/file indexes
    // ever accumulate on the driver.
    val withSchemas = candidates
      .map { case (dirName, files, bytes) =>
        val schemas = files.map(FooterSchema.ofFile(spark, _)).distinct
        val schema =
          if (schemas.lengthCompare(1) == 0) schemas.head
          else spark.read.option("mergeSchema", true)
            .parquet(s"$snapshotPath/$dirName").schema
        (schema, (dirName, files.length, bytes))
      }

    val bySchema = withSchemas.groupBy { case (schema, _) => normalized(schema) }.toSeq

    bySchema.flatMap { case (normKey, group) =>
      // one exact schema across the group (the common case) is kept
      // verbatim for the read so embedded metadata/UDT info survives the
      // rewrite; genuinely mixed exact schemas within one normalized
      // group (fast-path vs mergeSchema census of logically identical
      // dirs) read with the normalized form — file sources force
      // nullable on read anyway, so the data is identical either way
      val exact = group.map(_._1).distinct
      val schema = if (exact.lengthCompare(1) == 0) exact.head else normKey
      group.map(_._2).grouped(batchSize).map((schema, _))
    }.flatMap { case (schema, batch) =>
      def readDir(dirName: String) =
        spark.read.schema(schema).parquet(s"$snapshotPath/$dirName")
      val stagedPath = s"${snapshotPath}__compact-${java.util.UUID.randomUUID()}"
      // Read each partition DIRECTORY verbatim and restore the staged
      // output under the IDENTICAL dir name. An earlier
      // filter-on-decoded-value + partitionBy round-trip let Spark's
      // partition type inference re-canonicalize the value (y=01 read as
      // int 1 was rewritten as y=1 — swapPartitions then promoted a new
      // dir while the old one stayed live, duplicating rows on read) and
      // URL-escaped values (%XX) matched nothing, silently no-op'ing
      // while still being reported as rewritten (CompactSpec pins both).
      // So the batch write never round-trips the VALUE: each dir's rows
      // are tagged with a batch-local integer, the job partitions by the
      // tag, and the tag dirs are renamed back to the original dir names
      // (a metadata op) before the swap. The files' schema already
      // excludes the partition column (partitionBy writes drop it, and
      // the tag is dropped the same way), so rewritten files keep the
      // dir's own (merged) layout — identical to the originals unless
      // the dir itself straddles a schema evolution, in which case older
      // rows gain the newer columns as nulls rather than newer columns
      // being dropped.
      val nOut = batch.map { case (_, _, bytes) =>
        math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      }
      // Every (tag, salt) combination maps to its own GLOBAL slot
      // (offset(tag) + salt) and slots are placed 1:1 onto tasks by an
      // explicit partitioner, so each partition comes out in exactly
      // nOut(tag) files. A hash repartition on (tag, salt) cannot
      // promise that: colliding combos merge tasks, and partitionBy then
      // writes fewer, oversized files — which the file-count threshold
      // never re-selects, so the oversize would be permanent.
      val offsets = nOut.scanLeft(0)(_ + _)
      val saltFor = map(nOut.zipWithIndex.flatMap { case (n, i) =>
        Seq(lit(i), lit(n.toLong))
      }: _*)
      val slotBase = map(batch.indices.flatMap(i =>
        Seq(lit(i), lit(offsets(i).toLong))): _*)
      val tagged = batch.zipWithIndex.map { case ((dirName, _, _), i) =>
          readDir(dirName).withColumn("__graft_p", lit(i))
        }
        .reduce(_.unionByName(_))
        .withColumn("__graft_slot",
          (element_at(slotBase, col("__graft_p")) +
            pmod(monotonically_increasing_id(), element_at(saltFor, col("__graft_p"))))
            .cast("int"))
      val slotted = spark.createDataFrame(
        tagged.rdd.keyBy(_.getAs[Int]("__graft_slot"))
          .partitionBy(new org.apache.spark.Partitioner {
            override def numPartitions: Int = offsets.last
            override def getPartition(key: Any): Int = key.asInstanceOf[Int]
          })
          .map(_._2),
        tagged.schema)
      slotted.drop("__graft_slot")
        .write.partitionBy("__graft_p").mode("error").parquet(stagedPath)
      batch.zipWithIndex.foreach { case ((dirName, _, _), i) =>
        val staged = new Path(s"$stagedPath/__graft_p=$i")
        if (fs.exists(staged))
          Sinks.rename(fs, staged, new Path(s"$stagedPath/$dirName"))
        // A candidate whose files hold zero rows (metadata-only parquet
        // from empty-frame saves) legitimately emits no staged dir —
        // publish an empty dir so the swap still collapses its junk
        // files. But ONLY after re-proving the source is empty: a
        // missing dir for a partition that HAS rows means the write
        // lost them, and swapping an empty dir over the live copy would
        // convert that bug into silent data deletion. Fail loudly
        // instead — the staged batch is abandoned, the live snapshot
        // untouched. The probe is per-missing-tag (rare) and
        // LocalLimit-1 cheap.
        else if (readDir(dirName).isEmpty) fs.mkdirs(new Path(s"$stagedPath/$dirName"))
        else throw new java.io.IOException(
          s"compaction staged no output for non-empty partition $dirName")
      }
      // parquet() drops a _SUCCESS marker at the staged dir level; remove
      // it so swapPartitions sees only the partition dirs
      fs.delete(new Path(s"$stagedPath/_SUCCESS"), false)
      Sinks.swapPartitions(spark, stagedPath, snapshotPath)
      batch.map(_._1)
    }
  }
}
