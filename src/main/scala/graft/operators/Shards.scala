package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.FooterSchema

/** Training-shard export — the TERMINAL stage of the corpus pipeline:
  * the prepared corpus ships as size-balanced, reproducibly-ordered
  * shard files a training loader streams sequentially. Requirements at
  * 100 TB, and how each is met:
  *
  *  - deterministic global order (re-export produces byte-identical
  *    shards): rows rank under a caller-supplied TOTAL order — usually
  *    the q89 seeded-hash shuffle order — via [[GlobalRank]], never a
  *    single-partition window;
  *  - exact shard sizes (loaders schedule by shard, stragglers cost
  *    wall-clock): shard id = (rank - 1) / rowsPerShard, so every shard
  *    except the last holds exactly `rowsPerShard` rows;
  *  - one FILE per shard (the loader contract), without funneling the
  *    corpus through few tasks: repartitioning BY the shard id makes
  *    every partition shard-complete — all rows of a shard land in one
  *    task, so `partitionBy("shard")` emits exactly one file per shard
  *    directory; hash collisions between shard ids only mean one task
  *    writes two complete shards (transient 2x skew, never a wrong
  *    file count) while the corpus stays spread across numShards tasks;
  *  - rank order preserved INSIDE each shard file
  *    (`sortWithinPartitions` before the write — parquet preserves row
  *    order, so a sequential read replays the global order);
  *  - a per-shard MANIFEST (`_manifest/` — the underscore prefix keeps
  *    it out of parquet scans of the export, like `_SUCCESS`): shard id,
  *    row count, min/max rank, and an order-independent content hash.
  *    Written AFTER the shard files — manifest-present certifies the
  *    export completed (the engine's marker discipline), and a loader
  *    verifies completeness from numShards manifest rows instead of
  *    listing 100 TB of files. [[verify]] replays the census.
  */
object Shards {

  private def manifestPath(path: String) = s"$path/_manifest"

  /** Order-independent per-row content hash: 60 bits of the md5 of the
    * row's JSON (columns in sorted-name order, `shard` excluded — it
    * reads back as a partition DIRECTORY whose inferred type differs
    * from the written column, and it is the manifest's own key anyway).
    * XOR-aggregated per shard, so the census needs no in-shard ordering
    * and no overflow semantics (ANSI-safe). */
  private def rowHash(df: DataFrame): Column = {
    val cols = df.columns.filterNot(_ == "shard").sorted.map(col)
    conv(substring(md5(to_json(struct(cols.toIndexedSeq: _*))), 1, 15),
      16, 10).cast("long")
  }

  /** The per-shard census aggregate — shared by the manifest write and
    * [[verify]]'s re-read, so both sides hash identically. */
  private def census(df: DataFrame): DataFrame =
    df.withColumn("graft_rh", rowHash(df))
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("rows"),
        min("graft_rank").as("min_rank"),
        max("graft_rank").as("max_rank"),
        expr("bit_xor(graft_rh)").as("content_hash"))

  /** Write `df` as exact-size training shards under `path`
    * (`shard=K/part-*.parquet`, one file per shard), plus the
    * `_manifest/` census.
    * @param order a total (tie-free) ordering column, e.g. the seeded
    *              hash of q89's corpus shuffle
    * @return the shard count (0 for an empty frame — nothing written) */
  def write(df: DataFrame, path: String, rowsPerShard: Long, order: Column): Long = {
    require(rowsPerShard > 0, s"rowsPerShard must be positive: $rowsPerShard")
    val ranked = GlobalRank.withRank(df, order, out = "graft_rank")
      .withColumn("shard", ((col("graft_rank") - 1) / rowsPerShard).cast("long"))
    val staged = graft.core.Staging.stage(ranked)
    // a fully-filtered corpus aggregates max(shard) to NULL — zero
    // shards is a valid export, not an NPE in the terminal stage. The
    // previous export (if any) is REMOVED: leaving yesterday's shards
    // and manifest in place would let verify() certify a stale corpus
    // as the current one.
    val maxRow = staged.agg(max(col("shard"))).collect()(0)
    if (maxRow.isNullAt(0)) {
      val target = new org.apache.hadoop.fs.Path(path)
      val fs = target.getFileSystem(
        df.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(target)) fs.delete(target, true)
      return 0L
    }
    val numShards = maxRow.getLong(0) + 1
    require(numShards <= Int.MaxValue,
      s"$numShards shards exceeds Int.MaxValue — raise rowsPerShard " +
        s"($rowsPerShard) above rows/Int.MaxValue before exporting")
    staged
      .repartition(numShards.toInt, col("shard"))
      .sortWithinPartitions(col("shard"), col("graft_rank"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    census(staged).repartition(1)
      .write.mode("overwrite").parquet(manifestPath(path))
    numShards
  }

  /** Read shards back in global order (shard asc, in-file order). */
  def read(spark: SparkSession, path: String): DataFrame =
    FooterSchema.load(spark, path).orderBy(col("shard"), col("graft_rank"))

  /** The committed manifest (one row per shard). */
  def manifest(spark: SparkSession, path: String): DataFrame =
    FooterSchema.load(spark, manifestPath(path))

  /** Verify the export against its manifest by replaying the census
    * over the shard files: every shard present, no extras, and rows /
    * rank range / content hash all matching. One distributed pass over
    * the export — no file listing, no ordering assumption.
    * A missing manifest is itself a FINDING, not a read error: a crash
    * between the shard write and the manifest write leaves exactly this
    * shape, and the integrity check must report it as incomplete rather
    * than die on PATH_NOT_FOUND.
    * @return mismatch descriptions, empty when the export is intact */
  def verify(spark: SparkSession, path: String): Seq[String] = {
    // a crash DURING the manifest write leaves the dir present but with
    // no committed parquet (only the commit protocol's _temporary) —
    // the same incomplete-export shape as a fully absent manifest
    if (!FooterSchema.hasData(spark, manifestPath(path)))
      return Seq("manifest missing — export incomplete (crash between " +
        "shard write and manifest write, or not a manifested export)")
    val m = manifest(spark, path)
      .select(col("shard"), col("rows").as("m_rows"),
        col("min_rank").as("m_min"), col("max_rank").as("m_max"),
        col("content_hash").as("m_hash"))
    val c = census(FooterSchema.load(spark, path))
    m.join(c, Seq("shard"), "full_outer")
      .filter(col("m_rows").isNull || col("rows").isNull ||
        col("m_rows") =!= col("rows") || col("m_min") =!= col("min_rank") ||
        col("m_max") =!= col("max_rank") || col("m_hash") =!= col("content_hash"))
      .collect().toSeq.map { r =>
        val s = r.getAs[Any]("shard")
        if (r.isNullAt(r.fieldIndex("m_rows"))) s"shard $s: not in manifest"
        else if (r.isNullAt(r.fieldIndex("rows"))) s"shard $s: files missing"
        else s"shard $s: manifest (rows=${r.getAs[Long]("m_rows")}, " +
          s"ranks=${r.getAs[Long]("m_min")}..${r.getAs[Long]("m_max")}, " +
          s"hash=${r.getAs[Long]("m_hash")}) != census " +
          s"(rows=${r.getAs[Long]("rows")}, " +
          s"ranks=${r.getAs[Long]("min_rank")}..${r.getAs[Long]("max_rank")}, " +
          s"hash=${r.getAs[Long]("content_hash")})"
      }
  }
}
