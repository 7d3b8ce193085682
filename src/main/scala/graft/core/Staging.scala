package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Eager materialization for intermediate frames that downstream plans
  * self-join (LSH signature tables, bucketed embeddings, IVF cell
  * assignments): compute once, then hand every consumer a scan of the
  * materialized result instead of re-running the producing aggregation
  * per branch.
  *
  * Two modes, selected by `spark.graft.staging`:
  *
  *  - `local` (default): `localCheckpoint(eager = true)` — blocks live in
  *    executor storage and are reclaimed by the ContextCleaner when the
  *    frame goes out of scope. Fast (no filesystem round-trip), but the
  *    lineage is truncated into executor-LOCAL blocks: on a real cluster,
  *    losing one executor after the checkpoint kills the query with no
  *    recompute path. Right for local runs and for clusters with
  *    shuffle/storage decommissioning.
  *  - `reliable`: an explicit parquet staging write under
  *    `spark.graft.staging.dir`, read back as a fresh source. Survives
  *    executor loss (any task can re-read the staged files), at the cost
  *    of one filesystem round-trip — the same staging-table discipline
  *    the reference applies before its MERGE
  *    (ref: config/bigquery/bigquery.py:206-271). Staged directories are
  *    run-scoped scratch: every path written is tracked per session and
  *    `reclaim(spark)` deletes them at run end. An orchestrator that owns
  *    the scratch location instead (a per-run dir it clears itself, like
  *    any shuffle/scratch location) sets
  *    `spark.graft.staging.owner=orchestrator`, which turns `reclaim`
  *    into a no-op.
  *
  * Both modes also cut the logical plan at the staged frame, which keeps
  * deeply self-referencing join trees (signature ⋈ signature) out of the
  * optimizer and — for sinks — drops the staged path from the write
  * plan's input set, so a stage-then-overwrite of the same snapshot
  * directory is legal.
  */
object Staging {

  // staged paths per session, for run-end reclamation; sessions held
  // weakly so a stopped session doesn't pin its entries
  private val stagedPaths = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.List[String]]())

  /** Fan the frame out to the session's full parallelism BEFORE an
    * expansion-heavy map stage (shingle/token explodes, per-word
    * signature sums, per-vector arithmetic — stages whose work per
    * input BYTE is 10–1000× a plain scan's). Input-split sizing is
    * BYTE-proportional (`maxPartitionBytes`), so a modest file —
    * or one parquet row group, which can never split — becomes ONE
    * task that then carries the whole fan-out while the rest of the
    * cluster idles; measured at sf0.1, the corpus shingle pass ran
    * 2.1 s single-task against ~0.2 s spread (the corpus tables are
    * single-row-group files, exactly the shape a fresh ingest or a
    * compacted snapshot hands a deployment). The repartition's shuffle
    * moves PRE-expansion bytes — the cheap side of the stage it
    * unblocks — so it stays a rounding error at any scale, and it
    * load-balances skewed inputs for free. Round-robin, no key: the
    * downstream aggregations re-shuffle by their own keys anyway.
    *
    * SKIPPED when the frame is fed by at least `defaultParallelism`
    * files — such an input already has byte-level parallelism as wide
    * as the session, and the repartition would be pure overhead
    * (measured at a 100× synthetic scale-up, where the fixture dir is
    * many-file: the unconditional exchange doubled the minhash pass's
    * shuffle records for zero speedup). `inputFiles` is a plan walk,
    * not a job; a frame with no file scan underneath (a staged
    * micro-batch) reports zero files and keeps the fan-out, which is
    * the safe direction — its repartition moves micro-batch-sized
    * rows. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length >= target) df else df.repartition(target)
  }

  def stage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.get("spark.graft.staging", "local") == "reliable") {
      val base = spark.conf.get("spark.graft.staging.dir",
        sys.props("java.io.tmpdir") + "/graft-staging")
      val path = s"$base/stage-${java.util.UUID.randomUUID()}"
      df.write.mode("error").parquet(path)
      stagedPaths
        .computeIfAbsent(spark, _ => java.util.Collections.synchronizedList(
          new java.util.ArrayList[String]()))
        .add(path)
      FooterSchema.load(spark, path)
    } else df.localCheckpoint(eager = true)
  }

  /** Stage `df` AND return its row count in ONE job. The fold-shaped
    * callers almost always need the staged frame's count immediately
    * (novelty-probe sizing hints, empty-delta early returns), and an
    * eager checkpoint followed by a count pays two scheduling
    * round-trips for one materialization: here the checkpoint is LAZY
    * and the count is the materializing action — the local-checkpoint
    * blocks persist as the count's side effect (all partitions compute
    * under an aggregation, so the deferred checkpoint finds every block
    * cached and launches no fix-up job). `reliable` mode keeps its
    * write-then-read shape; the count reads parquet footers, not a
    * second scan. */
  def stageCounted(df: DataFrame): (DataFrame, Long) = {
    val staged = stageLazy(df)
    (staged, staged.count())
  }

  /** Lazy staging: the checkpoint blocks materialize on the caller's
    * FIRST action over the returned frame or ANY derivation of it (the
    * persist happens at iterator level, so a count over an exploded
    * projection still caches every block it scans). For call sites
    * whose immediate next step is an action anyway — a count that
    * feeds probe hints, an isEmpty gate — this folds the staging job
    * into that action. The caller MUST run one full-scan action before
    * treating the frame as cheap-to-rescan; `reliable` mode has no
    * lazy shape (the write IS the staging) and falls back to [[stage]]. */
  def stageLazy(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.get("spark.graft.staging", "local") == "reliable") stage(df)
    else df.localCheckpoint(eager = false)
  }

  /** Drop the executor-storage blocks behind `local`-mode staged frames
    * the caller has finished consuming. `localCheckpoint` TRUNCATES
    * lineage — after release a frame is unreadable (no recompute path) —
    * so this is strictly a "these frames are dead" assertion, for
    * fold-shaped code that stages several corpus-sized intermediates per
    * call and would otherwise leave every fold's blocks pinned in
    * executor storage until a session-level sweep (the streaming folds
    * stage 3–4 frames each; a query that folds twice and then runs a
    * multi-join re-rank pays measurable storage pressure from the dead
    * blocks). Matches only the exact RDDs the frames' plans scan, so a
    * shared session's other cached work is untouched — unlike the bench
    * harness's global between-pass sweep, which owns the whole session.
    * `reliable`-mode frames are parquet scans (no blocks; their dirs go
    * through [[reclaim]]) — no-op. Never throws: release is hygiene on
    * the success path and must not mask a primary failure. */
  def release(dfs: DataFrame*): Unit =
    dfs.foreach { df =>
      try df.queryExecution.analyzed.collectLeaves().foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      } catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Position marker for scoped reclamation: a run on a SHARED session
    * records the mark at its start and reclaims only the dirs staged
    * after it, so it never deletes scratch staged by other work on the
    * same session (a caller's still-unconsumed staged frame, a sibling
    * pipeline's in-flight staging). */
  def mark(spark: SparkSession): Int = {
    val tracked = stagedPaths.get(spark)
    if (tracked == null) 0 else tracked.size
  }

  /** Delete the staging directories this session wrote at or after
    * `from` (default: all of them) — the missing half of the `reliable`
    * mode's lifecycle (staged dirs are scratch; a long-lived session that
    * never reclaims them leaks one parquet copy per staged frame). Only
    * call once the scope's actions are complete: a staged frame still
    * awaiting consumption reads from its staged path. A dir whose delete
    * throws stays tracked for a later attempt — reclaim never throws
    * (it runs in `finally` blocks and must not mask a primary failure).
    * No-op (returns 0, keeps the dirs) when
    * `spark.graft.staging.owner=orchestrator` — the documented mode where
    * the orchestrator points `spark.graft.staging.dir` at a per-run
    * location and clears it itself.
    * @return number of staging directories deleted */
  def reclaim(spark: SparkSession, from: Int = 0): Int = {
    if (spark.conf.get("spark.graft.staging.owner", "run") == "orchestrator") 0
    else {
      val tracked = stagedPaths.get(spark)
      if (tracked == null) 0
      else tracked.synchronized {
        var n = 0
        val failed = new java.util.ArrayList[String]()
        var i = tracked.size - 1 // back-to-front: removals don't shift [from, i)
        while (i >= from) {
          val p = tracked.remove(i)
          try {
            val hp = new Path(p)
            if (hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true))
              n += 1
          } catch {
            // NonFatal, not just IOException: reclaim runs in `finally`
            // blocks, and a RuntimeException from FileSystem.delete (bad
            // URI, closed FS) must neither mask the primary failure nor
            // drop the path from tracking (it was already removed above,
            // so it goes to `failed` for a later attempt either way)
            case scala.util.control.NonFatal(_) => failed.add(p)
          }
          i -= 1
        }
        tracked.addAll(failed)
        n
      }
    }
  }
}
