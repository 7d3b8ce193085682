package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.FooterSchema
import graft.llm.TopK

/** Streaming IVF ANN index maintenance — the similarity-search analog of
  * [[CorpusStream]]'s dedup state: embeddings arrive in micro-batches
  * and fold into a persisted inverted-file index, so ANN queries stay
  * current without re-indexing the corpus (the q57 batch layout,
  * maintained incrementally).
  *
  * The IVF practice split (Jégou et al. 2011): centroids are TRAINED
  * offline (Kmeans / a fixed seed set — they are the index LAYOUT, like
  * [[ClusterMaintenance.stateBuckets]]) and passed in; the online path
  * only ASSIGNS arriving vectors to their nearest cell and appends.
  * State under `statePath/cells/`: (vec_id, v, norm, cell),
  * PARTITIONED by cell — a query probes its nprobe nearest cells via a
  * partition-pruned read, so probe IO is touched-cells-sized however
  * big the index, and the probe never shuffles an indexed row (the
  * bounded query set rides a broadcast; selection is the bounded-heap
  * [[TopK]] — k rows per query per partition cross the wire).
  *
  * Replay safety: the fold is novelty-probed on vec_id through
  * [[StateStore.novelAgainst]] (cell = a deterministic function of the
  * vector, so a replayed vector would land in its old cell — the
  * id-level probe just skips it), making appends idempotent under
  * foreachBatch redelivery.
  */
object AnnIndex {

  private def cellsPath(state: String) = s"$state/cells"
  private def centsPath(state: String) = s"$state/cents"
  private val dot = "vector_dot(%s, %s)"

  /** Nearest-centroid assignment of an embedding frame against the
    * broadcast centroid set: ties break to the lower cent_id (the q57
    * rule). @return input columns + `cell`. */
  private def assigned(emb: DataFrame, cents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cent_id"))
    emb.crossJoin(broadcast(cents))
      .withColumn("sim",
        expr(dot.format("v", "cvec")) / (col("norm") * col("cnorm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("norm"), col("cent_id").as("cell"))
  }

  /** Fold one micro-batch of embeddings (`vec_id`, `v`, `norm`) into the
    * persisted index. Novel ids only; one ≤|cells| file append. */
  def foldBatch(batch: DataFrame, cents: DataFrame, statePath: String): Unit = {
    // staged once: the assignment (batch × centroids + window) otherwise
    // re-executes for the novelty probe's touched-cell collect, the
    // anti-join's left side, AND its broadcast seen-keys subplan.
    // Staged WITH the count (stageCounted): the count is the empty gate
    // (an empty batch assigns zero rows — same skip as the old
    // batch.isEmpty, whose separate source-probe job this replaces; the
    // assignment itself touches no state, so staging before the marker
    // check below is safe).
    val (rows, nRows) = graft.core.Staging.stageCounted(assigned(batch, cents))
    if (nRows == 0L) { graft.core.Staging.release(rows); return }
    // an interrupted retrain (marker present) means the persisted
    // centroid set and the cell layout may disagree — folding now could
    // assign against the wrong side; heal first (recoverRebalance)
    require(StateStore.readTag(batch.sparkSession, statePath,
        "_rebalancing").isEmpty,
      s"interrupted retrain at $statePath: set and layout may disagree — " +
        "run AnnIndex.recoverRebalance before folding")
    val novel = StateStore.novelAgainst(cellsPath(statePath), rows,
      Seq("vec_id"), "cell", col("cell"), deltaRows = nRows)
    StateStore.appendBucketed(novel, cellsPath(statePath), "cell")
  }

  /** Compact the append-only cell store: one fold appends ≤|cells|
    * files, so a long-lived stream accretes file-sets per batch with
    * nothing reclaiming them (the small-file leak the cluster state's
    * compaction cadence guards against). Same discipline here — callers
    * wire it on a batch cadence. */
  def compact(spark: SparkSession, statePath: String): Unit =
    StateStore.compactBucketed(spark, cellsPath(statePath), "cell")

  /** Cell-occupancy census off parquet FOOTERS — a driver-side listing,
    * no Spark job (the profiling discipline applied to the cell store).
    * This is the DRIFT SIGNAL an offline retrain watches: fixed
    * centroids degrade silently as the corpus distribution moves, and
    * the first visible symptom is occupancy crowding into few cells
    * (recall@k decays with no error anywhere). |cells| is bounded by
    * the centroid set, so the result is driver-sized by construction.
    * @return (cell, rows), ascending by cell */
  def census(spark: SparkSession, statePath: String): Seq[(Long, Long)] = {
    val p = cellsPath(statePath)
    if (!StateStore.exists(spark, p)) return Seq.empty
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map { st =>
        (st.getPath.getName.stripPrefix("cell=").toLong,
          StateStore.parquetRowCount(spark, st.getPath.toString))
      }.sortBy(_._1)
  }

  /** One drift verdict over the cell-occupancy census — the decision
    * HALF of the retrain cadence ([[census]] is the signal half). All
    * driver-sized arithmetic; `retrain` is the verdict. */
  final case class DriftReport(rows: Long, cells: Int, emptyCells: Int,
      maxShare: Double, retrain: Boolean)

  /** Retrain-cadence policy, pure and deterministic: fire when occupancy
    * CROWDS (the largest cell holds more than `crowdFactor` times the
    * uniform share — the recall-decay symptom the scaladoc on [[census]]
    * names) or when the trained structure has gone stale enough that
    * more than `emptyFrac` of the cells hold nothing (mass moved away
    * from most centroids). Both thresholds compare against the CENTROID
    * COUNT, not the occupied count, so a census that collapsed into two
    * cells is read as crowded even though its occupied cells are
    * "balanced" between themselves. An empty census never fires —
    * there is nothing to migrate. */
  def drift(census: Seq[(Long, Long)], nCents: Int,
            crowdFactor: Double = 4.0, emptyFrac: Double = 0.5): DriftReport = {
    val total = census.map(_._2).sum
    val empty = nCents - census.size
    val maxShare =
      if (total == 0) 0.0 else census.map(_._2).max.toDouble / total
    DriftReport(total, census.size, empty, maxShare,
      retrain = total > 0 && nCents > 0 &&
        (maxShare > crowdFactor / nCents ||
          empty.toDouble / nCents > emptyFrac))
  }

  /** The maintenance cadence, wired end to end: census → [[drift]] →
    * (when the verdict fires) caller-supplied retrain over the persisted
    * vectors → [[rebalance]]. The trainer is a parameter because
    * centroid training is an offline concern (Kmeans, a sample, a
    * domain-specific codebook) — the index owns the SIGNAL and the
    * MIGRATION, not the model. Returns the report plus the centroid set
    * now in force: the input set when nothing fired, the retrained set
    * otherwise — and per the [[rebalance]] contract, every subsequent
    * fold/probe MUST use exactly the returned set. */
  def maintain(spark: SparkSession, statePath: String, cents: DataFrame,
               retrain: DataFrame => DataFrame,
               crowdFactor: Double = 4.0, emptyFrac: Double = 0.5,
               budgetCells: Int = 0)
      : (DriftReport, DataFrame) = {
    // the cell count the policy judges occupancy AGAINST: by default the
    // live set's own count, but a deployment that seeded small and
    // intends to grow into a larger codebook passes its target as
    // `budgetCells` — a 2-cell seed layout can never read as stale or
    // crowded against itself (empty = 0 by construction; maxShare ≤ 1 <
    // crowdFactor/2), while against a 16-cell budget it reads 14/16
    // empty and fires exactly when the corpus outgrows the seed
    val nCents = // bounded scalar: the centroid set
      if (budgetCells > 0) budgetCells else cents.count().toInt
    val rep = drift(census(spark, statePath), nCents, crowdFactor, emptyFrac)
    if (!rep.retrain) (rep, cents)
    else {
      // staged BEFORE the migration: the trainer's output may be a lazy
      // plan over the very store rebalance is about to swap — returning
      // it unstaged would hand later folds a frame that re-derives
      // different centroids from the REASSIGNED layout
      val newCents = graft.core.Staging.stage(
        retrain(FooterSchema.load(spark, cellsPath(statePath))
          .select("vec_id", "v", "norm")))
      // the retrained set is LAYOUT, so it persists WITH the layout
      // (cents/ under statePath): a restart that folded with the
      // caller's stale cents0 against the rebalanced cells would
      // assign replayed vectors to cells the pruned novelty probe
      // doesn't read — silent duplicates, missed probes. The marker
      // makes set+layout one atomic unit: it lands on the (never
      // swapped) state root BEFORE either swap, and folds refuse while
      // it exists; any crash in between leaves it, and the remedy —
      // re-running [[recoverRebalance]], which [[sink]] does on start —
      // replays rebalance against the persisted set idempotently.
      StateStore.writeTag(spark, statePath, "_rebalancing", "1")
      graft.sinks.Sinks.snapshotSwap(newCents, centsPath(statePath))
      rebalance(spark, statePath, newCents)
      StateStore.deleteTag(spark, statePath, "_rebalancing")
      (rep, newCents)
    }
  }

  /** The centroid set in force per the PERSISTED state: the retrained
    * set `maintain` stored alongside the layout it rebalanced, if any
    * retrain has fired — callers (a restarted [[sink]], a query path
    * resolving which set to probe with) prefer this over their seed
    * set. None before the first retrain: the caller's seed set is the
    * layout contract until then. */
  def centroids(spark: SparkSession, statePath: String): Option[DataFrame] =
    if (StateStore.exists(spark, centsPath(statePath)))
      Some(FooterSchema.load(spark, centsPath(statePath)))
    else None

  /** Heal an interrupted retrain: a `_rebalancing` marker means a crash
    * landed between the centroid-set swap and the cell-store rebalance
    * (or around either), so set and layout may disagree. Re-running
    * [[rebalance]] against the persisted set is idempotent (assignment
    * is deterministic in (vector, centroids)), so the repair is always
    * "replay it, clear the marker"; a marker with no persisted set yet
    * means nothing was swapped — the seed-set layout is intact and the
    * marker just clears. */
  def recoverRebalance(spark: SparkSession, statePath: String): Unit =
    if (StateStore.readTag(spark, statePath, "_rebalancing").isDefined) {
      centroids(spark, statePath)
        .foreach(cs => rebalance(spark, statePath, cs))
      StateStore.deleteTag(spark, statePath, "_rebalancing")
    }

  /** Wire [[foldBatch]] as a foreachBatch sink with the engine's
    * compaction cadence AND the retrain loop on its own cadence: every
    * `maintainEvery`-th micro-batch runs [[maintain]] — census → drift
    * verdict → (when fired) the caller-supplied trainer → [[rebalance]]
    * — so a deployment gets the full IVF maintenance story by wiring
    * ONE call instead of hand-rolling the cadence
    * ([[EventReports.sink]]'s compaction pattern, applied to retrain).
    *
    * The centroid set lives in the returned AtomicReference because a
    * retrain CHANGES it and, per the [[rebalance]] contract, every
    * later fold and probe MUST use the set now in force: folds inside
    * the sink read it each batch, and query paths share the same
    * reference. foreachBatch callbacks run serially, so the reference
    * is never contended — it exists to hand the live set across the
    * sink boundary, not for synchronization. Both cadences key on the
    * CHECKPOINTED batchId, so the schedule survives restarts — and so
    * does the SET: each retrain persists its output under
    * `statePath/cents/` ([[maintain]]), and a (re)started sink prefers
    * that persisted set over `cents0`, after first healing any
    * interrupted retrain ([[recoverRebalance]]) — a restart folding
    * the caller's stale seed set against a rebalanced layout would
    * assign replayed vectors to cells the pruned novelty probe doesn't
    * read. `cents0` is only the seed for a state no retrain has
    * touched. Pass 0 to disable either cadence. `budgetCells` is the
    * occupancy yardstick for the drift verdict (see [[maintain]]) —
    * set it to the target codebook size when seeding smaller than you
    * intend to grow. */
  def sink(stream: DataFrame, cents0: DataFrame, statePath: String,
           checkpointDir: String, retrain: DataFrame => DataFrame,
           trigger: Trigger = Trigger.AvailableNow(),
           compactEvery: Int = 8, maintainEvery: Int = 4,
           crowdFactor: Double = 4.0, emptyFrac: Double = 0.5,
           budgetCells: Int = 0)
      : (StreamingQuery, AtomicReference[DataFrame]) = {
    val spark = stream.sparkSession
    recoverRebalance(spark, statePath)
    val cents = new AtomicReference(
      centroids(spark, statePath).getOrElse(cents0))
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, cents.get, statePath)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compact(batch.sparkSession, statePath)
        if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
          cents.set(maintain(batch.sparkSession, statePath, cents.get,
            retrain, crowdFactor, emptyFrac, budgetCells)._2)
      }
      .start()
    (q, cents)
  }

  /** Offline retrain-and-migrate: reassign EVERY persisted vector to
    * its nearest centroid in `newCents` and rewrite the store
    * partitioned by the new cells (∝ state, ONCE, published through
    * the atomic snapshot swap; folds keep their ∝-delta cost). After the swap the layout is
    * consistent with `newCents`, so subsequent folds and probes MUST
    * pass the retrained set: a fold against the old centroids would
    * assign a replayed vector to a cell the pruned novelty probe
    * doesn't read. Novelty itself is preserved — vec_ids are unchanged
    * and assignment is deterministic in (vector, centroids), so a
    * replayed vector lands in its (new) cell and the id-level probe
    * skips it. */
  def rebalance(spark: SparkSession, statePath: String,
                newCents: DataFrame): Unit = {
    val p = cellsPath(statePath)
    if (!StateStore.exists(spark, p)) return
    val rows = StateStore.readPacked(spark, p).select("vec_id", "v", "norm")
    graft.sinks.Sinks.snapshotSwap(
      assigned(rows, newCents).repartition(col("cell")), p, Seq("cell"))
  }

  /** ANN top-k for a query frame (`query_id`, `qv`, `qnorm`) against the
    * persisted index: rank the centroids per query (broadcast × tiny),
    * partition-prune the index to the probed cells, score only those
    * cells' vectors, bounded-heap top-k.
    * @return (query_id, vec_id, score) — score rounded at 6 dp */
  def topK(spark: SparkSession, statePath: String, cents: DataFrame,
           queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    // an index nobody has folded yet answers EMPTY, not
    // PATH_NOT_FOUND — querying before the first micro-batch lands is
    // a normal startup race for a streaming index (the labels() rule)
    if (!StateStore.exists(spark, cellsPath(statePath)))
      return queries.limit(0)
        .select(col("query_id"), col("query_id").as("vec_id"),
          lit(0.0).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("cent_id"))
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("sim",
        expr(dot.format("qv", "cvec")) / (col("qnorm") * col("cnorm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= nprobe)
      .select(col("query_id"), col("qv"), col("qnorm"),
        col("cent_id").as("cell"))
    val cells = StateStore.prunedByTouched(spark, cellsPath(statePath),
      "cell", probes, col("cell"))
    val scored = cells
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score",
        expr(dot.format("v", "qv")) / (col("norm") * col("qnorm")))
    val topk = TopK.topK(k)
    scored.groupBy("query_id")
      .agg(topk(col("vec_id"), col("score")).as("nn"))
      .select(col("query_id"), explode(col("nn")).as("n"))
      .select(col("query_id"), col("n.id").as("vec_id"),
        round(col("n.score"), 6).as("score"))
  }
}
