package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Shingles, Sketches}
import graft.sinks.Sinks

/** Streaming sketch maintenance — per-source distinct-cardinality
  * summaries (KMV k-min hashes + HLL registers) kept current as
  * documents arrive. The payoff of MERGEABILITY (llm/Sketches): unlike
  * every other streaming state in the engine, this state is
  * SUMMARY-sized, not corpus-sized — ≤ k hashes and ≤ m registers per
  * source, whatever the corpus — so a fold is delta-sketch + merge +
  * whole-snapshot swap of a table that fits in one task, and none of
  * the bucketed-probe machinery is needed. The estimates a streamed
  * state answers are IDENTICAL to a batch build over the same corpus
  * (k-min union and register max are associative and
  * duplicate-absorbing, which also makes foreachBatch replays free).
  *
  * State under `statePath`: ONE `sketch/` snapshot holding both tiers
  * discriminated by `kind` — `kmin` rows (source, h), the k smallest
  * distinct hashes per source; `hll` rows (source, reg, mrho), the
  * register-wise max rank — published through a SINGLE atomic swap per
  * fold (they always change together, and two swaps paid two write
  * jobs + two rename rounds per fold for tables that share a staged
  * delta; a version upgrade from the earlier two-dir layout is one
  * read-union-swap migration).
  */
object SketchStream {

  private def sketchPath(state: String) = s"$state/sketch"
  // ONE definition with the oracle-generating batch queries — retuning
  // either side alone would silently diverge the driver gate
  private val kmvK = Sketches.kmvK
  private val hllP = Sketches.hllP

  /** One-time read-union-swap from the pre-unification two-dir layout
    * (`kmin/` = (source, h); `hll/` = (source, reg, mrho)) into the
    * discriminated `sketch/` snapshot — without it, a fold on legacy
    * state would see `sketch/` absent and silently restart the sketches
    * from empty (an estimate regression), and `report` would throw.
    * Crash-safe at every point: the unified snapshot publishes through
    * the atomic swap while the legacy dirs still exist (a crash before
    * the swap re-runs the migration whole), and the legacy dirs are
    * retired only after `sketch/` is live (a crash between leaves
    * orphans that the next call sweeps — `sketch/` present, deletes
    * only). Runs on every fold/report entry but costs two existence
    * probes on the (normal) already-migrated path. */
  private def migrateLegacy(spark: SparkSession, statePath: String): Unit = {
    val kp = s"$statePath/kmin"
    val hp = s"$statePath/hll"
    val hasK = StateStore.exists(spark, kp)
    val hasH = StateStore.exists(spark, hp)
    if (!hasK && !hasH) return
    val p = sketchPath(statePath)
    if (!StateStore.exists(spark, p)) {
      val kRows =
        if (hasK) Some(spark.read.parquet(kp)
          .select(col("source"), col("h").cast("long").as("h"),
            lit(null).cast("int").as("reg"), lit(null).cast("int").as("mrho"),
            lit("kmin").as("kind")))
        else None
      val hRows =
        if (hasH) Some(spark.read.parquet(hp)
          .select(col("source"), lit(null).cast("long").as("h"),
            col("reg").cast("int").as("reg"), col("mrho").cast("int").as("mrho"),
            lit("hll").as("kind")))
        else None
      Sinks.snapshotSwap((kRows ++ hRows).reduce(_.unionByName(_))
        .repartition(1), p, Seq.empty)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(kp, hp).foreach { d =>
      val path = new org.apache.hadoop.fs.Path(d)
      path.getFileSystem(conf).delete(path, true)
    }
  }

  /** The delta's (source, h) distinct hash rows — the q120 hashing path
    * applied to a batch's 3-word shingles. */
  private def deltaHashes(batch: DataFrame): DataFrame =
    graft.core.Staging.spread(batch)
      .withColumn("toks", expr(Shingles.toksExpr))
      .select(col("source"),
        explode(expr(s"array_distinct(${Shingles.shingleSparkExpr})"))
          .as("item"))
      .withColumn("hh", md5(concat(lit("kmv|"), col("item"))))
      .select(col("source"), Sketches.hexFold32("hh").as("h"))
      .distinct()

  /** Fold one micro-batch of documents (`source`, `text`) into the
    * persisted sketches: delta sketch, merge with state, swap. The
    * corpus-sized delta is summarized FIRST (one windowed pass for the
    * k-mins, one keyed max for the registers), so the merge with state
    * only ever touches summary-sized frames; each snapshot is written
    * as a single file via an explicit tiny repartition — safe at any
    * corpus scale because a snapshot is ≤ nSources · max(k, 2^p) rows
    * by construction. */
  def foldBatch(batch: DataFrame, statePath: String): Unit = {
    val spark = batch.sparkSession
    migrateLegacy(spark, statePath)
    // staged WITH the count in one job (stageCounted): the count is the
    // empty-batch early-out, so the separate limit-1 probe job is gone
    val (delta, nDelta) = graft.core.Staging.stageCounted(deltaHashes(batch))
    if (nDelta == 0L) { graft.core.Staging.release(delta); return }
    val wn = Window.partitionBy("source").orderBy("h")
    val p = sketchPath(statePath)
    val hasState = StateStore.exists(spark, p)
    val old = if (hasState) StateStore.readPacked(spark, p) else null

    val dKmin = delta.withColumn("rn", row_number().over(wn))
      .filter(col("rn") <= kmvK).select("source", "h")
    val kOld =
      if (hasState) old.filter(col("kind") === "kmin").select("source", "h")
      else dKmin.limit(0)
    val kNew = kOld.unionByName(dKmin).distinct()
      .withColumn("rn", row_number().over(wn))
      .filter(col("rn") <= kmvK)
      .select(col("source"), col("h"), lit(null).cast("int").as("reg"),
        lit(null).cast("int").as("mrho"), lit("kmin").as("kind"))

    val dRegs = delta
      .withColumn("reg", Sketches.hllRegister(col("h"), hllP))
      .withColumn("mrho", Sketches.hllRho(col("h"), hllP))
      .groupBy("source", "reg").agg(max("mrho").as("mrho"))
    val hOld =
      if (hasState) old.filter(col("kind") === "hll")
        .select("source", "reg", "mrho")
      else dRegs.limit(0)
    val hNew = hOld.unionByName(dRegs)
      .groupBy("source", "reg").agg(max("mrho").as("mrho"))
      .select(col("source"), lit(null).cast("long").as("h"), col("reg"),
        col("mrho"), lit("hll").as("kind"))
    // both tiers ride ONE snapshot swap — they can never diverge, and a
    // fold pays one write job instead of two
    Sinks.snapshotSwap(kNew.unionByName(hNew).repartition(1), p, Seq.empty)
    graft.core.Staging.release(delta)
  }

  // ---- count-min sketch: the NON-absorbing merge -----------------------
  // Cell-wise SUM merges associatively but NOT idempotently — a replayed
  // batch would double-count, the exact opposite of the k-min/register
  // folds above. The fold is therefore EXACTLY-ONCE by construction: the
  // snapshot carries a ledger of folded batch ids IN THE SAME FRAME as
  // the counters, published through one atomic swap — counters and
  // ledger can never diverge (a crash publishes both or neither; the
  // swap's one rename window, where the live dir is briefly absent with
  // the pre-swap snapshot in __old, is healed by Sinks.recoverSwap
  // before any existence probe — see StateStore.exists), and a
  // redelivered batch id is skipped before any work. foreachBatch's
  // batchId is exactly the stable id this needs.

  private def cmsPath(state: String) = s"$state/cms"
  private val cmsD = Sketches.cmsD

  /** CMS cell assignment of an (item, r) frame — the q123 hashing
    * verbatim (md5("cms" + r + "|" + item) digit-folded mod w). */
  private def cmsCell(df: DataFrame): DataFrame = df
    .withColumn("hh", md5(concat(lit("cms"), col("r").cast("string"),
      lit("|"), col("item"))))
    .withColumn("c",
      (Sketches.hexFold32("hh") % Sketches.cmsW).cast("int"))

  /** The batch's cell deltas: every 3-shingle occurrence (NOT distinct —
    * CMS counts frequency) hashed into the d×w grid. */
  private def cmsDelta(batch: DataFrame): DataFrame =
    cmsCell(graft.core.Staging.spread(batch)
      .withColumn("toks", expr(Shingles.toksExpr))
      .select(explode(expr(Shingles.shingleSparkExpr)).as("item"))
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .select(col("item"), col("cnt"),
        explode(expr(s"sequence(0, ${cmsD - 1})")).as("r")))
      .groupBy("r", "c").agg(sum("cnt").as("cell"))

  /** Fold one micro-batch into the persisted count-min grid, exactly
    * once per `batchId` (see the section note). An empty batch still
    * records its ledger row — "folded and contributed nothing" must
    * survive a replay too. */
  def foldCms(batch: DataFrame, batchId: String, statePath: String): Unit = {
    val spark = batch.sparkSession
    val hasState = StateStore.exists(spark, cmsPath(statePath))
    val old =
      if (hasState) StateStore.readPacked(spark, cmsPath(statePath)) else null
    if (hasState && !old.filter(col("kind") === "batch" &&
        col("bid") === batchId).isEmpty) return
    val delta = cmsDelta(batch)
    val oldCells =
      if (hasState) old.filter(col("kind") === "cell")
        .select("r", "c", "cell")
      else delta.limit(0)
    val cells = oldCells.unionByName(delta)
      .groupBy("r", "c").agg(sum("cell").as("cell"))
      .withColumn("kind", lit("cell"))
      .withColumn("bid", lit(null).cast("string"))
    val ledgerRow = spark.range(1).select(
      lit(null).cast("int").as("r"), lit(null).cast("int").as("c"),
      lit(null).cast("long").as("cell"), lit("batch").as("kind"),
      lit(batchId).as("bid"))
    val ledger =
      if (hasState) old.filter(col("kind") === "batch").unionByName(ledgerRow)
      else ledgerRow
    // summary-sized (≤ d·w cells + one ledger row per fold): one file
    Sinks.snapshotSwap(cells.unionByName(ledger).repartition(1),
      cmsPath(statePath), Seq.empty)
  }

  /** Point-query estimates for a candidate item frame off the persisted
    * grid: min over the d hashed cells per item. The grid is
    * summary-sized and rides a broadcast. @return (item, n_est) */
  def cmsEstimates(spark: SparkSession, statePath: String,
                   items: DataFrame): DataFrame = {
    Sinks.recoverSwap(spark, cmsPath(statePath)) // direct read: heal first
    val cells = StateStore.readPacked(spark, cmsPath(statePath))
      .filter(col("kind") === "cell").select("r", "c", "cell")
    cmsCell(items.select(col("item"),
        explode(expr(s"sequence(0, ${cmsD - 1})")).as("r")))
      .join(broadcast(cells), Seq("r", "c"))
      .groupBy("item").agg(min("cell").as("n_est"))
  }

  /** Per-source cardinality estimates off the persisted summaries —
    * no corpus access at all. @return (source, est_kmv, est_hll) */
  def report(spark: SparkSession, statePath: String): DataFrame = {
    migrateLegacy(spark, statePath)
    Sinks.recoverSwap(spark, sketchPath(statePath)) // direct read: heal first
    val snap = StateStore.readPacked(spark, sketchPath(statePath))
    val wn = Window.partitionBy("source").orderBy("h")
    val kmv = snap.filter(col("kind") === "kmin")
      .withColumn("rn", row_number().over(wn))
      .groupBy("source")
      .agg(count(lit(1)).as("nh"),
        max(when(col("rn") === kmvK, col("h"))).as("hk"))
      .select(col("source"),
        Sketches.kmvEstimate(col("hk"), col("nh"), kmvK).as("est_kmv"))
    val hll = snap.filter(col("kind") === "hll")
      .groupBy("source").agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), 24 - mrho)")).as("spow"),
        count(lit(1)).as("nregs"))
      .select(col("source"),
        Sketches.hllEstimate(col("spow"),
          (lit(1 << hllP) - col("nregs")).cast("long"), hllP).as("est_hll"))
    kmv.join(hll, Seq("source"))
  }
}
