package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Staging
import graft.llm.QualityModel

/** Streaming feature store + periodic retrain for the trained quality
  * classifier (llm/QualityModel) — the production deployment shape for a
  * model-based filter: feature extraction is map-only and runs per
  * micro-batch as documents arrive, the (doc_id, features, label) rows
  * accumulate in a doc-bucketed state table, and RETRAINING is an
  * on-demand pass over the persisted features (nightly/periodic), not a
  * per-batch cost.
  *
  * State discipline: the feature table is the ONLY state, novelty-guarded
  * on doc_id — appends are duplicate-absorbing (a redelivered batch finds
  * its ids already present and appends nothing), so unlike the CMS/PCA
  * folds no batch-id ledger is needed; the standardization moments are
  * NOT persisted incrementally because training recomputes them from the
  * state in one aggregation anyway (they must be the TRAINING-set moments
  * of whatever the state holds at retrain time). Per-batch cost: map-only
  * extraction upstream + a partition-pruned novelty probe ∝ delta
  * (StateStore.novelAgainst — no state row ever shuffles). Retrain cost:
  * 1 stats pass + `iters` gradient passes over the state scan.
  *
  * Because gradient and moment sums are ORDER-FREE exact integers
  * (QualityModel's grids), training over the folded state is bit-equal
  * to training over the same rows in one batch — q142 makes that
  * driver-visible by answering q137's oracle verbatim off two folds.
  */
object QualityStream {

  /** Bucket modulus of the feature store (see ClusterMaintenance's
    * sizing rule: near the shuffle-partition count at test scale; a
    * layout constant — a new value means a new statePath). */
  private val stateBuckets = 32

  private def featPath(state: String) = s"$state/features"

  private def docBucket =
    pmod(xxhash64(col("doc_id")), lit(stateBuckets)).cast("int")

  /** Fold one micro-batch of raw feature rows — (doc_id, x_stop, x_mwl,
    * x_len, y) on QualityModel's 1e-6 grid — into the feature store.
    * @return novel rows appended (0 for a fully-replayed batch) */
  def foldBatch(feats: DataFrame, statePath: String): Long = {
    val p = featPath(statePath)
    // staged: feature extraction (a tokenization upstream) runs ONCE —
    // the novelty probe consumes the delta twice (broadcast keys + the
    // anti-join's left side); the staged count feeds the probe's
    // deltaRows hint, skipping the touched-bucket collect for deltas
    // that have touched every bucket anyway
    val (delta, dn) = Staging.stageCounted(feats
      .select(col("doc_id"), col("x_stop"), col("x_mwl"), col("x_len"),
        col("y"))
      .withColumn("db", docBucket))
    if (dn == 0) { Staging.release(delta); return 0L }
    val (novel, n) = Staging.stageCounted(StateStore.novelAgainst(
      p, delta, Seq("doc_id"), "db", col("db"), stateBuckets,
      deltaRows = dn))
    if (n > 0) StateStore.appendBucketed(novel, p, "db", deltaRows = n)
    Staging.release(delta, novel) // fold hygiene: staged frames are dead
    n
  }

  /** Retrain over the persisted features: the stats pass, the
    * standardized staging, and `iters` full-batch GD steps — exactly
    * [[QualityModel]]'s batch recipe over the state scan, so the result
    * is bit-equal to a one-shot batch training on the same rows. */
  def train(spark: SparkSession, statePath: String, lr: Double,
            iters: Int, l2: Double = 0.0): Seq[QualityModel.Step] = {
    graft.sinks.Sinks.recoverSwap(spark, featPath(statePath))
    val raw = StateStore.readPacked(spark, featPath(statePath))
    val cols = Seq("x_stop", "x_mwl", "x_len")
    val (_, mu, sd) = QualityModel.stats(raw, cols)
    val st = Staging.stage(QualityModel.standardize(raw, cols, mu, sd))
    val steps = QualityModel.train(st,
      Seq("xs_bias", "xs_x_stop", "xs_x_mwl", "xs_x_len"), "y", lr, iters, l2)
    Staging.release(st) // steps are collected scalars; the frame is dead
    steps
  }

  /** Row count of the feature store (footer walk, no job). */
  def stateRows(spark: SparkSession, statePath: String): Long =
    if (StateStore.exists(spark, featPath(statePath)))
      StateStore.parquetRowCount(spark, featPath(statePath))
    else 0L
}
