package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.FooterSchema
import graft.llm.Pca
import graft.sinks.Sinks

/** Streaming PCA — the second-moment state kept current as embedding
  * batches arrive. Moments are MERGEABLE by cell-wise sum (Gram, mean
  * sum, count), so like the sketches (SketchStream) the state is
  * SUMMARY-sized — d·d + d + 1 cells whatever the corpus — and a fold
  * is delta-moments + merge + whole-snapshot swap of a table that fits
  * in one task. Unlike the k-min/register folds the merge is NOT
  * duplicate-absorbing (a replayed batch would double-count every
  * cell), so the fold carries the CMS ledger discipline verbatim:
  * folded batch ids live IN THE SAME FRAME as the cells, published
  * through one atomic swap — cells and ledger can never diverge, and a
  * redelivered batch id is skipped before any work.
  *
  * The per-batch corpus pass is the q132 moments Aggregator — only the
  * ~33 KB buffer summary ever reaches the driver or the state; a
  * report is dimension-bounded math off the snapshot with zero corpus
  * access, and answers EXACTLY what the batch q132 computes over the
  * same rows (cell sums reassociate; the difference is float-order
  * noise far below the oracle rounding).
  */
object PcaStream {

  private def momPath(state: String) = s"$state/moments"

  private val schema = StructType(Seq(
    StructField("kind", StringType), StructField("i", IntegerType),
    StructField("j", IntegerType), StructField("v", DoubleType),
    StructField("bid", StringType)))

  private def momentsRows(m: Pca.Moments): Seq[Row] = {
    val d = Pca.dim
    val g = for (i <- 0 until d; j <- 0 until d)
      yield Row("g", i, j, m.g(i * d + j), null)
    val s = (0 until d).map(i => Row("s", i, null, m.s(i), null))
    g ++ s :+ Row("n", null, null, m.n.toDouble, null)
  }

  /** Fold one micro-batch of embeddings (column `vecCol`) into the
    * persisted moments, exactly once per `batchId`. An empty batch
    * still records its ledger row — "folded and contributed nothing"
    * must survive a replay too. */
  def foldBatch(batch: DataFrame, vecCol: String, batchId: String,
                statePath: String): Unit = {
    val spark = batch.sparkSession
    val hasState = StateStore.exists(spark, momPath(statePath))
    val old =
      if (hasState) FooterSchema.load(spark, momPath(statePath)) else null
    if (hasState && !old.filter(col("kind") === "batch" &&
        col("bid") === batchId).isEmpty) return
    // ONE corpus-sized pass: the typed Aggregator; only its buffer
    // summary (d·d + d + 1 doubles) reaches the driver
    val delta = spark.createDataFrame(
      spark.sparkContext.parallelize(
        momentsRows(Pca.moments(batch, vecCol)), 1), schema)
    val oldCells =
      if (hasState) old.filter(col("kind") =!= "batch")
      else delta.limit(0)
    val cells = oldCells.unionByName(delta)
      .groupBy("kind", "i", "j").agg(sum("v").as("v"))
      .withColumn("bid", lit(null).cast("string"))
    val ledgerRow = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row("batch", null, null, null, batchId)), 1), schema)
    val ledger =
      if (hasState) old.filter(col("kind") === "batch").unionByName(ledgerRow)
      else ledgerRow
    Sinks.snapshotSwap(cells.unionByName(ledger).repartition(1),
      momPath(statePath), Seq.empty)
  }

  /** Rebuild the bounded Moments from the snapshot — d·d + d + 1
    * values, the same bounded-scalar collect as the fitted model. */
  def moments(spark: SparkSession, statePath: String): Pca.Moments = {
    Sinks.recoverSwap(spark, momPath(statePath))
    val d = Pca.dim
    val g = new Array[Double](d * d)
    val s = new Array[Double](d)
    var n = 0L
    FooterSchema.load(spark, momPath(statePath))
      .filter(col("kind") =!= "batch").collect().foreach { r =>
        r.getString(0) match {
          case "g" => g(r.getInt(1) * d + r.getInt(2)) = r.getDouble(3)
          case "s" => s(r.getInt(1)) = r.getDouble(3)
          case "n" => n = r.getDouble(3).toLong
        }
      }
    Pca.Moments(g, s, n)
  }

  /** The q132 report off the persisted moments — loadings, Rayleigh
    * eigenvalue, explained-variance ratio; zero corpus access. */
  def report(spark: SparkSession, statePath: String): DataFrame = {
    val (_, v, lam, evr) = Pca.principal(moments(spark, statePath))
    import spark.implicits._
    v.toSeq.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("dim", "raw")
      .select(col("dim"), round(col("raw"), 6).as("loading"),
        round(lit(lam), 4).as("eigval"), round(lit(evr), 6).as("evr"))
      .orderBy("dim")
  }
}
