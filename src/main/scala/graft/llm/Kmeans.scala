package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Staging

/** Full-space deterministic Lloyd k-means over an embedding column — the
  * corpus TOPIC-CLUSTERING operator (cluster-conditioned mixing, SemDeDup
  * cell construction, and per-topic curriculum all consume such a
  * labeling; cf. Abbas et al., arXiv:2303.09540 §3, whose pipeline
  * k-means-clusters the corpus before within-cluster dedup).
  *
  * [[Pq.trainCodebooks]] (m=1) is already plain k-means, but its centroid
  * means carry full double precision, and a cross-engine oracle cannot
  * replay them: partial-sum ORDER differs between engines, so the last
  * ULP of each mean — and with it a near-tie assignment — can drift.
  * This trainer differs in exactly one step: each iteration's centroid
  * means are ROUNDED to 6 dp before the next assignment, which collapses
  * summation-order noise (the q94 trick applied per iteration) and makes
  * every downstream distance bit-replayable from the rounded values.
  * Everything else is shared discipline:
  *  - seeds are the corpus's first `k` vectors in md5(vec_id) order (the
  *    engine's reproducible pseudo-random spread);
  *  - d2 is the dot-product identity |v|2 - 2 v.c + |c|2 through the
  *    codegen'd [[graft.plans.VectorDot]] — the same left-to-right float
  *    fold DuckDB's list_dot_product takes, so assignment compares
  *    bit-identical values cross-engine;
  *  - ties break on (d2, cent_id); empty clusters keep their previous
  *    centroid; means average per fixed dimension position.
  *
  * Scale shape (per iteration):
  *  - the centroid table is k rows — broadcast, never shuffled;
  *  - assignment is a broadcast join whose k candidate rows per vector
  *    are collapsed MAP-SIDE by a partial min(struct(d2, cent_id, v))
  *    (all candidates are produced in the generating task, so the
  *    partial aggregate reduces them before any wire transfer — the
  *    shuffle carries at most one row per vector, not k);
  *  - the mean update aggregates map-side per (cent_id, dim): shuffle
  *    volume is k*d rows — codebook-sized, independent of corpus size;
  *  - the k centroids live on the DRIVER between iterations (a bounded-
  *    scalar collect of the k mean rows per iteration) and re-enter the
  *    next assignment as a driver-local frame, so each iteration is ONE
  *    scheduling round trip and the loop never builds an iters-deep
  *    optimizer plan over the corpus.
  */
object Kmeans {

  private val dot = "vector_dot(%s, %s)"

  /** (vec_id, v: array<double>) — embeddings cast once. */
  private def vecs(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  private def d2Col = expr(dot.format("v", "v")) -
    lit(2) * expr(dot.format("v", "cv")) + expr(dot.format("cv", "cv"))

  /** Nearest-centroid assignment: (vec_id, cent_id, d2, v). One broadcast
    * join, candidates collapsed map-side — no corpus-fanout shuffle. */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assignVecs(vecs(vectors), centroids)

  /** [[assign]] over an already-converted (vec_id, v) frame. */
  private def assignVecs(en: DataFrame, centroids: DataFrame): DataFrame =
    en.crossJoin(broadcast(centroids))
      .withColumn("d2", d2Col)
      // (d2, cent_id) is unique per vec, so the trailing v never decides
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cent_id"), col("v"))).as("m"))
      .select(col("vec_id"), col("m.cent_id").as("cent_id"),
        col("m.d2").as("d2"), col("m.v").as("v"))

  /** Train `k` centroids with `iters` Lloyd iterations.
    * @param observe training telemetry hook `(stage, rows) => Unit`
    *   (the Components discipline: counted off STAGED frames, zero cost
    *   when None): per iteration, `kmeans:iter{i}_active_cells` = how
    *   many clusters received a mean update — the production signal for
    *   cluster collapse (k minus active = starved cells keeping stale
    *   centroids). Wire to `RunTelemetry.record`.
    * @return (cent_id: int, cv: array<double>) — k rows, means rounded
    *         to 6 dp (oracle-replayable; see object doc) */
  def train(vectors: DataFrame, k: Int, iters: Int,
            observe: Option[(String, Long) => Unit] = None): DataFrame = {
    val spark = vectors.sparkSession
    graft.plans.VectorDot.register(spark)
    import spark.implicits._
    val en = Staging.stage(vecs(vectors))
    val seedOrd = Seq(md5(col("vec_id").cast("string")), col("vec_id"))
    // the centroid table is k rows BY CONSTRUCTION (a TakeOrdered(k)
    // seed, then one mean row per cell) — the engine's sanctioned
    // bounded-scalar collect, the discipline the BPE trainer proved out:
    // the seeds are collected ONCE (TakeOrderedAndProject returns rows
    // already in seed order, so driver index = the old window's
    // row_number - 1) and each iteration's rounded means are collected
    // and folded into a driver-local centroid list. The next iteration's
    // assignment then broadcasts a LocalTableScan (jobless) instead of
    // staging + broadcast-building a checkpointed k-row frame — one
    // scheduling round trip per iteration where the staged loop paid
    // three. Exact same centroids: the means are the same rounded
    // per-dimension avgs, and getOrElse replicates the left-join
    // coalesce (empty cells keep their previous centroid).
    val seedRows = en.orderBy(seedOrd: _*).limit(k).select("v").collect()
    var cents: Seq[(Int, Seq[Double])] = seedRows.toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0)) }
    for (i <- 1 to iters) {
      val cb = cents.toDF("cent_id", "cv")
      // ONE job per iteration: the corpus-wide assignment + mean
      // aggregation, collected as k bounded rows
      val meanRows = meansOf(assignVecs(en, cb)).collect()
      // active-cell telemetry is now free — the mean rows are on the
      // driver either way
      observe.foreach(_(s"kmeans:iter${i}_active_cells", meanRows.length.toLong))
      val means: Map[Int, Seq[Double]] = meanRows.map { r =>
        r.getInt(r.fieldIndex("cent_id")) ->
          r.getSeq[Double](r.fieldIndex("ncv"))
      }.toMap
      cents = cents.map { case (cid, cv) => (cid, means.getOrElse(cid, cv)) }
    }
    cents.toDF("cent_id", "cv")
  }

  /** Per-cluster 6 dp-rounded dimension means: (cent_id, ncv). Map-side
    * partial avg per (cent_id, pos) — the shuffle is k*d rows; the
    * per-cent collect is d rows, sorted in-row by pos (deterministic
    * regardless of arrival order). */
  private[graft] def meansOf(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cent_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cent_id", "pos").agg(round(avg("x"), 6).as("mv"))
      .groupBy("cent_id")
      .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), p -> p.mv)")
        .as("ncv"))

  /** Train + final assignment: (vec_id, topic: int, dist2: double
    * rounded 6 dp), the corpus topic labeling. */
  def topics(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    graft.plans.VectorDot.register(vectors.sparkSession)
    assign(vectors, train(vectors, k, iters))
      .select(col("vec_id"), col("cent_id").as("topic"),
        round(col("d2"), 6).as("dist2"))
  }
}
