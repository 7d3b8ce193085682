package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{JobTrace, Tables}

/** One-off scale-slope sanity harness: replicate the documents/events
  * fixtures k× (replica i offsets ids and perturbs tokens, so shingle
  * sets are disjoint and each replica keeps the base occupancy
  * structure — "more corpus", not "deeper clusters"), write them as a
  * synthetic scale-factor directory, and run the dedup / clustering /
  * event-report families through the REAL `SparkEntry.queries` bodies,
  * recording wall-clock and shuffle volume per query.
  *
  * The point is the SLOPE: ShuffleGrowthSpec pins linearity on small
  * fixtures inside the test suite; this main checks the same claim at a
  * 10–100× synthetic scale-up outside the driver contract (the numbers
  * land in BENCH_SF1.md). Not part of Verify/Bench; run by hand:
  *
  *   runMain graft.tools.ScaleSanity /root/testdata/sf0.1 10 /tmp/sfx10
  */
object ScaleSanity {

  /** Batch families (dedup / clustering / event reports) plus the
    * STREAMING FOLDS — the q82/q126-class rows fold the whole (scaled)
    * table into fresh persisted state per invocation, so their slope
    * here is the per-fold-∝-delta claim at a 10–100× delta, with the
    * bucketed appends, novelty probes, and snapshot swaps all included
    * in the measurement (ShuffleGrowthSpec pins the same claim's
    * shuffle-volume side on small fixtures). */
  private val queries = Seq(
    "q43_fingerprint", "q45_minhash_sig", "q46_minhash_pairs",
    "q73_dup_clusters", "q107_funnel", "q108_retention",
    "q109_rolling_active",
    // streaming folds: state maintenance ∝ delta
    "q82_incremental_clusters", "q112_incremental_retention",
    "q126_incremental_ann", "q127_incremental_sketch",
    "q129_incremental_bm25", "q144_incremental_pagerank",
    "q146_incremental_sessions")

  /** q144's fold under [[graft.streaming.PageRankStream.Banding.wide]]
    * — the deployment banding whose slope the default-banding cell
    * motivates (the 8×4-bit band space saturates at 10× corpus; the
    * 9×7-bit setting has 8× the bucket values per segment). Same split
    * shape as the oracle row's body; state is scratch under the
    * synthetic sf dir. */
  private def q144WideBanding(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    import graft.streaming.PageRankStream
    val state = s"$dir/__state_q144_wide"
    val fs = new org.apache.hadoop.fs.Path(state).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(state), true)
    val docs = Tables.load(s, dir, "documents")
    PageRankStream.foldBatch(docs.filter(col("doc_id") < 250), state,
      PageRankStream.Banding.wide)
    PageRankStream.foldBatch(docs.filter(col("doc_id") >= 250), state,
      PageRankStream.Banding.wide)
    PageRankStream.ranks(s, state)
  }

  /** q82's fold under [[graft.llm.MinHash.Banding.wide]] — the
    * cluster tier's scale setting (3 bands × 3 slices vs the oracle's
    * 2×2): same split shape as the oracle row's body, scratch state
    * under the synthetic sf dir. The default cell's second-decade
    * reading (14.5× shuffle, BENCH_SF1.md) is the 2-slice bucket
    * occupancy saturating; this cell records the wide slope. */
  private def q82WideBanding(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    import graft.llm.MinHash.Banding
    import graft.streaming.ClusterMaintenance
    val state = s"$dir/__state_q82_wide"
    val fs = new org.apache.hadoop.fs.Path(state).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(state), true)
    val docs = Tables.load(s, dir, "documents")
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 250), state,
      banding = Banding.wide)
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") >= 250), state,
      banding = Banding.wide)
    ClusterMaintenance.labels(s, state)
  }

  /** q144 at a THIRD banding between the default (8×4-bit, 16 values
    * per segment) and wide (9×7-bit, 128): 8 segments × 5 bits = 32
    * values — one added segment bit. Three measured settings turn the
    * "one segment bit ≈ one decade of headroom" discipline from prose
    * into a recorded curve. */
  private def q144MidBanding(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    import graft.streaming.PageRankStream
    val mid = PageRankStream.Banding(40, 8, 5, 6)
    val state = s"$dir/__state_q144_mid"
    val fs = new org.apache.hadoop.fs.Path(state).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(state), true)
    val docs = Tables.load(s, dir, "documents")
    PageRankStream.foldBatch(docs.filter(col("doc_id") < 250), state, mid)
    PageRankStream.foldBatch(docs.filter(col("doc_id") >= 250), state, mid)
    PageRankStream.ranks(s, state)
  }

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("-"))
    val Array(baseSf, kStr, outDir) = pos.take(3)
    val k = kStr.toInt
    // optional 4th arg: comma-separated cell names — re-measuring one
    // family must not pay the whole suite (q144's default k=100 cell
    // alone is ~7 min)
    val only = pos.lift(3).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.GraftSession.local(cpus)

    // synthetic sf dir: k disjoint replicas of documents + events
    val docs = Tables.load(spark, baseSf, "documents")
    (0 until k).map { i =>
      if (i == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1z$i"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val events = Tables.load(spark, baseSf, "events")
    (0 until k).map { i =>
      if (i == 0) events
      else events.withColumn("user_id", col("user_id") + lit(i * 10000000L))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // embeddings (the ANN fold's table): replica i offsets ids and
    // deterministically jitters each component, so cell occupancy keeps
    // the base structure instead of stacking identical vectors 10-deep
    val emb = Tables.load(spark, baseSf, "embeddings")
    (0 until k).map { i =>
      if (i == 0) emb
      else emb
        .withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> x + CAST(0.003 * $i * " +
            "sin(CAST(j AS DOUBLE)) AS FLOAT))"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // -stages: per-stage shuffle-write attribution (stage name + records)
    // for decomposing a superlinear aggregate into the stage that grew
    val stageDetail = args.contains("-stages")
    val bodies: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] =
      queries.map(n => n -> SparkEntry.queries(n)) :+
        ("q144_wide_banding" -> (q144WideBanding _)) :+
        ("q144_mid_banding" -> (q144MidBanding _)) :+
        ("q82_wide_banding" -> (q82WideBanding _))
    bodies.filter(b => only.forall(_.contains(b._1))).foreach {
      case (name, body) =>
      val ((n, sec), rec) = JobTrace.measure(spark) {
        val t0 = System.nanoTime()
        val n = body(spark, outDir).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      if (stageDetail)
        for (st <- rec.stages if st.shuffleWriteRecords >= 10000)
          println(s"[shuffle] rec=${st.shuffleWriteRecords} tasks=${st.tasks} ${st.name.take(90)}")
      val tot = rec.totals
      println(f"""{"query":"$name","k":$k,"rows":$n,"sec":$sec%.2f,""" +
        s""""shuffle_records":${tot.shuffleWriteRecords},"shuffle_mb":${tot.shuffleWriteBytes / 1048576}}""")
    }
    spark.stop()
  }
}
