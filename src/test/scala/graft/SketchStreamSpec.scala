package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.SketchStream

/** Streaming sketch maintenance (q127's machinery): the state is
  * SUMMARY-sized however the corpus grows, streamed folds answer the
  * batch build exactly, and replays are absorbed. */
class SketchStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"
  private def docs: DataFrame = graft.core.Tables.load(spark, sf, "documents")

  private def reportOf(state: String): Seq[(String, Double, Double)] =
    SketchStream.report(spark, state).orderBy("source")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq

  test("split folds == one fold, state stays summary-sized, replay absorbed") {
    val split = java.nio.file.Files.createTempDirectory("sk_split").toString
    SketchStream.foldBatch(docs.filter(col("doc_id") < 250), split)
    SketchStream.foldBatch(docs.filter(col("doc_id") >= 250), split)
    val whole = java.nio.file.Files.createTempDirectory("sk_whole").toString
    SketchStream.foldBatch(docs, whole)
    val a = reportOf(split)
    assert(a == reportOf(whole), "streamed != batch")
    assert(a.size == 20)

    // boundedness: <= k hashes and <= 2^p registers per source — the
    // property that lets the fold skip the bucketed-probe machinery
    val nSources = 20
    val snap = spark.read.parquet(s"$split/sketch")
    assert(snap.filter(col("kind") === "kmin").count() <= nSources * 256L)
    assert(snap.filter(col("kind") === "hll").count() <= nSources * 512L)

    // a replayed batch changes nothing (k-min union and register max
    // absorb duplicates)
    SketchStream.foldBatch(docs.filter(col("doc_id") < 250), split)
    assert(reportOf(split) == a, "replay changed the report")
  }

  test("CMS fold is exactly-once by batch id; ledger swaps with the counters") {
    val split = java.nio.file.Files.createTempDirectory("cms_split").toString
    SketchStream.foldCms(docs.filter(col("doc_id") < 250), "a", split)
    SketchStream.foldCms(docs.filter(col("doc_id") >= 250), "b", split)
    val whole = java.nio.file.Files.createTempDirectory("cms_whole").toString
    SketchStream.foldCms(docs, "all", whole)
    def cells(state: String): Map[(Int, Int), Long] =
      spark.read.parquet(s"$state/cms").filter(col("kind") === "cell")
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val grid = cells(split)
    // cell-wise sums are exact BIGINTs: two ledgered folds == one build
    assert(grid == cells(whole), "streamed grid != batch grid")

    // a REDELIVERED batch id is absorbed before any work
    SketchStream.foldCms(docs.filter(col("doc_id") < 250), "a", split)
    assert(cells(split) == grid, "redelivered batch id was re-folded")
    // ...but the protection is the id, not the content: the same rows
    // under a NEW id double-count — the documented contract (foreachBatch
    // redelivers with the SAME id)
    SketchStream.foldCms(docs.filter(col("doc_id") < 250), "a2", split)
    assert(cells(split) != grid,
      "distinct ids must fold independently (merge is non-absorbing)")

    // counters and ledger live in ONE snapshot frame — the atomic swap
    // can never publish one without the other
    val bids = spark.read.parquet(s"$split/cms")
      .filter(col("kind") === "batch").select("bid")
      .collect().map(_.getString(0)).toSet
    assert(bids == Set("a", "b", "a2"))
  }

  test("a crash inside the swap's rename window loses nothing: replay converges") {
    // the one non-atomic shape snapshotSwap can leave: live dir absent,
    // pre-swap snapshot in __old, the crashed fold's complete-but-
    // unpublished output in __tmp. Without recovery the next fold would
    // silently restart the grid AND the ledger from empty.
    val state = java.nio.file.Files.createTempDirectory("cms_crash").toString
    SketchStream.foldCms(docs.filter(col("doc_id") < 250), "a", state)
    val afterA = java.nio.file.Files.createTempDirectory("cms_ref").toString
    // reference: the clean two-fold end state
    SketchStream.foldCms(docs.filter(col("doc_id") < 250), "a", afterA)
    SketchStream.foldCms(docs.filter(col("doc_id") >= 250), "b", afterA)
    def cells(st: String): Map[(Int, Int), Long] =
      spark.read.parquet(s"$st/cms").filter(col("kind") === "cell")
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // simulate fold "b" dying mid-swap: live -> __old done, tmp -> live not
    val dir = java.nio.file.Paths.get(state, "cms")
    val old = java.nio.file.Paths.get(state, "cms__old")
    val tmp = java.nio.file.Paths.get(state, "cms__tmp")
    java.nio.file.Files.move(dir, old)
    java.nio.file.Files.createDirectory(tmp) // torn remnant, must be discarded
    // the at-least-once driver replays fold "b": heal + fold
    SketchStream.foldCms(docs.filter(col("doc_id") >= 250), "b", state)
    assert(cells(state) == cells(afterA),
      "crash-window replay did not converge to the clean end state")
    val bids = spark.read.parquet(s"$state/cms")
      .filter(col("kind") === "batch").select("bid")
      .collect().map(_.getString(0)).toSet
    assert(bids == Set("a", "b"), s"ledger lost history: $bids")
  }

  test("estimates track the growing corpus monotonically in coverage") {
    val state = java.nio.file.Files.createTempDirectory("sk_grow").toString
    SketchStream.foldBatch(docs.filter(col("doc_id") < 100), state)
    val small = reportOf(state).map(r => r._1 -> r._2).toMap
    SketchStream.foldBatch(docs.filter(col("doc_id") >= 100), state)
    val big = reportOf(state).map(r => r._1 -> r._2).toMap
    // KMV estimates never shrink as the set grows: the k-th smallest
    // hash can only move down, the estimate up (or stay, below k)
    big.foreach { case (src, est) =>
      assert(est >= small(src) - 1e-9, s"$src shrank: ${small(src)} -> $est")
    }
  }
}
