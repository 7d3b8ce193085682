package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.PageRankStream

/** Streaming PageRank maintenance (q144's machinery): streamed edge
  * folds + re-rank equal the batch q131 ranks whatever the split
  * granularity, replay is absorbed in every state table, rank mass is
  * conserved, and a cold state answers empty. */
class PageRankStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"
  private def docs: DataFrame = graft.core.Tables.load(spark, sf, "documents")

  private def batchRanks: Seq[(Long, Double)] =
    SparkEntry.queries("q131_pagerank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def streamedRanks(state: String): Seq[(Long, Double)] =
    PageRankStream.ranks(spark, state).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("two streamed folds + re-rank answer exactly the batch q131 ranks") {
    val state = java.nio.file.Files.createTempDirectory("prs_split").toString
    PageRankStream.foldBatch(docs.filter(col("doc_id") < 250), state)
    PageRankStream.foldBatch(docs.filter(col("doc_id") >= 250), state)
    val streamed = streamedRanks(state)
    assert(streamed == batchRanks, "streamed graph != batch ranks")
    // rank mass conservation: N grid points of 1e-9 each, up to the
    // per-node rounding (≤ 1 unit each way per update per node)
    val mass = streamed.map(_._2).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"rank mass drifted: $mass")
  }

  test("the driver-resident bounded strategy equals the lazy plan, " +
      "dangling and isolated vertices included") {
    // nodes 1..6: 1-2-3 a path, 4 isolated (dangling), 5-6 an edge;
    // exercises every arithmetic seam the driver strategy replicates
    // (degree contributions, dangling mass, zero-inflow nodes)
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    def got(staged: Boolean): Seq[(Long, Double)] =
      graft.llm.PageRank.ranks(nodes, pairs, stageIterations = staged)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val driver = got(staged = true)  // bounded ⇒ the driver-resident path
    val lazyPlan = got(staged = false)
    assert(driver == lazyPlan,
      s"driver-resident ranks diverge from the lazy plan:\n$driver\n$lazyPlan")
  }

  test("a finer 4-way split converges to the same ranks") {
    val state = java.nio.file.Files.createTempDirectory("prs_four").toString
    Seq(col("doc_id") < 125,
        col("doc_id") >= 125 && col("doc_id") < 250,
        col("doc_id") >= 250 && col("doc_id") < 375,
        col("doc_id") >= 375)
      .foreach(p => PageRankStream.foldBatch(docs.filter(p), state))
    assert(streamedRanks(state) == batchRanks,
      "4-way streamed graph != batch ranks")
  }

  test("a replayed batch is absorbed in every state table") {
    val state = java.nio.file.Files.createTempDirectory("prs_replay").toString
    PageRankStream.foldBatch(docs.filter(col("doc_id") < 250), state)
    PageRankStream.foldBatch(docs.filter(col("doc_id") >= 250), state)
    val before = streamedRanks(state)
    def counts = Seq("nodes", "bands", "edges")
      .map(t => spark.read.parquet(s"$state/$t").count())
    val cBefore = counts
    PageRankStream.foldBatch(docs.filter(col("doc_id") >= 250), state)
    assert(counts == cBefore, s"replay changed state row counts: $cBefore -> $counts")
    assert(streamedRanks(state) == before, "replay changed the ranks")
  }

  test("wide banding finds exactly the wide-signature pair set; " +
      "a mismatched-banding fold is refused") {
    val wide = PageRankStream.Banding.wide
    val state = java.nio.file.Files.createTempDirectory("prs_wide").toString
    PageRankStream.foldBatch(docs.filter(col("doc_id") < 250), state, wide)
    PageRankStream.foldBatch(docs.filter(col("doc_id") >= 250), state, wide)
    // batch reference at the SAME wide signature: per-lang all-pairs
    // under the Hamming gate — the pigeonhole guarantee says the banded
    // equi-join must find every one of these, and the lowest-agreeing-
    // segment emission says none twice
    val sims = graft.llm.Simhash.simhashOf(
      docs.select(col("doc_id"), col("lang"), col("text")), wide.simBits)
    val a = sims.select(col("lang"), col("doc_id").as("doc_a"),
      col("simhash").as("sa"))
    val b = sims.select(col("lang"), col("doc_id").as("doc_b"),
      col("simhash").as("sb"))
    val expected = a.join(b, "lang")
      .filter(col("doc_a") < col("doc_b"))
      .filter(expr("CAST(bit_count(sa ^ sb) AS INT)") <= wide.maxHamming)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = spark.read.parquet(s"$state/edges")
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == expected,
      s"wide-banded streamed edges (${streamed.size}) != " +
        s"batch wide-signature pairs (${expected.size})")
    // the state is stamped; a fold under the default banding is refused
    val refused = intercept[IllegalArgumentException] {
      PageRankStream.foldBatch(docs.filter(col("doc_id") < 10), state)
    }
    assert(refused.getMessage.contains("refusing to fold"),
      s"unexpected refusal message: ${refused.getMessage}")
  }

  test("an untagged existing band store is treated as default-banded: " +
      "a wide fold is refused, a default fold adopts and stamps it") {
    val state = java.nio.file.Files.createTempDirectory("prs_pretag").toString
    PageRankStream.foldBatch(docs.filter(col("doc_id") < 250), state)
    // simulate pre-tag state (written by an engine version with the
    // constants inlined): drop the stamp the fold just wrote
    graft.streaming.StateStore.deleteTag(spark, s"$state/bands", "_banding")
    val refused = intercept[IllegalArgumentException] {
      PageRankStream.foldBatch(docs.filter(col("doc_id") >= 250), state,
        PageRankStream.Banding.wide)
    }
    assert(refused.getMessage.contains("predates the _banding tag"),
      s"unexpected refusal message: ${refused.getMessage}")
    // a default fold is the legal adoption path — and it restamps
    PageRankStream.foldBatch(docs.filter(col("doc_id") >= 250), state)
    assert(graft.streaming.StateStore.readTag(spark, s"$state/bands",
      "_banding").contains(PageRankStream.Banding.default.tag))
    assert(streamedRanks(state) == batchRanks,
      "adopted pre-tag state diverged from the batch ranks")
  }

  test("rebandTo rebuilds the graph under the new banding; folds resume; " +
      "an interrupted re-band refuses folds until re-run") {
    val wide = PageRankStream.Banding.wide
    val state = java.nio.file.Files.createTempDirectory("prs_reband").toString
    PageRankStream.foldBatch(docs.filter(col("doc_id") < 250), state)
    PageRankStream.rebandTo(docs.filter(col("doc_id") < 250), state, wide)
    assert(graft.streaming.StateStore.readTag(spark, s"$state/bands",
      "_banding").contains(wide.tag), "re-band must restamp the tag")
    // folds RESUME under the new setting (and only under it)
    intercept[IllegalArgumentException] {
      PageRankStream.foldBatch(docs.filter(col("doc_id") >= 250), state)
    }
    PageRankStream.foldBatch(docs.filter(col("doc_id") >= 250), state, wide)
    // end state == a from-scratch wide build over the same corpus
    val scratch = java.nio.file.Files.createTempDirectory("prs_reband2").toString
    PageRankStream.foldBatch(docs, scratch, wide)
    def edgeSet(s: String) = spark.read.parquet(s"$s/edges")
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet(state) == edgeSet(scratch),
      "rebanded-then-folded edge set != from-scratch wide build")
    assert(streamedRanks(state) == streamedRanks(scratch),
      "rebanded ranks != from-scratch wide ranks")
    // an interrupted re-band (marker present) refuses folds outright
    graft.streaming.StateStore.writeTag(spark, s"$state/nodes",
      "_rebanding", wide.tag)
    val blocked = intercept[IllegalArgumentException] {
      PageRankStream.foldBatch(docs.filter(col("doc_id") < 10), state, wide)
    }
    assert(blocked.getMessage.contains("interrupted re-band"),
      s"unexpected message: ${blocked.getMessage}")
    // re-running rebandTo completes it and clears the marker
    PageRankStream.rebandTo(docs, state, wide)
    assert(graft.streaming.StateStore.readTag(spark, s"$state/nodes",
      "_rebanding").isEmpty, "completed re-band must clear its marker")
    PageRankStream.foldBatch(docs.filter(col("doc_id") < 10), state, wide)
  }

  test("cold state answers empty; compaction preserves the ranks") {
    val state = java.nio.file.Files.createTempDirectory("prs_edge").toString
    assert(PageRankStream.ranks(spark, state).isEmpty,
      "ranking before the first fold should answer empty, not throw")
    PageRankStream.foldBatch(docs.filter(col("doc_id") < 250), state)
    PageRankStream.foldBatch(docs.filter(col("doc_id") >= 250), state)
    val before = streamedRanks(state)
    PageRankStream.compact(spark, state)
    assert(streamedRanks(state) == before, "compaction changed the ranks")
  }

  test("compaction preserves the banding tag and an in-progress " +
      "rebanding marker: a wide store still folds after compact") {
    val wide = PageRankStream.Banding.wide
    val state = java.nio.file.Files.createTempDirectory("prs_ctag").toString
    PageRankStream.foldBatch(docs.filter(col("doc_id") < 250), state, wide)
    PageRankStream.compact(spark, state)
    // the band swap inside compact must NOT revert the store to
    // "pre-tag": a wide fold resumes, and a default fold is still
    // refused as a mismatch (not silently adopted as default)
    assert(graft.streaming.StateStore.readTag(spark, s"$state/bands",
      "_banding").contains(wide.tag),
      "compaction dropped the _banding tag")
    PageRankStream.foldBatch(docs.filter(col("doc_id") >= 250), state, wide)
    val refused = intercept[IllegalArgumentException] {
      PageRankStream.foldBatch(docs.filter(col("doc_id") < 10), state)
    }
    assert(refused.getMessage.contains("refusing to fold"),
      s"unexpected refusal message: ${refused.getMessage}")
    // an interrupted re-band's marker (on nodes/, the store rebandTo
    // never swaps) survives a node compaction too
    graft.streaming.StateStore.writeTag(spark, s"$state/nodes",
      "_rebanding", wide.tag)
    PageRankStream.compact(spark, state)
    assert(graft.streaming.StateStore.readTag(spark, s"$state/nodes",
      "_rebanding").contains(wide.tag),
      "compaction dropped the _rebanding marker")
    graft.streaming.StateStore.deleteTag(spark, s"$state/nodes", "_rebanding")
  }
}
