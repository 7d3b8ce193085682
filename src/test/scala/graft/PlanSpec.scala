package graft

import org.apache.spark.sql.DataFrame

/** Scale/plan-quality assertions (the 100 TB story, SURVEY.md §4): filters
  * reach the parquet scan, small dims broadcast, top-k never global-sorts,
  * LSH candidate generation never degrades to a cartesian product.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String = {
    df.collect() // let AQE finalize the physical plan
    df.queryExecution.executedPlan.toString
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  test("q01 cursor scan pushes the predicate into the parquet scan (S4/P4)") {
    val p = planOf(q("q01_cursor_scan"))
    assert(p.contains("PushedFilters: ") && p.contains("GreaterThan(o_orderdate"),
      s"cursor filter must reach the scan:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("o_orderpriority"),
      "column pruning must drop unprojected columns")
  }

  test("q02 point lookup pushes the key equality (S3)") {
    val p = planOf(q("q02_point_lookup"))
    assert(p.contains("EqualTo(l_orderkey,1)"), s"point filter must push down:\n$p")
  }

  test("q05 enrichment join broadcasts the dimension side (J1)") {
    val p = planOf(q("q05_join_enrich"))
    assert(p.contains("BroadcastHashJoin"), s"small dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "no shuffle join for a broadcastable dim")
  }

  test("q03 top-n uses TakeOrderedAndProject, not a global sort (O1/O4)") {
    val p = planOf(q("q03_topn"))
    assert(p.contains("TakeOrderedAndProject"), s"orderBy+limit must not global-sort:\n$p")
  }

  test("q04 group agg does map-side partial aggregation (A2)") {
    val p = planOf(q("q04_groupagg"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"aggregation must combine map-side before the shuffle:\n$p")
    // whole-stage codegen renders as a "*(n)" stage prefix in plan strings
    assert(p.contains("*(1)"), s"hot path must stay in codegen:\n$p")
  }

  test("q47 brute-force top-k broadcasts the 1-row query vector") {
    val p = planOf(q("q47_cosine_topk"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query vector side must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("LSH candidate pairs are equi-joins, never cartesian (q46/q49/q51/q56)") {
    Seq("q46_minhash_pairs", "q49_jaccard_pairs", "q51_simhash_pairs",
      "q56_simhash_wide_pairs").foreach { name =>
      val p = planOf(q(name))
      assert(!p.contains("CartesianProduct"), s"$name degraded to all-pairs:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name candidate join must be a hash equi-join:\n$p")
    }
  }

  test("LSH pair generation is exactly-once — no dedup shuffle (q46/q49/q51/q56)") {
    // Pairs are emitted only from their lowest agreeing band/segment, so
    // the plans must contain no distinct aggregation (a HashAggregate
    // with an empty function list is how `.distinct()` plans); the dedup
    // shuffle it would add dominated the pair queries on dense near-dup
    // corpora (round-3 verdict). The legitimate aggregations (minhash
    // mins, simhash bit sums, the q49 Jaccard arithmetic) all carry
    // non-empty function lists.
    Seq("q46_minhash_pairs", "q49_jaccard_pairs", "q51_simhash_pairs",
      "q56_simhash_wide_pairs").foreach { name =>
      val p = planOf(q(name))
      assert(!p.contains("functions=[]"),
        s"$name pair generation must not need a distinct:\n$p")
    }
  }

  test("q51 candidate join keys include the simhash segment, not lang alone") {
    // The round-2 scale-killer was a.join(b, Seq("lang")) — quadratic per
    // language. The banded join must key on the segment value; a revert to
    // a lang-only join produces a plan with no seg_val column and fails.
    val p = planOf(q("q51_simhash_pairs"))
    assert(p.contains("seg_val"),
      s"q51 join must key on (seg, seg_val, lang), got:\n$p")
  }

  test("q53/q54 bucket assignment is a single scan, no join-back on vec_id") {
    // Buckets fold literal planes into the projection; the only joins in
    // the plan are the probe-bucket candidate joins, not a
    // bucket-recompute self-join. Round 2 had crossJoin+groupBy+join-back.
    // AQE plan strings repeat the tree under "== Initial Plan ==" — count
    // joins in the final plan only
    val p = planOf(q("q53_ann_topk")).split("== Initial Plan ==")(0)
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(p).size
    assert(joins == 1, s"q53 should have exactly the probe join, found $joins:\n$p")
  }

  test("q61 salted join keys include the salt sub-key") {
    // the scatter only works if __salt participates in the join; a revert
    // to a plain key join drops the column from the plan entirely
    val p = planOf(q("q61_salted_join"))
    assert(p.contains("__salt"), s"q61 must join on (user_id, __salt):\n$p")
  }

  test("q64 vocab top-N takes ordered, counts partial-aggregate map-side") {
    val p = planOf(q("q64_vocab_df"))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N vocabulary must not global-sort:\n$p")
    assert(p.contains("partial_count"),
      s"document-frequency counts must combine before the shuffle:\n$p")
  }

  test("q65 decontamination broadcasts the benchmark shingle set") {
    // the corpus side must never shuffle for this join: the benchmark
    // set is the small side by construction
    val p = planOf(q("q65_decontaminate"))
    assert(p.contains("BroadcastHashJoin"), s"benchmark side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"contamination check must not shuffle the corpus side:\n$p")
  }

  test("q66 stratified sample is map-only — no shuffle before the output sort") {
    // deterministic hash sampling must fuse into the scan; the only
    // exchange allowed is the query's own presentation ORDER BY
    val p = planOf(q("q66_stratified_sample")).split("== Initial Plan ==")(0)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"sampling must not shuffle (found $exchanges exchanges):\n$p")
  }

  test("q68 sequence packing windows per source — no single-partition global sort") {
    val p = planOf(q("q68_seq_packing")).split("== Initial Plan ==")(0)
    // the running sum's window must carry a partition spec; a global
    // (unpartitioned) running sum plans as Exchange SinglePartition
    // BEFORE the Window operator, which serializes the whole corpus
    val windowIdx = p.indexOf("Window")
    assert(windowIdx > 0, s"expected a Window operator:\n$p")
    assert(!p.substring(windowIdx).contains("SinglePartition"),
      s"packing window must be partitioned by source:\n$p")
  }

  test("q70 tf-idf never mandates a vocabulary broadcast; only 1-row N is hinted") {
    // Heaps'-law vocabularies reach 10⁸–10⁹ tokens at web scale: the df
    // join must leave the strategy to AQE (broadcast iff it measures
    // small), not force it. Exactly one broadcast hint may survive in the
    // optimized logical plan — the 1-row N aggregate.
    val df = q("q70_tfidf_terms")
    val hints = "strategy=broadcast".r
      .findAllIn(df.queryExecution.optimizedPlan.toString).size
    assert(hints <= 1,
      s"vocab df join must not carry a mandatory broadcast hint:\n" +
        df.queryExecution.optimizedPlan)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), s"no cartesian in tf-idf:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"at test scale AQE should still elect to broadcast the tiny vocab:\n$p")
  }

  test("q14 upsert keeps unioned branches partitioned, no driver collect") {
    // executes distributed: one window over target ∪ source, partitioned
    // by the pk, and no join; presence of the final sort is the query's
    // own ORDER BY, not a collect
    val p = planOf(q("q14_upsert_orders"))
    assert(p.contains("Union") && p.contains("Window [max("),
      s"upsert must be one window over a union:\n$p")
    assert(!p.contains("Join"), s"upsert must not join:\n$p")
  }

  test("q76 incremental dedup joins bands by key, never a cartesian") {
    val p = planOf(q("q76_incremental_dedup"))
    assert(p.contains("Join"), s"band/index join must exist:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs in incremental dedup:\n$p")
  }

  test("q78 unigram scoring never mandates a vocab broadcast; 1-row total is hinted") {
    // same contract as q70: the count-table join is AQE's choice, the
    // only surviving hint is the 1-row corpus-mass aggregate
    val df = q("q78_unigram_logprob")
    val hints = "strategy=broadcast".r
      .findAllIn(df.queryExecution.optimizedPlan.toString).size
    assert(hints <= 1,
      s"vocab count join must not carry a mandatory broadcast hint:\n" +
        df.queryExecution.optimizedPlan)
    val p = planOf(df)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row total must arrive as a broadcast nested-loop, not a shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in unigram scoring:\n$p")
  }

  test("q83 provenance broadcasts the benchmark side, never a cartesian") {
    val p = planOf(q("q83_decontam_provenance"))
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark shingle side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "pair generation must stay a keyed equi-join")
    assert(p.contains("partial_count"),
      "the per-pair count must combine map-side before the shuffle")
  }

  test("q84 bigram counts partial-aggregate map-side; joins keyed, no broadcast mandate") {
    val df = q("q84_bigram_logprob")
    val analyzed = df.queryExecution.analyzed.toString
    // the count/context joins must not HINT a broadcast — at corpus scale
    // the bigram vocabulary dwarfs executor memory, so the plan must be
    // allowed to resolve to a shuffled hash join (AQE may still pick
    // broadcast at this test scale; the MANDATE is what must be absent)
    assert(!analyzed.contains("UnresolvedHint") && !analyzed.contains("hints=[broadcast"),
      s"bigram joins must not mandate a broadcast:\n${analyzed.take(1500)}")
    val p = planOf(df)
    assert(p.contains("partial_count"),
      s"bigram counts must combine map-side before the shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), "all joins stay keyed")
  }

  test("q85 exact sample takes ordered — never a global sort of the corpus") {
    val p = planOf(q("q85_exact_sample"))
    assert(p.contains("TakeOrderedAndProject"),
      s"hash-order + limit must be a bounded heap, not a global sort:\n$p")
  }

  test("q86 semdedup pair join is keyed on the cell, never corpus-wide all-pairs") {
    // the staged cell table truncates q86's final lineage, so the pair
    // join's shape is asserted on the sub-pipeline it actually lives in
    val p = planOf(graft.queries.LlmEmbed.semDedupPairs(
      graft.queries.LlmEmbed.semDedupCells(spark, sf)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no all-pairs join in pair generation:\n$p")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cell#".r
      .findFirstIn(p).isDefined,
      s"pair generation must equi-join on the cell key:\n$p")
    // and the full query never degrades to a cartesian anywhere
    assert(!planOf(q("q86_semdedup")).contains("CartesianProduct"))
  }

  test("q87 dup-span detection partial-aggregates map-side, no count-distinct on grams") {
    val df = q("q87_dup_spans")
    val analyzed = df.queryExecution.analyzed.toString
    // the gram table is corpus-sized at web scale — the dup-gram join must
    // not HINT a broadcast (AQE may still choose one at test scale)
    assert(!analyzed.contains("UnresolvedHint") && !analyzed.contains("hints=[broadcast"),
      s"gram join must not mandate a broadcast:\n${analyzed.take(1500)}")
    val p = planOf(df)
    assert(p.contains("partial_min") && p.contains("partial_max"),
      s"cross-doc detection must be min/max partial aggregation, not count-distinct:\n$p")
    assert(!p.contains("CartesianProduct"), "all joins stay keyed")
  }

  test("q88 dsir feature tables broadcast — fixed bucket space, safe by construction") {
    val p = planOf(q("q88_dsir_weights"))
    assert(p.contains("BroadcastHashJoin"),
      s"the 256-bucket model tables must broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"bucket counts must combine map-side before the shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), "scalar totals ride broadcast joins only")
  }

  test("q89 global rank range-partitions; the data window is keyed, never one task") {
    // the order pass is staged (so counts scan materialized blocks, not a
    // second sort) — its distributed-sort shape asserts on the sub-plan
    val docs = graft.core.Tables.load(spark, sf, "documents")
      .withColumn(
        "h",
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.concat_ws(
            "|",
            org.apache.spark.sql.functions.col("doc_id").cast("string"),
            org.apache.spark.sql.functions.col("text"))))
    val sortPlan = planOf(graft.operators.GlobalRank.sortedWithPid(
      docs, org.apache.spark.sql.functions.col("h"), 4))
    assert(sortPlan.contains("rangepartitioning(h"),
      s"the order pass must be a distributed range-partition sort:\n$sortPlan")
    val p = planOf(q("q89_corpus_shuffle"))
    assert("row_number\\(\\) windowspecdefinition\\(graft_pid#\\d+".r
      .findFirstIn(p).isDefined,
      s"the data row_number must be partitioned by the range-partition id:\n$p")
    // the only single-partition collapse allowed is the offsets cumsum,
    // which runs over one row per range partition, never over data rows
    // (count within the final plan — the AQE string repeats the shape in
    // its "Initial Plan" section)
    val finalPlan = p.split("== Initial Plan ==")(0)
    assert(finalPlan.split("Exchange SinglePartition").length - 1 <= 1,
      s"only the collapsed offsets frame may single-partition:\n$p")
    // staging must leave exactly ONE scan of the corpus in the whole
    // query — the materialized sorted blocks feed both branches
    assert(finalPlan.split("FileScan parquet").length - 1 <= 1,
      s"the counts branch must not re-scan and re-sort the corpus:\n$p")
  }

  test("q90 per-source sample windows per source — no global collapse") {
    val p = planOf(q("q90_per_source_sample"))
    assert("windowspecdefinition\\(source#\\d+".r.findFirstIn(p).isDefined,
      s"row_number must be partitioned by source:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"nothing in the sample may collapse to one task:\n$p")
  }

  test("q93 cutoffs broadcast; every window is language-keyed, no global collapse") {
    val p = planOf(q("q93_perplexity_buckets"))
    assert(p.contains("BroadcastHashJoin"),
      s"the per-language cutoff table (one row per language) must broadcast:\n$p")
    assert("windowspecdefinition\\(lang#\\d+".r.findFirstIn(p).isDefined,
      s"sample ranking must be partitioned by lang:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"bucketing must never collapse the corpus to one task (no global ntile):\n$p")
    // the rank<=N sample filter must push into the window as a group
    // limit: without it each language's FULL corpus sorts just to take
    // the bounded sample, and the lang-keyed/no-collapse asserts above
    // would still pass (ADVICE r9)
    assert(p.contains("WindowGroupLimit"),
      s"the bounded per-language sample must run as a WindowGroupLimit:\n$p")
  }

  test("q94 ADC scan joins nothing but the broadcast LUT; top-k heap-aggregates") {
    val p = planOf(q("q94_pq_topk"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the bounded query-LUT batch must ride a broadcast, never a shuffle join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing in the PQ path may shuffle-join the corpus:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"the N x Q candidate stream must collapse in the bounded-heap aggregator:\n$p")
  }

  test("q97 multimodal decode is map-only: no join, no aggregate, one scan") {
    // AQE's toString prints the initial plan after the final one — count
    // scans in the FINAL plan only
    val p = planOf(q("q97_multimodal_decode")).split("== Initial Plan ==").head
    assert(p.split("FileScan parquet").length - 1 === 1,
      s"one pass over the corpus:\n$p")
    assert(!p.contains("Join") && !p.contains("Aggregate"),
      s"header decode must not shuffle anything before the presentation sort:\n$p")
  }

  test("q98 audio/video decode is map-only: no join, no aggregate, one scan") {
    val p = planOf(q("q98_multimodal_av")).split("== Initial Plan ==").head
    assert(p.split("FileScan parquet").length - 1 === 1,
      s"one pass over the corpus:\n$p")
    assert(!p.contains("Join") && !p.contains("Aggregate"),
      s"container decode must not shuffle anything before the presentation sort:\n$p")
  }

  test("trained-codebook ADC keeps q94's scale shape (broadcast LUT, heap top-k)") {
    import graft.llm.Pq
    val vecs = graft.core.Tables.load(spark, sf, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val cb = Pq.trainCodebooks(vecs, m = 4, subDim = 16, k = 8, iters = 1)
    val codes = Pq.encode(vecs, cb, m = 4, subDim = 16)
    val queries = vecs.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val p = planOf(Pq.adcTopK(queries, codes, cb, m = 4, subDim = 16, k = 8, topK = 5))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the per-query LUT must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the coded corpus must never shuffle-join:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"candidates must collapse in the bounded-heap aggregator:\n$p")
  }

  test("q100 contamination grade broadcasts the benchmark; counts partial-aggregate") {
    val p = planOf(q("q100_contam_frac"))
    assert(p.contains("BroadcastHashJoin"),
      s"the benchmark shingle set must broadcast — the corpus is never shuffled to it:\n$p")
    assert(p.contains("partial_count"),
      s"per-doc total/hit counts must combine map-side:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the grade is one broadcast probe over the corpus shingles:\n$p")
  }

  test("q101 survivor choice windows per group — keyed, never a global collapse") {
    val p = planOf(q("q101_quality_survivors"))
    assert("windowspecdefinition\\(group_id#\\d+".r.findFirstIn(p).isDefined,
      s"survivor ranking must be partitioned by group_id:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"nothing in the survivor path may cross-join:\n$p")
  }

  test("q99 k-means: centroids ride broadcasts; assignment and means collapse map-side") {
    val p = planOf(q("q99_kmeans_topics"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the k-row centroid table must broadcast into the corpus scan:\n$p")
    assert(p.contains("partial_min"),
      s"the k candidate rows per vector must collapse BEFORE any shuffle:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no corpus shuffle join anywhere in the training loop:\n$p")
  }

  test("q102 trained-cell pair join is keyed on the cell, never corpus all-pairs") {
    val p = planOf(q("q102_semdedup_trained"))
    assert(!p.contains("CartesianProduct"),
      s"within-cell pairs must come from a cell equi-join:\n$p")
    assert("windowspecdefinition\\(group_id#\\d+".r.findFirstIn(p).isDefined,
      s"survivor choice must window per group:\n$p")
  }

  test("q103 balanced sample windows per topic — no global collapse") {
    val p = planOf(q("q103_per_topic_sample"))
    assert("windowspecdefinition\\(topic#\\d+".r.findFirstIn(p).isDefined,
      s"row_number must be partitioned by topic:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the rk<=N cut must run as a group limit, not a full per-topic sort:\n$p")
  }

  test("q104 BPE training: word-keyed windows, TakeOrdered best pair, map-side counts") {
    // train() stages every stage boundary, so the interesting shapes are
    // asserted on the unstaged sub-pipelines (the KmeansSpec pattern)
    import graft.llm.Bpe
    val hist = graft.core.Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.expr(graft.llm.Shingles.toksExpr)).as("word"))
      .groupBy("word").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))
    val pos = Bpe.positionsOf(Bpe.withCharSyms(hist))
    val pPos = planOf(pos)
    assert("windowspecdefinition\\(word#\\d+".r.findFirstIn(pPos).isDefined,
      s"the pair lead must window per word:\n$pPos")
    assert(!pPos.contains("Exchange SinglePartition"),
      s"nothing in the position table may collapse to one task:\n$pPos")
    val pBp = planOf(Bpe.bestPairOf(pos))
    assert(pBp.contains("TakeOrderedAndProject"),
      s"the best-pair cut must be TakeOrdered(1), never a global sort:\n$pBp")
    assert(pBp.contains("partial_sum"),
      s"pair counts must combine map-side:\n$pBp")
    val p = planOf(q("q104_bpe_merges"))
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere in training:\n$p")
  }

  test("q105 BPE encode joins the corpus to the vocab keyed — no broadcast mandate") {
    // the vocabulary is Heaps'-law sized at web scale (the q70/q78
    // argument): the corpus-to-vocab join must carry no broadcast hint
    val p = planOf(q("q105_bpe_encode"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"per-doc token counts must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"corpus-vocab lookup must stay a keyed join:\n$p")
  }

  test("q106 backoff LM tables join keyed — no broadcast mandate; counts partial") {
    val p = planOf(q("q106_stupid_backoff"))
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row token total may cross-join (as a broadcast):\n$p")
    assert(p.contains("partial_count"),
      s"LM count tables must combine map-side:\n$p")
    // the bigram/unigram model tables are Heaps'-law sized: the plan
    // must not hard-code a broadcast hint on them (the q70/q78/q84 rule)
    val hints = "broadcast".r.findAllIn(
      q("q106_stupid_backoff").queryExecution.logical.toString).length
    assert(hints <= 1,
      s"only n_total may carry a broadcast hint, found $hints")
  }

  test("q107 funnel is one user-keyed aggregation — no self-joins of the event log") {
    val p = planOf(q("q107_funnel"))
    assert(p.contains("ObjectHashAggregate"),
      s"per-user events must collect in one keyed aggregation:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastHashJoin"),
      s"the funnel walk is in-row — the oracle's three-join chain must NOT appear:\n$p")
  }

  test("q108 retention aggregates map-side and joins keyed — no event-log self-join") {
    val p = planOf(q("q108_retention"))
    assert(p.contains("partial_min"),
      s"cohort mins must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"cohort-to-activity lookup must stay keyed on user_id:\n$p")
  }

  test("q109 rolling actives explode bounded — no range self-join of the log") {
    val p = planOf(q("q109_rolling_active"))
    assert(p.contains("Generate explode"),
      s"window membership must come from the bounded x7 explode:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the oracle's BETWEEN range join must NOT appear in the engine plan:\n$p")
  }

  test("q110 gumbel sample is map-only noise + TakeOrdered — no global sort, no RNG") {
    val p = planOf(q("q110_gumbel_sample"))
    assert(p.contains("TakeOrderedAndProject"),
      s"the weighted-sample cut must be TakeOrdered(N):\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"nothing may collapse the corpus to one task:\n$p")
    assert(!p.toLowerCase.contains("rand("),
      s"noise must derive from the hash, never an RNG expression:\n$p")
  }

  test("q74 survivor anti-join is a hash join on doc_id, never a nested loop") {
    // fixture precondition: with zero dominated docs AQE's empty-relation
    // propagation legitimately erases the anti-join, so the plan shape
    // below would be unassertable — cancel rather than fail in that case
    val clusters = q("q73_dup_clusters")
    assume(!clusters.where(
      org.apache.spark.sql.functions.col("doc_id") =!=
        org.apache.spark.sql.functions.col("cluster_id")).isEmpty,
      "sf0.001 has no dominated near-dup docs")
    val p = planOf(q("q74_dedup_survivors"))
    assert(p.contains("LeftAnti"), s"survivors must anti-join the dominated set:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"anti-join must stay keyed on doc_id:\n$p")
  }

  test("q131 pagerank conserves mass, stays keyed, and pays dangling nodes") {
    val df = q("q131_pagerank")
    val rows = df.collect()
    val mass = rows.map(_.getDouble(1)).sum
    // base 0.15/N + damped inflow + uniform dangling share: the grid
    // rounding drifts at most ~0.5e-9 per node per iteration
    assert(math.abs(mass - 1.0) < 1e-5, s"rank mass $mass drifted from 1")
    assert(rows.forall(_.getDouble(1) > 0), "every node holds positive rank")
    // isolated docs (no near-dup edges) all receive the identical
    // floor rank; connected docs can only sit at or above it
    val floor = rows.map(_.getDouble(1)).min
    assert(rows.count(_.getDouble(1) == floor) > 1,
      "expected a shared floor rank across isolated docs")
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"),
      s"pagerank iterations must stay keyed:\n$p")
  }

  test("q128 BM25 broadcasts the query workload; workload pick takes ordered") {
    // The postings cut must ride a broadcast of the 10-term workload —
    // a shuffle join there would re-shuffle every posting in the corpus
    // for a 10-row dimension. The workload pick itself (top-25 by df)
    // must be a TakeOrderedAndProject, never a global sort of the
    // Heaps-law vocabulary; the per-query top-k must collapse in the
    // bounded-heap aggregator.
    val p = planOf(q("q128_bm25_topk"))
    assert(p.contains("BroadcastHashJoin"),
      s"query terms must broadcast into the postings cut:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the df-rank workload pick must take ordered, not globally sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in retrieval:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"per-query top-k must heap-aggregate:\n$p")
  }

  test("q132 PCA moments are ONE pass — a single aggregate, no join, no window") {
    // q132 itself returns driver-derived loadings (a LocalTableScan);
    // the corpus-sized stage is the moments frame, so pin THAT plan:
    // scan → partial agg → final agg and nothing else, with the typed
    // Aggregator combining map-side so only 33 KB buffers shuffle
    val emb = graft.queries.Q.t(spark, sf, "embeddings")
    val p = planOf(graft.llm.Pca.momentsFrame(emb, "embedding"))
    assert(!p.contains("Join") && !p.contains("Window"),
      s"moments must not join or window the corpus:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"the typed Aggregator must object-hash-aggregate (map-side combine):\n$p")
    assert(p.contains("partial_momentsagg") || p.contains("partial_"),
      s"the moments aggregate must have a map-side partial phase:\n$p")
  }

  test("q133 PCA projection is a map-only scan into TakeOrderedAndProject") {
    val p = planOf(q("q133_pca_project"))
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k cut must take ordered, not globally sort:\n$p")
    assert(!p.contains("Join"),
      s"the trained direction rides as a literal array — no join:\n$p")
  }

  test("q136 zipf fit cuts with TakeOrderedAndProject; regression on the cut") {
    val p = planOf(q("q136_zipf_fit"))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 terms must take ordered over the Heaps-law vocab:\n$p")
  }

  test("q140 AUC histogram partial-aggregates before the bounded window") {
    // the corpus collapses into the grid-bounded score histogram FIRST
    // (map-side partial counts); only then does the cumulative window
    // run — over ≤ 1e7+1 rows by construction, never the corpus
    val p = planOf(q("q140_quality_auc"))
    assert(!p.contains("Join"), s"AUC must not join:\n$p")
    assert(p.contains("partial_"),
      s"score histogram must partial-aggregate map-side:\n$p")
    val winAt = p.indexOf("Window")
    val aggAt = p.indexOf("partial_")
    assert(winAt >= 0 && aggAt >= 0 && winAt < p.lastIndexOf("partial_"),
      s"the window must consume the aggregated histogram, not the scan:\n$p")
  }

  test("q138 classifier scoring is map-only — literal weights, no join") {
    // training runs eagerly before the frame is built (driver-held
    // weights, the k-means discipline); the returned corpus-wide scoring
    // plan must be a scan + projection + sort, never a join or window
    val p = planOf(q("q138_quality_score"))
    assert(!p.contains("Join") && !p.contains("Window"),
      s"scoring must ride literal weights:\n$p")
  }
}
