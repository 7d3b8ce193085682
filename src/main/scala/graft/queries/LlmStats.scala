package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Staging
import graft.llm.Shingles.{shingleSparkExpr, toksExpr}
import graft.llm.Sketches.{cmsD, cmsW, hllP, kmvK}
import LlmSql.{qualitySqlCte, shingleSql, toksSql}
import LlmText.qualityCols
import Q.{t, withTempState}

/** LLM sketch, retrieval and model rows: KMV/HLL/CMS sketches, BM25
  * top-k, and the logistic-regression quality classifier. */
object LlmStats {

  // ---- mergeable sketch summaries (KMV / HLL / CMS) --------------------
  // The bounded-summary tier (llm/Sketches): at 100 TB, per-source
  // distinct-token counts, cross-source overlap, and heavy-hitter
  // frequency gates are sketch questions — one map-side-combinable pass
  // into a fixed-size summary per group, mergeable across shards/days,
  // estimates computed from the summary alone. Each oracle row builds
  // the sketch AND an exact answer side by side, so the driver verifies
  // the engine's sketch construction bit-for-bit (the md5 digit-fold
  // hash makes every register/rank/bucket identical cross-engine) while
  // the exact column documents the estimate's quality on the fixture.
  private val cmsTopN = 40

  /** Distinct (source, shingle) pairs with the sketch family's 32-bit
    * hash — the base all three sketch rows share. The sketched unit is
    * the 3-word shingle (the q65 contamination unit, ~10³ per source on
    * the fixture — enough cardinality that the k-th-order-statistic and
    * harmonic-mean estimator branches actually execute; the fixture's
    * whitespace vocabulary is only ~31 types, which would leave every
    * estimator in its exact-small-set branch). Shingle-set-sized, never
    * corpus-sized; the distinct is the one shuffle and exists only
    * because the oracle rows also want EXACT comparison columns — a
    * production sketch pass aggregates straight from the shingle stream
    * with map-side partials and no distinct. */
  private def sourceShingleHashes(s: SparkSession, dir: String): DataFrame =
    Staging.spread(t(s, dir, "documents"))
      .withColumn("toks", expr(toksExpr))
      .select(col("source"),
        explode(expr(s"array_distinct($shingleSparkExpr)")).as("item"))
      .distinct()
      .withColumn("hh", md5(concat(lit("kmv|"), col("item"))))
      .select(col("source"), col("item"), graft.llm.Sketches.hexFold32("hh").as("h"))

  /** The shared base as SQL CTEs: `skb` (source, item) distinct, `skv`
    * (source, h) distinct hashes. */
  private val sketchBaseSql =
    s"""skt AS (SELECT source, $toksSql AS toks FROM documents),
        skb AS (SELECT DISTINCT source, unnest(list_distinct($shingleSql)) AS item
          FROM skt),
        skh AS (SELECT source, item, md5('kmv|' || item) AS hh FROM skb),
        skv AS (SELECT DISTINCT source,
            CAST(list_sum(list_transform(range(1, 9),
              i -> (strpos('0123456789abcdef', substr(hh, i, 1)) - 1)
                   * power(16, 8 - i))) AS BIGINT) AS h
          FROM skh)"""

  // KMV distinct-count: k smallest hashes per source; estimate
  // (k-1)/u_k, exact when the set is smaller than k. The rank pass is
  // a per-source window at fixture scale; the 100 TB shape is the
  // TopK.TopKAgg bounded-heap aggregation (map-side k-buffers, shuffle
  // = k rows/partition/group) — same result, pinned in ApproxSpec.
  private val kmvDistinct = Q(
    "q120_kmv_distinct",
    (s, dir) => {
      val base = Staging.stage(sourceShingleHashes(s, dir))
      val wn = Window.partitionBy("source").orderBy("h")
      val sk = base.select("source", "h").distinct()
        .withColumn("rn", row_number().over(wn))
        .groupBy("source")
        .agg(count(lit(1)).as("nh"),
          max(when(col("rn") === kmvK, col("h"))).as("hk"))
      val ex = base.groupBy("source").agg(countDistinct("item").as("n_exact"))
      ex.join(sk, Seq("source"))
        .select(col("source"), col("n_exact"),
          graft.llm.Sketches.kmvEstimate(col("hk"), col("nh"), kmvK).as("est_kmv"))
        .orderBy("source")
    },
    Some(s"""WITH $sketchBaseSql,
            krn AS (SELECT source, h, row_number() OVER (PARTITION BY source
                ORDER BY h) AS rn FROM skv),
            ksk AS (SELECT source, count(*) AS nh,
                max(CASE WHEN rn = $kmvK THEN h END) AS hk
              FROM krn GROUP BY source),
            kex AS (SELECT source, count(DISTINCT item) AS n_exact
              FROM skb GROUP BY source)
            SELECT e.source, e.n_exact,
              round(CASE WHEN s.hk IS NULL THEN CAST(s.nh AS DOUBLE)
                ELSE ${(kmvK - 1).toDouble} / ((s.hk + 0.5) / 4294967296.0)
                END, 4) AS est_kmv
            FROM kex e JOIN ksk s USING (source) ORDER BY source"""))

  // KMV set algebra: the k smallest hashes of A∪B are computable from
  // the two k-hash SKETCHES alone (min-k is mergeable), so cross-source
  // Jaccard never re-reads either source — 20 sketch rows of k values
  // each, a broadcastable pairwise combine. ρ = |union-sketch ∩ A ∩ B|
  // / |union-sketch| (Beyer et al. 2007 §5); the exact Jaccard sits
  // alongside for quality.
  private val kmvJaccard = Q(
    "q121_kmv_jaccard",
    (s, dir) => {
      val base = Staging.stage(sourceShingleHashes(s, dir))
      val wn = Window.partitionBy("source").orderBy("h")
      val sk = base.select("source", "h").distinct()
        .withColumn("rn", row_number().over(wn))
        .filter(col("rn") <= kmvK)
        .groupBy("source").agg(sort_array(collect_list("h")).as("mins"))
      val pairs = sk.select(col("source").as("src_a"), col("mins").as("ma"))
        .crossJoin(broadcast(
          sk.select(col("source").as("src_b"), col("mins").as("mb"))))
        .filter(col("src_a") < col("src_b"))
        .withColumn("u",
          slice(array_sort(array_union(col("ma"), col("mb"))), 1, kmvK))
        .withColumn("ov", size(filter(col("u"),
          v => array_contains(col("ma"), v) && array_contains(col("mb"), v))))
        .withColumn("est_jacc", round(col("ov") / size(col("u")), 4))
      val sizes = base.groupBy("source").agg(countDistinct("item").as("n"))
      val inter = base.select(col("source").as("src_a"), col("item"))
        .join(base.select(col("source").as("src_b"), col("item")), Seq("item"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("ni"))
      pairs
        .join(sizes.select(col("source").as("src_a"), col("n").as("na")), Seq("src_a"))
        .join(sizes.select(col("source").as("src_b"), col("n").as("nb")), Seq("src_b"))
        .join(inter, Seq("src_a", "src_b"), "left")
        .withColumn("ni", coalesce(col("ni"), lit(0L)))
        .select(col("src_a"), col("src_b"), col("est_jacc"),
          round(col("ni") / (col("na") + col("nb") - col("ni")), 4).as("exact_jacc"))
        .orderBy("src_a", "src_b")
    },
    Some(s"""WITH $sketchBaseSql,
            jrn AS (SELECT source, h, row_number() OVER (PARTITION BY source
                ORDER BY h) AS rn FROM skv),
            jmins AS (SELECT source, list(h ORDER BY h) AS mins
              FROM jrn WHERE rn <= $kmvK GROUP BY source),
            jpr AS (SELECT a.source AS src_a, b.source AS src_b,
                a.mins AS ma, b.mins AS mb
              FROM jmins a, jmins b WHERE a.source < b.source),
            jev AS (SELECT src_a, src_b,
                len(list_filter(list_slice(list_sort(list_distinct(
                      list_concat(ma, mb))), 1, $kmvK),
                  v -> list_contains(ma, v) AND list_contains(mb, v))) AS ov,
                len(list_slice(list_sort(list_distinct(
                      list_concat(ma, mb))), 1, $kmvK)) AS nu
              FROM jpr),
            jsz AS (SELECT source, count(DISTINCT item) AS n
              FROM skb GROUP BY source),
            jin AS (SELECT a.source AS src_a, b.source AS src_b,
                count(*) AS ni
              FROM skb a JOIN skb b ON a.item = b.item
                AND a.source < b.source
              GROUP BY a.source, b.source)
            SELECT e.src_a, e.src_b, round(e.ov / e.nu, 4) AS est_jacc,
              round(coalesce(i.ni, 0) /
                (sa.n + sb.n - coalesce(i.ni, 0)), 4) AS exact_jacc
            FROM jev e
            JOIN jsz sa ON sa.source = e.src_a
            JOIN jsz sb ON sb.source = e.src_b
            LEFT JOIN jin i ON i.src_a = e.src_a AND i.src_b = e.src_b
            ORDER BY e.src_a, e.src_b"""))

  // HyperLogLog distinct-count: 512 registers of max leading-zero rank,
  // register-wise max merge — the smallest mergeable distinct summary.
  // The rank comes from the binary-string LENGTH of the low hash bits
  // (integer-exact, no log2 boundary), the harmonic sum is Σ2^(24-ρ)
  // accumulated as exact BIGINTs (every term a power of two —
  // order-free), and the estimator (with Flajolet's small-range linear
  // counting) is single-division double arithmetic both engines
  // reproduce bit-for-bit. Duplicates never matter (max is idempotent),
  // so the sketch pass needs no distinct at all at scale.
  private val hllDistinct = Q(
    "q122_hll_distinct",
    (s, dir) => {
      val base = Staging.stage(sourceShingleHashes(s, dir))
      val regs = base
        .withColumn("reg", graft.llm.Sketches.hllRegister(col("h"), hllP))
        .withColumn("rho", graft.llm.Sketches.hllRho(col("h"), hllP))
        .groupBy("source", "reg").agg(max("rho").as("mrho"))
      val agg = regs.groupBy("source").agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), 24 - mrho)")).as("spow"),
        count(lit(1)).as("nregs"))
      val ex = base.groupBy("source").agg(countDistinct("item").as("n_exact"))
      ex.join(agg, Seq("source"))
        .withColumn("v_empty", (lit(1 << hllP) - col("nregs")).cast("long"))
        .select(col("source"), col("n_exact"), col("v_empty"),
          graft.llm.Sketches.hllEstimate(col("spow"), col("v_empty"), hllP)
            .as("est_hll"))
        .orderBy("source")
    },
    Some(s"""WITH $sketchBaseSql,
            hrg AS (SELECT source,
                CAST(floor(h / 8388608) AS INT) AS reg,
                CAST(CASE WHEN h % 8388608 = 0 THEN 24
                  ELSE 24 - length(bin(h % 8388608)) END AS INT) AS rho
              FROM skv),
            hmx AS (SELECT source, reg, max(rho) AS mrho
              FROM hrg GROUP BY source, reg),
            hag AS (SELECT source,
                CAST(sum(CAST(1 AS BIGINT) << (24 - mrho)) AS BIGINT) AS spow,
                count(*) AS nregs
              FROM hmx GROUP BY source),
            hex AS (SELECT source, count(DISTINCT item) AS n_exact
              FROM skb GROUP BY source)
            SELECT e.source, e.n_exact,
              CAST(512 - a.nregs AS BIGINT) AS v_empty,
              round(CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 262144.0
                  / (a.spow / 16777216.0 + CAST(512 - a.nregs AS DOUBLE))
                  <= 1280.0 AND a.nregs < 512
                THEN 512.0 * ln(512.0 / CAST(512 - a.nregs AS DOUBLE))
                ELSE (0.7213 / (1.0 + 1.079 / 512.0)) * 262144.0
                  / (a.spow / 16777216.0 + CAST(512 - a.nregs AS DOUBLE))
                END, 4) AS est_hll
            FROM hex e JOIN hag a USING (source) ORDER BY source"""))

  // Count-min heavy hitters: a 4×8192 counter grid (row-salted hashes),
  // point estimate = min over rows — one-sided error, never an
  // underestimate, so a heavy-hitter gate has no false negatives. The
  // sketch build is a map-side-combinable aggregation into 4096 cells
  // (bounded shuffle however big the corpus); estimates join the
  // candidates against the broadcast grid. Candidates here are the
  // exact top-N so the row also documents estimate quality; a
  // production gate streams candidates through the grid directly.
  private val cmsHeavy = Q(
    "q123_cms_heavy",
    (s, dir) => {
      val counts = Staging.stage(Staging.spread(t(s, dir, "documents"))
        .withColumn("toks", expr(toksExpr))
        .select(explode(expr(shingleSparkExpr)).as("item"))
        .groupBy("item").agg(count(lit(1)).as("cnt")))
      def cellOf(df: DataFrame): DataFrame = df
        .withColumn("hh",
          md5(concat(lit("cms"), col("r").cast("string"), lit("|"), col("item"))))
        .withColumn("c", (graft.llm.Sketches.hexFold32("hh") % cmsW).cast("int"))
      val cells = cellOf(counts
        .select(col("item"), col("cnt"),
          explode(expr(s"sequence(0, ${cmsD - 1})")).as("r")))
        .groupBy("r", "c").agg(sum("cnt").as("cell"))
      val top = counts.orderBy(col("cnt").desc, col("item")).limit(cmsTopN)
      cellOf(top.select(col("item"), col("cnt").as("n_true"),
          explode(expr(s"sequence(0, ${cmsD - 1})")).as("r")))
        .join(broadcast(cells), Seq("r", "c"))
        .groupBy("item", "n_true").agg(min("cell").as("n_est"))
        .orderBy("item")
    },
    Some(cmsOracleSql))

  private lazy val cmsOracleSql =
    s"""WITH cts AS (SELECT $toksSql AS toks FROM documents),
            ctc AS (SELECT item, count(*) AS cnt
              FROM (SELECT unnest($shingleSql) AS item FROM cts)
              GROUP BY item),
            cce AS (SELECT item, cnt, r FROM ctc,
              LATERAL unnest(generate_series(0, ${cmsD - 1})) AS tt(r)),
            cch AS (SELECT item, cnt, r,
                md5('cms' || CAST(r AS VARCHAR) || '|' || item) AS hh
              FROM cce),
            ccv AS (SELECT item, cnt, r,
                CAST(CAST(list_sum(list_transform(range(1, 9),
                  i -> (strpos('0123456789abcdef', substr(hh, i, 1)) - 1)
                       * power(16, 8 - i))) AS BIGINT) % 8192 AS INT) AS c
              FROM cch),
            csk AS (SELECT r, c, CAST(sum(cnt) AS BIGINT) AS cell
              FROM ccv GROUP BY r, c),
            ctop AS (SELECT item, cnt FROM ctc
              ORDER BY cnt DESC, item LIMIT $cmsTopN)
            SELECT v.item, CAST(v.cnt AS BIGINT) AS n_true,
              min(k.cell) AS n_est
            FROM ccv v
            JOIN ctop t ON t.item = v.item
            JOIN csk k ON k.r = v.r AND k.c = v.c
            GROUP BY v.item, v.cnt ORDER BY v.item"""

  // ---- streaming sketch maintenance as an oracle row -------------------
  // Mergeability made driver-visible: two streamed folds into the
  // summary-sized sketch state (streaming/SketchStream — ≤k hashes and
  // ≤m registers per source, whatever the corpus) must answer the SAME
  // estimates as a batch sketch build over the whole table, which is
  // what the oracle computes from scratch. k-min union and register max
  // are associative and duplicate-absorbing, so the equality is exact,
  // not approximate.
  private val sketchIncremental = Q(
    "q127_incremental_sketch",
    (s, dir) => withTempState("graft_q127_state") { state =>
      val docs = t(s, dir, "documents")
      graft.streaming.SketchStream.foldBatch(
        docs.filter(col("doc_id") < 250), state)
      graft.streaming.SketchStream.foldBatch(
        docs.filter(col("doc_id") >= 250), state)
      Staging.stage(graft.streaming.SketchStream.report(s, state))
        .orderBy("source")
    },
    Some(s"""WITH $sketchBaseSql,
            krn AS (SELECT source, h, row_number() OVER (PARTITION BY source
                ORDER BY h) AS rn FROM skv),
            ksk AS (SELECT source, count(*) AS nh,
                max(CASE WHEN rn = $kmvK THEN h END) AS hk
              FROM krn WHERE rn <= $kmvK GROUP BY source),
            hrg AS (SELECT source,
                CAST(floor(h / 8388608) AS INT) AS reg,
                CAST(CASE WHEN h % 8388608 = 0 THEN 24
                  ELSE 24 - length(bin(h % 8388608)) END AS INT) AS rho
              FROM skv),
            hmx AS (SELECT source, reg, max(rho) AS mrho
              FROM hrg GROUP BY source, reg),
            hag AS (SELECT source,
                CAST(sum(CAST(1 AS BIGINT) << (24 - mrho)) AS BIGINT) AS spow,
                count(*) AS nregs
              FROM hmx GROUP BY source)
            SELECT k.source,
              round(CASE WHEN k.hk IS NULL THEN CAST(k.nh AS DOUBLE)
                ELSE ${(kmvK - 1).toDouble} / ((k.hk + 0.5) / 4294967296.0)
                END, 4) AS est_kmv,
              round(CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 262144.0
                  / (a.spow / 16777216.0 + CAST(512 - a.nregs AS DOUBLE))
                  <= 1280.0 AND a.nregs < 512
                THEN 512.0 * ln(512.0 / CAST(512 - a.nregs AS DOUBLE))
                ELSE (0.7213 / (1.0 + 1.079 / 512.0)) * 262144.0
                  / (a.spow / 16777216.0 + CAST(512 - a.nregs AS DOUBLE))
                END, 4) AS est_hll
            FROM ksk k JOIN hag a USING (source) ORDER BY source"""))

  // ---- BM25 ranked retrieval ------------------------------------------
  // The missing retrieval tier: score documents against keyword queries
  // with Okapi BM25 (Robertson & Zaragoza 2009; Lucene's +1 idf so the
  // weight never goes negative) and return the top-k per query. The
  // query workload is data-derived and deterministic: five two-term
  // queries built from mid-df-rank terms (ranks 11-15 paired with
  // 21-25; frequent enough to match at every SF, rare enough to rank).
  //
  // Scale shape: the ONE corpus-wide pass is the df aggregation (output
  // Heaps-law bounded); the workload pick is orderBy+limit — Spark
  // compiles it to TakeOrderedAndProject, never a global sort; postings
  // are cut to query terms by a BROADCAST join before any shuffle, so
  // the tf aggregation and scoring touch matched postings only; top-k
  // per query is the bounded-heap TopK aggregator (map-side k-buffers,
  // shuffle ∝ k·queries). Cross-engine parity: the one transcendental
  // (idf's ln) is quantized to 1e-7 fixed point on computation, each
  // term's score is a BIGINT in the same grid, and the doc score is an
  // EXACT integer sum — order-free however many terms a query has —
  // ranked as an integer with doc_id tie-break, one IEEE division at
  // emission.
  private val bm25TopK = Q(
    "q128_bm25_topk",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"), expr(toksExpr).as("tk"))
        .withColumn("dl", size(col("tk")).cast("long"))
      val postings = toks.select(col("doc_id"), col("dl"),
        explode(col("tk")).as("term"))
      val dfTab = postings.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val scalars = toks.agg(count(lit(1)).as("nd"), sum("dl").as("sumdl"))
      val qterms = graft.llm.Bm25.workload(dfTab, scalars)
      val tfRows = postings
        .join(broadcast(qterms.select("term")), Seq("term"))
        .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      graft.llm.Bm25.topkFromTf(tfRows, qterms)
        .orderBy(col("query_id"), col("score").desc, col("doc_id"))
    },
    Some(bm25OracleSql))

  private lazy val bm25OracleSql =
    s"""WITH tl AS (SELECT doc_id, $toksSql AS tk FROM documents),
            tx AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
                     unnest(tk) AS term FROM tl),
            dfv AS (SELECT term, count(DISTINCT doc_id) AS df
                    FROM tx GROUP BY term),
            gs AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                     CAST(sum(len(tk)) AS BIGINT) AS sumdl FROM tl),
            dfr AS (SELECT term, df,
                      row_number() OVER (ORDER BY df DESC, term) AS r
                    FROM dfv QUALIFY r <= 25),
            qt AS (SELECT CAST(CASE WHEN r <= 15 THEN r - 11
                     ELSE r - 21 END AS BIGINT) AS query_id, term, df,
                     CAST(round(ln((nd - df + 0.5) / (df + 0.5) + 1.0)
                       * 10000000.0) AS BIGINT) AS idf_fp, nd, sumdl
                   FROM dfr CROSS JOIN gs
                   WHERE (r BETWEEN 11 AND 15) OR (r BETWEEN 21 AND 25)),
            tf AS (SELECT q.query_id, q.term, x.doc_id, x.dl, q.idf_fp,
                     q.nd, q.sumdl, count(*) AS tf
                   FROM tx x JOIN qt q USING (term)
                   GROUP BY ALL),
            sc AS (SELECT query_id, doc_id,
                     sum(CAST(round(idf_fp * (tf * 2.2) /
                       (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /
                         (CAST(sumdl AS DOUBLE) / nd)))) AS BIGINT)) AS s_fp
                   FROM tf GROUP BY query_id, doc_id)
            SELECT query_id, doc_id, round(s_fp / 10000000.0, 4) AS score
            FROM sc
            QUALIFY row_number() OVER (PARTITION BY query_id
              ORDER BY s_fp DESC, doc_id) <= 5
            ORDER BY query_id, score DESC, doc_id"""

  // ---- streaming BM25 index maintenance as an oracle row ---------------
  // The q126 discipline applied to lexical retrieval: each invocation
  // folds the documents table in two halves into a FRESH persisted
  // inverted index through streaming/Bm25Index (per-table novelty-probed
  // bucketed appends), then answers q128's retrieval from the persisted
  // state — the driver checks the STREAMED index against the batch BM25
  // oracle verbatim. The scoring probe partition-prunes the posting
  // store to the workload terms' buckets; the arithmetic is the shared
  // llm/Bm25 path, so equality is structural, not coincidental.
  private val bm25Incremental = Q(
    "q129_incremental_bm25",
    (s, dir) => withTempState("graft_q129_state") { state =>
      val docs = t(s, dir, "documents")
      graft.streaming.Bm25Index.foldBatch(
        docs.filter(col("doc_id") < 250), "fold-a", state)
      graft.streaming.Bm25Index.foldBatch(
        docs.filter(col("doc_id") >= 250), "fold-b", state)
      Staging.stage(graft.streaming.Bm25Index.topK(s, state))
        .orderBy(col("query_id"), col("score").desc, col("doc_id"))
    },
    Some(bm25OracleSql))

  // ---- streaming CMS maintenance as an oracle row ----------------------
  // The exactly-once contrast to q127: cell-wise SUM is associative but
  // NOT duplicate-absorbing, so SketchStream.foldCms guards each fold
  // with a batch-id ledger swapped atomically WITH the counters. Two
  // ledgered folds must produce the same grid as q123's from-scratch
  // build (exact BIGINT sums), which is what the oracle recomputes. The
  // heavy-hitter CANDIDATES (and their exact n_true) are the batch pass
  // here as in q123 — candidate tracking is a separate concern; the
  // streamed state answers the estimates.
  private val cmsIncremental = Q(
    "q130_incremental_cms",
    (s, dir) => withTempState("graft_q130_state") { state =>
      val docs = t(s, dir, "documents")
      graft.streaming.SketchStream.foldCms(
        docs.filter(col("doc_id") < 250), "fold-a", state)
      graft.streaming.SketchStream.foldCms(
        docs.filter(col("doc_id") >= 250), "fold-b", state)
      val counts = Staging.stage(docs
        .withColumn("toks", expr(toksExpr))
        .select(explode(expr(shingleSparkExpr)).as("item"))
        .groupBy("item").agg(count(lit(1)).as("cnt")))
      val top = counts.orderBy(col("cnt").desc, col("item")).limit(cmsTopN)
      Staging.stage(graft.streaming.SketchStream.cmsEstimates(s, state,
          top.select("item"))
        .join(broadcast(top.select(col("item"), col("cnt").as("n_true"))),
          Seq("item"))
        .select("item", "n_true", "n_est"))
        .orderBy("item")
    },
    Some(cmsOracleSql))

  // ---- trained quality classifier (logistic regression as oracle rows) --
  // The model-based filtering tier (CCNet's fastText filter, Llama-style
  // quality classifiers): label documents with a cheap heuristic, train a
  // linear model on surface features to generalize it, score the corpus
  // with the model. Here the teacher is q60's composite quality rule
  // (label = quality >= 0.62) — heuristic-labels-to-cheap-model is
  // exactly the production distillation shape, and the teacher's linear
  // boundary makes convergence VERIFIABLE (training accuracy must climb
  // from the base rate toward it; x_len is a deliberate distractor the
  // optimizer has to learn to ignore). All arithmetic lives on exact
  // integer grids (llm/QualityModel), so the DuckDB oracle replays
  // standardization + every gradient-descent step bit-exactly as an
  // unrolled CTE chain — the q99/q111/q116 trained-model-as-oracle-row
  // discipline applied to supervised training.
  private val lrFeatNames = Seq("bias", "x_stop", "x_mwl", "x_len")
  private val lrIters = 8
  private val lrRate = 2.0
  // L2 (weight decay) on the 1e-7 grid, bias exempt — shrinks reliance
  // on weak-signal features (x_len is the planted distractor); one more
  // literal in the update, replayed verbatim by the oracle chain
  private val lrL2 = 0.01

  /** Raw 1e-6-grid features + the heuristic label off [[LlmText.qualityCols]]:
    * saturated stopword ratio, saturated mean word length, saturated
    * token count (the distractor). */
  private def lrFeatures(s: SparkSession, dir: String): DataFrame =
    qualityCols(t(s, dir, "documents")).select(col("doc_id"),
      floor(least(col("stop_ratio") * 4, lit(1.0)) * lit(1000000.0) + lit(0.5))
        .as("x_stop"),
      floor(least(col("mean_word_len") / 8, lit(1.0)) * lit(1000000.0) + lit(0.5))
        .as("x_mwl"),
      floor(least(col("tok_cnt") / 100, lit(1.0)) * lit(1000000.0) + lit(0.5))
        .as("x_len"),
      when(col("quality") >= 0.62, 1L).otherwise(0L).as("y"))

  private val lrXsCols = Seq("xs_bias", "xs_x_stop", "xs_x_mwl", "xs_x_len")

  /** Standardize + train on `raw` (a [[lrFeatures]]-shaped frame);
    * returns (staged standardized frame, steps, mu, sd) — the stats ride
    * along so a held-out split can be standardized WITH THE TRAINING
    * SPLIT'S moments (no leakage). */
  private def lrTrainOn(raw: DataFrame) = {
    import graft.llm.QualityModel
    val cols = Seq("x_stop", "x_mwl", "x_len")
    val (_, mu, sd) = QualityModel.stats(raw, cols)
    val st = Staging.stage(QualityModel.standardize(raw, cols, mu, sd))
    (st, QualityModel.train(st, lrXsCols, "y", lrRate, lrIters, lrL2), mu, sd)
  }

  private def lrTrain(s: SparkSession, dir: String) = {
    val (st, steps, _, _) = lrTrainOn(lrFeatures(s, dir))
    (st, steps)
  }

  /** The DuckDB training replay from the feature CTE through `w<iters>`:
    * one stats CTE pair (integer moments → mu/sigma on the grid), the
    * standardized frame, then per iteration a sigmoid pass (quantized
    * 1e-7 on computation), exact-integer gradient sums, and the floored
    * weight update — each step reading the previous iteration's 1-row
    * weight CTE. Every rounding is floor(v + 0.5), matching the engine.
    * `cond` restricts the TRAINING rows (q139's hash split); `f0` always
    * carries the full feature table so the complement stays reachable. */
  private def lrChainSql(cond: String = "TRUE"): String = {
    val fx = Seq("x_stop", "x_mwl", "x_len")
    val wc = Seq("wb", "ws", "wm", "wl")
    val xs = Seq("xs_bias", "xs_stop", "xs_mwl", "xs_len")
    val stats = fx.zipWithIndex.map { case (c, i) =>
      s"CAST(sum($c) AS BIGINT) AS s${i + 1}, CAST(sum($c*$c) AS BIGINT) AS q${i + 1}"
    }.mkString(",\n                ")
    val mus = fx.indices.map(i =>
      s"CAST(floor(CAST(s${i + 1} AS DOUBLE)/n + 0.5) AS BIGINT) AS mu${i + 1}")
      .mkString(",\n                ")
    val sds = fx.indices.map(i =>
      s"""greatest(CAST(floor(sqrt(CAST(q${i + 1} - 2*mu${i + 1}*s${i + 1} +
                mu${i + 1}*mu${i + 1}*n AS DOUBLE)/n) + 0.5) AS BIGINT), 1) AS sd${i + 1}""")
      .mkString(",\n                ")
    val zs = fx.zipWithIndex.map { case (c, i) =>
      s"CAST(floor(CAST(($c - mu${i + 1})*1000000 AS DOUBLE)/sd${i + 1} + 0.5) AS BIGINT) AS xs_${c.stripPrefix("x_")}"
    }.mkString(",\n                ")
    val dot = wc.zip(xs).map { case (w, x) => s"w.$w*z.$x" }.mkString(" + ")
    val iters = (1 to lrIters).map { tt =>
      val grads = wc.zip(xs).zipWithIndex.map { case ((w, x), j) =>
        s"CAST(sum((p - y*10000000)*$x) AS BIGINT) AS g$j"
      }.mkString(",\n                ")
      val ups = wc.zipWithIndex.map { case (w, j) =>
        // bias (j = 0) is exempt from the L2 term, the standard rule
        val pen = if (j == 0) ""
          else s" + $lrL2*(CAST(w.$w AS DOUBLE)/1e7)"
        s"""w.$w - CAST(floor($lrRate*(CAST(g.g$j AS DOUBLE)/g.n/1e13$pen)*10000000.0
                  + 0.5) AS BIGINT) AS $w"""
      }.mkString(",\n                ")
      s"""p$tt AS (SELECT z.doc_id, z.y, ${xs.map(x => s"z.$x").mkString(", ")},
                CAST(floor(10000000.0/(1.0 + exp(-(CAST($dot AS DOUBLE)/1e13)))
                  + 0.5) AS BIGINT) AS p
              FROM z, w${tt - 1} w),
            g$tt AS (SELECT count(*) AS n, $grads,
                CAST(sum(CASE WHEN (p >= 5000000) = (y = 1) THEN 1 ELSE 0 END)
                  AS BIGINT) AS nc
              FROM p$tt),
            w$tt AS (SELECT $ups,
                g.nc AS nc FROM w${tt - 1} w, g$tt g)"""
    }.mkString(",\n            ")
    s"""$qualitySqlCte,
            f0 AS (SELECT doc_id,
                CAST(floor(least(stop_ratio*4, 1.0)*1000000.0 + 0.5) AS BIGINT) AS x_stop,
                CAST(floor(least(mean_word_len/8, 1.0)*1000000.0 + 0.5) AS BIGINT) AS x_mwl,
                CAST(floor(least(tok_cnt/100, 1.0)*1000000.0 + 0.5) AS BIGINT) AS x_len,
                CASE WHEN round(0.4*(1.0 - punct_ratio) +
                    0.3*least(stop_ratio*4, 1.0) +
                    0.3*least(mean_word_len/8, 1.0), 6) >= 0.62
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
              FROM qm),
            f AS (SELECT * FROM f0 WHERE $cond),
            st AS (SELECT count(*) AS n, $stats FROM f),
            ms AS (SELECT n, s1, q1, s2, q2, s3, q3, $mus FROM st),
            sg AS (SELECT n, mu1, mu2, mu3, $sds FROM ms),
            z AS (SELECT doc_id, y, CAST(1000000 AS BIGINT) AS xs_bias, $zs
              FROM f, sg),
            w0 AS (SELECT ${wc.map(w => s"CAST(0 AS BIGINT) AS $w").mkString(", ")}),
            $iters"""
  }

  /** The q137 emission shape off a trained step sequence. */
  private def lrStepsDf(s: SparkSession,
                        steps: Seq[graft.llm.QualityModel.Step]): DataFrame = {
    import s.implicits._
    steps.flatMap { step =>
      lrFeatNames.zip(step.w).map { case (f, wu) =>
        (step.iter.toLong, f, wu, wu.toDouble / 1e7, step.nCorrect)
      }
    }.toDF("iter", "feature", "w_units", "weight", "n_correct")
      .orderBy("iter", "feature")
  }

  private val lrTrainQ = Q(
    "q137_quality_train",
    (s, dir) => lrStepsDf(s, lrTrain(s, dir)._2),
    Some {
      val wc = Seq("wb", "ws", "wm", "wl")
      val rows = (1 to lrIters).flatMap { tt =>
        lrFeatNames.zip(wc).map { case (f, w) =>
          s"""SELECT CAST($tt AS BIGINT) AS iter, '$f' AS feature,
              $w AS w_units, CAST($w AS DOUBLE)/10000000.0 AS weight,
              nc AS n_correct FROM w$tt"""
        }
      }.mkString("\n            UNION ALL ")
      s"""WITH ${lrChainSql()}
            SELECT * FROM ($rows)
            ORDER BY iter, feature"""
    })

  private val lrScoreQ = Q(
    "q138_quality_score",
    (s, dir) => {
      import graft.llm.QualityModel
      val (st, steps) = lrTrain(s, dir)
      QualityModel.score(st,
        Seq("xs_bias", "xs_x_stop", "xs_x_mwl", "xs_x_len"), steps.last.w)
        .select(col("doc_id"), col("p_units"), col("score"), col("pred"),
          (col("y") === 1).as("label"))
        .orderBy("doc_id")
    },
    Some {
      val dot = Seq("wb", "ws", "wm", "wl")
        .zip(Seq("xs_bias", "xs_stop", "xs_mwl", "xs_len"))
        .map { case (w, x) => s"w.$w*z.$x" }.mkString(" + ")
      s"""WITH ${lrChainSql()},
            sc AS (SELECT z.doc_id, z.y,
                CAST(floor(10000000.0/(1.0 + exp(-(CAST($dot AS DOUBLE)/1e13)))
                  + 0.5) AS BIGINT) AS p
              FROM z, w$lrIters w)
            SELECT doc_id, p AS p_units, CAST(p AS DOUBLE)/10000000.0 AS score,
              p >= 5000000 AS pred, y = 1 AS label
            FROM sc ORDER BY doc_id"""
    })

  // ---- held-out evaluation + threshold sweep ---------------------------
  // The evaluation tier a model-based filter ships with: train on a
  // deterministic md5-hash half-split (the q89 seeded-hash discipline —
  // no RNG, rerun-stable), standardize the HELD-OUT half with the
  // TRAINING split's moments (no leakage), score it under the trained
  // weights, and report the confusion table + precision/recall/F1 at
  // nine decision thresholds. Scale shape: the sweep rides a broadcast
  // 9-row threshold frame crossed into the scored scan, collapsed by a
  // map-side-partial groupBy(step) — shuffle is 9 rows per partition,
  // corpus-size-independent. Ratios derive from EXACT integer counts
  // (one division + round at emission); F1 comes from counts directly,
  // never from the rounded precision/recall.
  private val lrSplitSqlCond =
    "substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) < '8'"

  private val lrEvalQ = Q(
    "q139_quality_eval",
    (s, dir) => {
      val scored = lrHeldOutScored(s, dir)
      import s.implicits._
      val thr = (1L to 9L).toDF("step")
      scored.crossJoin(broadcast(thr))
        .groupBy("step")
        .agg(
          sum(when(col("p_units") >= col("step") * 1000000L &&
            col("y") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(col("p_units") >= col("step") * 1000000L &&
            col("y") === 0, 1L).otherwise(0L)).as("fp"),
          sum(when(col("p_units") < col("step") * 1000000L &&
            col("y") === 1, 1L).otherwise(0L)).as("fn"),
          sum(when(col("p_units") < col("step") * 1000000L &&
            col("y") === 0, 1L).otherwise(0L)).as("tn"))
        .select(col("step"),
          (col("step").cast("double") / 10).as("threshold"),
          col("tp"), col("fp"), col("fn"), col("tn"),
          when(col("tp") + col("fp") > 0,
            round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
            .as("p_val"),
          when(col("tp") + col("fn") > 0,
            round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
            .as("r_val"),
          when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
            round((lit(2) * col("tp")).cast("double") /
              (lit(2) * col("tp") + col("fp") + col("fn")), 6))
            .as("f1_val"))
        .orderBy("step")
    },
    Some(s"""WITH $lrHeldOutSql,
            ks AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS step),
            cf AS (SELECT CAST(step AS BIGINT) AS step,
                CAST(sum(CASE WHEN p >= step*1000000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(sum(CASE WHEN p >= step*1000000 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(sum(CASE WHEN p < step*1000000 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                CAST(sum(CASE WHEN p < step*1000000 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
              FROM sc, ks GROUP BY step)
            SELECT step, CAST(step AS DOUBLE)/10 AS threshold,
              tp, fp, fn, tn,
              CASE WHEN tp + fp > 0
                THEN round(CAST(tp AS DOUBLE)/(tp + fp), 6) END AS p_val,
              CASE WHEN tp + fn > 0
                THEN round(CAST(tp AS DOUBLE)/(tp + fn), 6) END AS r_val,
              CASE WHEN 2*tp + fp + fn > 0
                THEN round(CAST(2*tp AS DOUBLE)/(2*tp + fp + fn), 6) END AS f1_val
            FROM cf ORDER BY step"""))

  /** Shared held-out scoring for q140/q141: the q139 split, trained
    * weights, and the scored complement (doc_id, p_units, y, ...). */
  private def lrHeldOutScored(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.QualityModel
    val all = lrFeatures(s, dir)
    val isTrain =
      substring(md5(concat(lit("split:"), col("doc_id").cast("string"))),
        1, 1) < "8"
    val (_, steps, mu, sd) = lrTrainOn(all.filter(isTrain))
    val ho = QualityModel.standardize(all.filter(!isTrain),
      Seq("x_stop", "x_mwl", "x_len"), mu, sd)
    QualityModel.score(ho, lrXsCols, steps.last.w)
  }

  /** The q139 oracle prefix through the held-out sigmoid pass `sc`. */
  private def lrHeldOutSql: String =
    s"""${lrChainSql(lrSplitSqlCond)},
            fho AS (SELECT * FROM f0 WHERE NOT ($lrSplitSqlCond)),
            zho AS (SELECT doc_id, y, CAST(1000000 AS BIGINT) AS xs_bias,
                CAST(floor(CAST((x_stop - mu1)*1000000 AS DOUBLE)/sd1 + 0.5) AS BIGINT) AS xs_stop,
                CAST(floor(CAST((x_mwl - mu2)*1000000 AS DOUBLE)/sd2 + 0.5) AS BIGINT) AS xs_mwl,
                CAST(floor(CAST((x_len - mu3)*1000000 AS DOUBLE)/sd3 + 0.5) AS BIGINT) AS xs_len
              FROM fho, sg),
            sc AS (SELECT z.doc_id, z.y,
                CAST(floor(10000000.0/(1.0 + exp(-(CAST(w.wb*z.xs_bias +
                  w.ws*z.xs_stop + w.wm*z.xs_mwl + w.wl*z.xs_len
                  AS DOUBLE)/1e13))) + 0.5) AS BIGINT) AS p
              FROM zho z, w$lrIters w)"""

  // ---- exact ROC AUC over the held-out split ----------------------------
  // The threshold-free ranking metric (equivalently: P(score⁺ > score⁻)
  // with ties at half credit). The scalable shape: the corpus pass
  // collapses into a SCORE HISTOGRAM — per distinct p_units, positive
  // and negative counts — which the 1e-7 probability grid bounds at
  // 1e7+1 rows WHATEVER the corpus, so the cumulative window below runs
  // over a bounded-by-construction table (the k-seed window argument,
  // GraftSession-filtered). AUC then derives from exact integers:
  // 2·P·N·AUC = Σ_s np(s)·(2·negBelow(s) + nn(s)) — one IEEE division
  // at emission, rounded 6 dp.
  private val lrAucQ = Q(
    "q140_quality_auc",
    (s, dir) => {
      val hg = lrHeldOutScored(s, dir)
        .groupBy("p_units")
        .agg(sum(when(col("y") === 1, 1L).otherwise(0L)).as("np"),
          sum(when(col("y") === 0, 1L).otherwise(0L)).as("nn"))
      val w = Window.orderBy("p_units")
        .rowsBetween(Window.unboundedPreceding, -1)
      hg.withColumn("cnb", coalesce(sum(col("nn")).over(w), lit(0L)))
        .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
          count(lit(1)).as("n_scores"),
          sum(col("np") * (lit(2L) * col("cnb") + col("nn"))).as("num2"))
        .select(col("n_pos"), col("n_neg"), col("n_scores"),
          round(col("num2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
    },
    Some(s"""WITH $lrHeldOutSql,
            hg AS (SELECT p,
                CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
                CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn
              FROM sc GROUP BY p),
            cu AS (SELECT np, nn, COALESCE(CAST(sum(nn) OVER (ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                0) AS cnb FROM hg)
            SELECT CAST(sum(np) AS BIGINT) AS n_pos,
              CAST(sum(nn) AS BIGINT) AS n_neg,
              CAST(count(*) AS BIGINT) AS n_scores,
              round(CAST(sum(np*(2*cnb + nn)) AS DOUBLE) /
                (2.0 * CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT)), 6)
                AS auc
            FROM cu"""))

  // ---- calibration (reliability) bins -----------------------------------
  // Is a predicted 0.7 actually right 70% of the time? Ten probability
  // bins over the held-out scores: per bin the count, the mean PREDICTED
  // probability (an exact integer sum of p_units, one division at
  // emission) and the EMPIRICAL positive rate. Pure map + one keyed
  // aggregation — no window, no join; p = 1.0 folds into the top bin.
  private val lrCalibQ = Q(
    "q141_quality_calibration",
    (s, dir) =>
      lrHeldOutScored(s, dir)
        .withColumn("bin", least(floor(col("p_units") / lit(1000000L)), lit(9L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("p_units")).as("sp"),
          sum(col("y")).as("npos"))
        .select(col("bin"), col("n_docs"),
          round(col("sp").cast("double") / lit(1e7) / col("n_docs"), 6)
            .as("mean_score"),
          round(col("npos").cast("double") / col("n_docs"), 6)
            .as("frac_pos"))
        .orderBy("bin"),
    Some(s"""WITH $lrHeldOutSql,
            bn AS (SELECT least(CAST(floor(p/1000000) AS BIGINT), 9) AS bin,
                p, y FROM sc),
            ag AS (SELECT bin, count(*) AS n_docs,
                CAST(sum(p) AS BIGINT) AS sp,
                CAST(sum(y) AS BIGINT) AS npos
              FROM bn GROUP BY bin)
            SELECT bin, n_docs,
              round(CAST(sp AS DOUBLE)/1e7/n_docs, 6) AS mean_score,
              round(CAST(npos AS DOUBLE)/n_docs, 6) AS frac_pos
            FROM ag ORDER BY bin"""))

  // ---- streaming feature store + periodic retrain as an oracle row -----
  // The classifier's deployment shape made driver-visible: two streamed
  // folds of the feature rows into the novelty-guarded, doc-bucketed
  // feature store (streaming/QualityStream), then a retrain over the
  // PERSISTED state — which must answer q137's oracle VERBATIM, because
  // gradient and moment sums are order-free exact integers, so training
  // over folded state is bit-equal to one-shot batch training.
  private val lrIncrementalQ = Q(
    "q142_incremental_quality",
    (s, dir) => withTempState("graft_q142_state") { state =>
      val feats = lrFeatures(s, dir)
      graft.streaming.QualityStream.foldBatch(
        feats.filter(col("doc_id") < 250), state)
      graft.streaming.QualityStream.foldBatch(
        feats.filter(col("doc_id") >= 250), state)
      lrStepsDf(s,
        graft.streaming.QualityStream.train(s, state, lrRate, lrIters, lrL2))
    },
    lrTrainQ.oracle)

  // ---- feature importance off the trained model --------------------------
  // Which features does the filter actually lean on? |w_j|·σ(xs_j) — the
  // weight magnitude times the feature's realized (standardized,
  // integer-grid) spread, the standard linear-model attribution. All
  // exact integers until one division at emission; the oracle re-derives
  // σ from the z frame with the same floor(√(Σx² − 2μΣx + nμ²)/n + .5)
  // integer-moment formula the training stats use. With L2 on, the
  // distractor (x_len) ranks last among the real features.
  private val lrImportanceQ = Q(
    "q145_quality_importance",
    (s, dir) => {
      import graft.llm.QualityModel
      val (st, steps) = lrTrain(s, dir)
      val rows = QualityModel.importance(st, lrXsCols, steps.last.w,
        lrFeatNames)
      import s.implicits._
      rows.toDF("feature", "w_units", "sd_units", "importance")
        .orderBy("feature")
    },
    Some {
      val feats = Seq( // (display name, weight CTE col, xs col, index)
        ("bias", "wb", "xs_bias", 0),
        ("x_stop", "ws", "xs_stop", 1),
        ("x_mwl", "wm", "xs_mwl", 2),
        ("x_len", "wl", "xs_len", 3))
      val sums = feats.map { case (_, _, x, i) =>
        s"CAST(sum($x) AS BIGINT) AS s$i, CAST(sum($x*$x) AS BIGINT) AS q$i"
      }.mkString(",\n                ")
      val mus = feats.map { case (_, _, _, i) =>
        s"CAST(floor(CAST(s$i AS DOUBLE)/n + 0.5) AS BIGINT) AS mu$i"
      }.mkString(",\n                ")
      val sds = feats.map { case (_, _, _, i) =>
        s"""greatest(CAST(floor(sqrt(CAST(q$i - 2*mu$i*s$i +
                mu$i*mu$i*n AS DOUBLE)/n) + 0.5) AS BIGINT), 1) AS sd$i"""
      }.mkString(",\n                ")
      val rows = feats.map { case (nm, w, _, i) =>
        s"""SELECT '$nm' AS feature, w.$w AS w_units, d.sd$i AS sd_units,
              round(CAST(abs(w.$w)*d.sd$i AS DOUBLE)/1e13, 6) AS importance
            FROM w$lrIters w, isd d"""
      }.mkString("\n            UNION ALL ")
      s"""WITH ${lrChainSql()},
            ist AS (SELECT count(*) AS n, $sums FROM z),
            imu AS (SELECT *, $mus FROM ist),
            isd AS (SELECT n, $sds FROM imu)
            SELECT * FROM ($rows)
            ORDER BY feature"""
    })

  val queries: Seq[Q] = Seq(
    kmvDistinct, kmvJaccard, hllDistinct, cmsHeavy, sketchIncremental,
    bm25TopK, bm25Incremental, cmsIncremental, lrTrainQ, lrScoreQ, lrEvalQ,
    lrAucQ, lrCalibQ, lrIncrementalQ, lrImportanceQ)
}
