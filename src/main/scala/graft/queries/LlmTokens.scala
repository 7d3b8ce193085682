package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Staging
import graft.llm.Shingles.toksExpr
import LlmSql.{qualitySqlCte, toksSql}
import LlmText.qualityCols
import Q.t

/** LLM tokenizer and language-model rows: BPE, unigram-LM and
  * WordPiece tokenizers, n-gram log-probs and perplexity, stupid
  * backoff and Gumbel sampling. */
object LlmTokens {

  // ---- unigram log-probability scoring ---------------------------------
  // The oracle-able form of LM-based quality filtering (CCNet-style
  // perplexity gates): score each doc by the average log-probability of
  // its tokens under the corpus unigram distribution — gibberish and
  // rare-token soup score low, fluent common text scores high. The
  // count-table join back onto the token stream is UNHINTED (the q70
  // rationale: Heaps'-law vocabularies reach 10⁸–10⁹ distinct tokens at
  // web scale, so a forced broadcast is a driver OOM — AQE broadcasts
  // only when the measured aggregate fits, else a token-keyed shuffled
  // join). Corpus mass arrives as a hint-broadcast 1-row aggregate.
  // Everything heavier than the vocab shuffle is map-side.
  private val unigramLogprob = Q(
    "q78_unigram_logprob",
    (s, dir) => {
      val toksTbl = t(s, dir, "documents")
        .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      val cnts = toksTbl.groupBy("token").agg(count(lit(1)).as("cnt"))
      val n = cnts.agg(sum(col("cnt")).as("n_total"))
      toksTbl
        .join(cnts, Seq("token"))
        .crossJoin(broadcast(n))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          round(avg(log(col("cnt").cast("double") / col("n_total"))), 6)
            .as("avg_logp"))
        .orderBy("doc_id")
    },
    Some(s"""WITH x AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
            c AS (SELECT token, count(*) AS cnt FROM x GROUP BY token),
            n AS (SELECT sum(cnt) AS n_total FROM c)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
              round(avg(ln(CAST(cnt AS DOUBLE) / n_total)), 6) AS avg_logp
            FROM x JOIN c USING (token) CROSS JOIN n
            GROUP BY doc_id ORDER BY doc_id"""))

  // Bigram conditional log-probability — the n>1 step past q78's
  // unigram model, the score behind fluency/perplexity-style quality
  // filters: avg log p(w_i | w_{i-1}) with MLE counts estimated from
  // the corpus itself (every doc bigram exists in the corpus counts by
  // construction, so the estimate needs no smoothing and stays
  // oracle-exact). Scale shape: the bigram table is staged ONCE and
  // feeds all three consumers; both count aggregations are map-side
  // partial (one row per distinct bigram/context per partition on the
  // wire); the joins are keyed equi-joins with NO mandated broadcast —
  // at corpus scale the bigram vocabulary dwarfs memory and must be
  // allowed to hash-join. Docs with fewer than 2 tokens have no bigrams
  // and drop out, exactly as the oracle's join semantics do.
  /** Per-doc bigram-LM score (doc_id, n_bigrams, avg_logp) — the shared
    * producer behind q84 (the raw scores) and q93 (CCNet-style
    * perplexity bucketing over them). */
  private def bigramScores(s: SparkSession, dir: String): DataFrame = {
    val bi = Staging.stage(t(s, dir, "documents")
      .withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), explode(expr(
        """zip_with(slice(toks, 1, greatest(size(toks)-1, 0)),
                    slice(toks, 2, greatest(size(toks)-1, 0)),
                    (a, b) -> struct(a AS w1, b AS w2))""")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2")))
    val cnts = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val ctx = bi.groupBy("w1").agg(count(lit(1)).as("ctx_cnt"))
    bi.join(cnts, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(avg(log(col("cnt").cast("double") / col("ctx_cnt"))), 6)
          .as("avg_logp"))
  }

  /** The q84 score pipeline as oracle CTEs, ending in
    * `sc(doc_id, n_bigrams, avg_logp)`. */
  private val bigramScoreSqlCte =
    s"""b AS (SELECT doc_id, $toksSql AS toks FROM documents),
       x AS (SELECT doc_id, unnest(toks) AS w,
               generate_subscripts(toks, 1) AS i FROM b),
       g AS (SELECT a.doc_id, a.w AS w1, c.w AS w2
             FROM x a JOIN x c ON a.doc_id = c.doc_id AND c.i = a.i + 1),
       cn AS (SELECT w1, w2, count(*) AS cnt FROM g GROUP BY w1, w2),
       cx AS (SELECT w1, count(*) AS ctx_cnt FROM g GROUP BY w1),
       sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(avg(ln(CAST(cnt AS DOUBLE) / ctx_cnt)), 6) AS avg_logp
              FROM g JOIN cn USING (w1, w2) JOIN cx USING (w1)
              GROUP BY doc_id)"""

  private val bigramLogprob = Q(
    "q84_bigram_logprob",
    (s, dir) => bigramScores(s, dir).orderBy("doc_id"),
    Some(s"""WITH $bigramScoreSqlCte
            SELECT doc_id, n_bigrams, avg_logp FROM sc ORDER BY doc_id"""))

  // ---- CCNet-style perplexity bucketing --------------------------------
  // Head/middle/tail corpus tiers by language-model score per language
  // (Wenzek et al., "CCNet", arXiv:1911.00359 §4.3 — CCNet ranks each
  // language's documents by Wikipedia-LM perplexity and cuts the corpus
  // into thirds; the head feeds high-quality training mixes). The
  // in-corpus bigram LM (q84) stands in for the external KenLM.
  //
  // Scale shape — the naive form is `ntile(3) OVER (PARTITION BY lang
  // ORDER BY score)`, a per-language GLOBAL sort whose biggest language
  // is most of the corpus in one reducer. Instead the cutoffs come from
  // a bounded deterministic sample (q85's md5-order machinery, N per
  // language), where the tercile boundary values are read off by rank —
  // a DISCRETE percentile, chosen over interpolation so both engines
  // compare against bit-identical cutoff values. The cutoff table is one
  // row per language — bounded by the language inventory, broadcastable
  // by construction (q88's argument) — and the corpus-wide pass is a
  // broadcast join + two comparisons, map-only. Only scored docs (≥2
  // tokens, q84's domain) are bucketed.
  private val pplSampleN = 300

  private val perplexityBuckets = Q(
    "q93_perplexity_buckets",
    (s, dir) => {
      val scored = Staging.stage(
        bigramScores(s, dir)
          .join(t(s, dir, "documents").select("doc_id", "lang"), Seq("doc_id")))
      val wh = Window.partitionBy("lang").orderBy("h")
      val sample = scored
        .withColumn("h", md5(col("doc_id").cast("string")))
        .withColumn("srk", row_number().over(wh))
        .filter(col("srk") <= pplSampleN)
      val wr = Window.partitionBy("lang")
        .orderBy(col("avg_logp").desc, col("doc_id"))
      val cuts = sample
        .withColumn("r", row_number().over(wr))
        .withColumn("c", count(lit(1)).over(Window.partitionBy("lang")))
        .groupBy("lang")
        .agg(
          max(when(col("r") === ceil(col("c") / lit(3.0)), col("avg_logp")))
            .as("head_cut"),
          max(when(col("r") === ceil(col("c") * 2 / lit(3.0)), col("avg_logp")))
            .as("mid_cut"))
      scored.join(broadcast(cuts), Seq("lang"))
        .withColumn("bucket",
          when(col("avg_logp") >= col("head_cut"), lit("head"))
            .when(col("avg_logp") >= col("mid_cut"), lit("middle"))
            .otherwise(lit("tail")))
        .select("doc_id", "lang", "avg_logp", "bucket")
        .orderBy("doc_id")
    },
    Some(s"""WITH $bigramScoreSqlCte,
            sl AS (SELECT sc.doc_id, d.lang, sc.avg_logp
                   FROM sc JOIN documents d USING (doc_id)),
            smp AS (SELECT lang, doc_id, avg_logp,
                      row_number() OVER (PARTITION BY lang
                        ORDER BY md5(CAST(doc_id AS VARCHAR))) AS srk
                    FROM sl),
            rk AS (SELECT lang, avg_logp,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY avg_logp DESC, doc_id) AS r,
                     count(*) OVER (PARTITION BY lang) AS c
                   FROM smp WHERE srk <= $pplSampleN),
            cuts AS (SELECT lang,
                       max(CASE WHEN r = CAST(ceil(c / 3.0) AS BIGINT)
                             THEN avg_logp END) AS head_cut,
                       max(CASE WHEN r = CAST(ceil(c * 2 / 3.0) AS BIGINT)
                             THEN avg_logp END) AS mid_cut
                     FROM rk GROUP BY lang)
            SELECT sl.doc_id, sl.lang, sl.avg_logp,
              CASE WHEN sl.avg_logp >= c.head_cut THEN 'head'
                   WHEN sl.avg_logp >= c.mid_cut THEN 'middle'
                   ELSE 'tail' END AS bucket
            FROM sl JOIN cuts c USING (lang) ORDER BY doc_id"""))

  // ---- BPE tokenizer training ------------------------------------------
  // llm/Bpe trains byte-pair-encoding merges over the corpus word
  // histogram (Sennrich et al., arXiv:1508.07909) — see its scaladoc for
  // why the greedy left-to-right merge scan is exactly reproducible with
  // keyed window functions (overlaps only occur on single-symbol runs,
  // where greedy = even offsets from the run start). All integer/string
  // arithmetic, so the oracle replays TRAINING bit-exactly: each
  // iteration is one CTE block (Scala-generated below), the best pair a
  // 1-row ORDER BY ... LIMIT 1 cut with the same lexicographic
  // tie-break. q104 emits the learned merge table; q105 applies the
  // learned tokenizer to the corpus (per-doc BPE token counts) — the
  // rewrite runs on the VOCABULARY, the corpus pays one explode + one
  // keyed join.
  private val bpeSteps = 4

  private def bpeStepSql(i: Int): String =
    s"""p$i AS (SELECT word, cnt, unnest(syms) AS s,
              generate_subscripts(syms, 1) AS p FROM w${i - 1}),
        m$i AS (SELECT *, lead(s) OVER (PARTITION BY word ORDER BY p) AS ns
              FROM p$i),
        bp$i AS (SELECT s AS x, ns AS y, CAST(sum(cnt) AS BIGINT) AS pair_count
              FROM m$i WHERE ns IS NOT NULL GROUP BY s, ns
              ORDER BY pair_count DESC, x, y LIMIT 1),
        f$i AS (SELECT m.*, b.x, b.y,
              coalesce(m.s = b.x AND m.ns = b.y, false) AS mt
              -- LEFT JOIN, not CROSS: an EXHAUSTED step (empty bp) must
              -- pass the vocabulary through unchanged, matching the
              -- Spark trainer's early stop — a cross join with an empty
              -- best-pair frame would annihilate every later w$i
              FROM m$i m LEFT JOIN bp$i b ON true),
        g$i AS (SELECT *, sum(CASE WHEN mt THEN 1 ELSE 0 END)
                OVER (PARTITION BY word ORDER BY p) AS mrn FROM f$i),
        r$i AS (SELECT *, CASE WHEN mt THEN p - mrn END AS run FROM g$i),
        k$i AS (SELECT *, mt AND ((p - min(p)
                OVER (PARTITION BY word, run)) % 2 = 0) AS keep FROM r$i),
        x$i AS (SELECT *, coalesce(lag(keep)
                OVER (PARTITION BY word ORDER BY p), false) AS consumed
              FROM k$i),
        w$i AS (SELECT word, cnt,
              list(CASE WHEN keep THEN s || ns ELSE s END ORDER BY p) AS syms
              FROM x$i WHERE NOT consumed GROUP BY word, cnt)"""

  /** CTEs `w0` (char-split corpus word histogram) through `w$bpeSteps`
    * (post-merge vocabulary) and `bp1..bp$bpeSteps` (the learned pairs). */
  private val bpeChainSql: String =
    s"""t0 AS (SELECT $toksSql AS toks FROM documents),
        wh AS (SELECT unnest(toks) AS word FROM t0),
        w0 AS (SELECT word, count(*) AS cnt,
              list_transform(generate_series(1, length(word)),
                i -> substr(word, i, 1)) AS syms
              FROM wh GROUP BY word),
        ${(1 to bpeSteps).map(bpeStepSql).mkString(",\n")}"""

  private def corpusWordHist(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(expr(toksExpr)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  // q104/q114 share their report and oracle
  private def bpeMergesReport(merges: DataFrame): DataFrame =
    merges.select(col("step"), col("x").as("merge_left"),
      col("y").as("merge_right"), col("pair_count")).orderBy("step")

  private val bpeMergesOracle =
    s"""WITH $bpeChainSql
            ${(1 to bpeSteps).map(i =>
              s"SELECT CAST($i AS INT) AS step, x AS merge_left, y AS merge_right, pair_count FROM bp$i")
              .mkString("\nUNION ALL\n")}
            ORDER BY step"""

  private val bpeMerges = Q(
    "q104_bpe_merges",
    (s, dir) => {
      val (merges, _) = graft.llm.Bpe.train(corpusWordHist(s, dir), bpeSteps)
      bpeMergesReport(merges)
    },
    Some(bpeMergesOracle))

  // q104's trainer swapped for the incremental-count variant, against
  // q104's ORACLE verbatim: the driver checks that maintaining the pair
  // table by delta (retract matched words' old pairs, add their new
  // ones) reproduces full-recount training bit-for-bit — the merge
  // sequence, counts and tie-breaks included. BpePropSpec pins the
  // equality against the sequential model; this row makes it
  // driver-visible. Scale note in Bpe.trainIncremental's doc: per-step
  // cost drops from all-positions to matched-positions + count-table.
  private val bpeIncMerges = Q(
    "q114_bpe_incremental",
    (s, dir) => {
      val (merges, _) =
        graft.llm.Bpe.trainIncremental(corpusWordHist(s, dir), bpeSteps)
      bpeMergesReport(merges)
    },
    Some(bpeMergesOracle))

  // ---- unigram-LM (SentencePiece-style) Viterbi segmentation -----------
  // The tokenizer family's OTHER half (Kudo 2018, arXiv:1804.10959):
  // where BPE applies learned merge rules, the unigram model tokenizes
  // each word as its maximum-likelihood segmentation over a piece
  // inventory with log-probs — SentencePiece's encode path and the
  // E-step of its EM trainer. llm/Unigram seeds the inventory (top-S
  // substrings + single-char coverage, 6 dp-rounded log-probs) and runs
  // the Viterbi DP as in-row lambdas against the broadcast inventory;
  // the oracle replays the DP as a recursive CTE that carries each
  // word's best-score/backpointer arrays forward one position per
  // iteration, with the (score DESC, split DESC) tie-break matching
  // Spark's array_max over (s, j) structs exactly. Floats are safe
  // without mid-DP rounding: every candidate score is a sum of the SAME
  // rounded log-probs in the SAME order on both engines, so the
  // compared bits are identical. Output is the q105 report shape, so
  // the two tokenizer families read side-by-side.
  private val umMaxLen = 4
  private val umTopS = 200
  private val umEmIters = 2

  /** Seed-inventory CTEs → `uinv0` (piece, pcnt, logp): word histogram,
    * substring counts, top-S + single-char coverage, 6 dp log-probs.
    * Shared by q115 (segmentation) and q116 (EM training). */
  private val umSeedSql: String =
    s"""ut0 AS (SELECT $toksSql AS toks FROM documents),
        uww AS (SELECT unnest(toks) AS word FROM ut0),
        uwh AS (SELECT word, count(*) AS cnt FROM uww GROUP BY word),
        usub AS (SELECT substr(w.word, st.s, ll.l) AS piece, w.cnt
            FROM uwh w,
                 LATERAL unnest(generate_series(1, length(w.word))) AS st(s),
                 LATERAL unnest(generate_series(1, $umMaxLen)) AS ll(l)
            WHERE st.s + ll.l - 1 <= length(w.word)),
        upc AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS pcnt
            FROM usub GROUP BY piece),
        utop AS (SELECT piece, pcnt FROM upc
            QUALIFY row_number() OVER (ORDER BY pcnt DESC, piece) <= $umTopS),
        usingle AS (SELECT piece, pcnt FROM upc WHERE length(piece) = 1),
        uraw0 AS (SELECT DISTINCT piece, pcnt FROM
            (SELECT * FROM utop UNION ALL SELECT * FROM usingle)),
        utot0 AS (SELECT CAST(sum(pcnt) AS DOUBLE) AS t FROM uraw0),
        uinv0 AS (SELECT piece, pcnt, round(ln(pcnt / t), 6) AS logp
            FROM uraw0, utot0)"""

  /** One Viterbi pass against `uinv${i-1}`: the recursive DP carrying
    * each word's (score, backpointer) arrays one position per
    * iteration, then the piece-emitting backtrace → `ubt$i` (one row
    * per segmentation step, `piece` NULL on the anchor row). */
  private def umSegSql(i: Int): String =
    s"""useg$i AS (
          SELECT word, cnt, 0 AS pos,
            [struct_pack(s := CAST(0 AS DOUBLE), j := CAST(0 AS BIGINT))] AS m
          FROM uwh
          UNION ALL
          SELECT useg$i.word, useg$i.cnt, useg$i.pos + 1 AS pos,
            list_append(useg$i.m, struct_pack(
              s := COALESCE(best.s, CAST('-infinity' AS DOUBLE)),
              j := COALESCE(best.j, CAST(-1 AS BIGINT)))) AS m
          FROM useg$i LEFT JOIN LATERAL (
            SELECT useg$i.m[useg$i.pos + 2 - l.l].s + iv.logp AS s,
                   CAST(useg$i.pos + 1 - l.l AS BIGINT) AS j
            FROM unnest(generate_series(1,
                   least(useg$i.pos + 1, $umMaxLen))) AS l(l)
            JOIN uinv${i - 1} iv
              ON iv.piece = substr(useg$i.word, useg$i.pos + 2 - l.l, l.l)
            ORDER BY s DESC, j DESC LIMIT 1
          ) best ON true
          WHERE useg$i.pos < length(useg$i.word)),
        ufin$i AS (SELECT word, cnt, m FROM useg$i WHERE pos = length(word)),
        ubt$i AS (
          SELECT word, cnt, length(word) AS pos, m,
                 CAST(NULL AS VARCHAR) AS piece
          FROM ufin$i
          UNION ALL
          SELECT word, cnt, m[pos + 1].j AS pos, m,
                 substr(word, m[pos + 1].j + 1, pos - m[pos + 1].j) AS piece
          FROM ubt$i WHERE pos > 0)"""

  /** M-step: weighted usage counts off `ubt$i` → next rounded
    * inventory `uinv$i` (zero-usage pieces hard-pruned by absence). */
  private def umUseSql(i: Int): String =
    s"""uuse$i AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS pcnt
            FROM ubt$i WHERE piece IS NOT NULL GROUP BY piece),
        utot$i AS (SELECT CAST(sum(pcnt) AS DOUBLE) AS t FROM uuse$i),
        uinv$i AS (SELECT piece, pcnt, round(ln(pcnt / t), 6) AS logp
            FROM uuse$i, utot$i)"""

  private val unigramSegment = Q(
    "q115_unigram_segment",
    (s, dir) => {
      // staged once: the inventory's substring pass and the DP both
      // re-scan the materialized histogram, never the corpus
      val wh = Staging.stage(corpusWordHist(s, dir))
      val inv = graft.llm.Unigram.inventory(wh, umMaxLen, umTopS)
      val segs = graft.llm.Unigram.segmentCounts(wh, inv, umMaxLen)
        .select(col("word"), col("n_pieces"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(expr(toksExpr)).as("word"))
        .join(segs, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum(length(col("word"))).cast("long").as("n_chars"),
          sum(col("n_pieces")).cast("long").as("n_um_tokens"))
        .withColumn("compression",
          round(col("n_chars").cast("double") / col("n_um_tokens"), 6))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $umSeedSql,
            ${umSegSql(1)},
            ucnt AS (SELECT word, CAST(count(piece) AS BIGINT) AS npieces
                FROM ubt1 WHERE piece IS NOT NULL GROUP BY word),
            udx AS (SELECT doc_id, unnest($toksSql) AS word FROM documents)
            SELECT udx.doc_id,
              CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(length(udx.word)) AS BIGINT) AS n_chars,
              CAST(sum(u.npieces) AS BIGINT) AS n_um_tokens,
              round(CAST(sum(length(udx.word)) AS DOUBLE) / sum(u.npieces), 6)
                AS compression
            FROM udx JOIN ucnt u USING (word)
            GROUP BY udx.doc_id ORDER BY doc_id"""))

  // ---- unigram-LM EM training ------------------------------------------
  // Trained-models-as-oracle-rows, unigram edition: k-means (q99), PQ
  // (q111), and BPE (q104/q114) already replay their TRAINING in DuckDB;
  // this closes the tokenizer family. Hard EM (Viterbi-EM): each
  // iteration's E-step is q115's DP verbatim, the M-step re-estimates
  // piece log-probs from weighted usage (rounded 6 dp — the per-
  // iteration discipline that collapses cross-engine ln noise before it
  // can steer the next E-step), and zero-usage pieces hard-prune.
  // Pruning never breaks coverage: every piece used at iteration i
  // survives to i+1, so each word's previous segmentation stays
  // feasible. The oracle unrolls the fixed iteration count — each
  // E-step one recursive DP + backtrace chain, each M-step a count
  // re-normalization — and the driver verifies the final inventory.
  private val unigramEm = Q(
    "q116_unigram_em",
    (s, dir) => graft.llm.Unigram
      .emTrain(corpusWordHist(s, dir), umMaxLen, umTopS, umEmIters)
      .orderBy("piece"),
    Some(s"""WITH RECURSIVE $umSeedSql,
            ${(1 to umEmIters).map(i =>
              umSegSql(i) + ",\n" + umUseSql(i)).mkString(",\n")}
            SELECT piece, pcnt, logp FROM uinv$umEmIters ORDER BY piece"""))

  // ---- unigram-LM inventory pruning (the full SentencePiece loop) ------
  // q116 refines log-probs of whatever EM keeps using; the paper's outer
  // loop (Kudo 2018 §3.2) ALTERNATES EM with dropping the lowest-loss
  // pieces until a target vocabulary size. Deterministic form: rank
  // multi-char pieces by attributed likelihood mass (pcnt × logp — the
  // hard-EM collapse of the lattice-marginal loss), keep
  // max(target − alphabet, ceil(n × keepFrac)) per iteration, and floor
  // the coverage alphabet at count 1 so no character can ever lose its
  // char-by-char fallback path. The oracle replays prune+EM: each
  // iteration is q115's recursive-CTE DP, then a loss-ranked QUALIFY
  // (the "DELETE") whose keep-count folds the same greatest/ceil
  // arithmetic, then the shared renormalization.
  private val umTargetS = 80
  private val umKeepFrac = 0.5
  private val umPruneIters = 2

  /** Prune+renormalize step `i`: usage counts off `ubt$i`, the coverage
    * floor over `ualpha`, the loss-ranked keep, and the 6 dp
    * renormalization → `uinv$i`. */
  private def umPruneSql(i: Int): String =
    s"""uuse$i AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS pcnt
            FROM ubt$i WHERE piece IS NOT NULL GROUP BY piece),
        usng$i AS (SELECT a.piece, greatest(COALESCE(u.pcnt, 0), 1) AS pcnt
            FROM ualpha a LEFT JOIN uuse$i u ON u.piece = a.piece),
        ukeep$i AS (SELECT u.piece, u.pcnt
            FROM uuse$i u JOIN uinv${i - 1} iv ON iv.piece = u.piece
            WHERE length(u.piece) > 1
            QUALIFY row_number() OVER (ORDER BY u.pcnt * iv.logp, u.piece)
              <= greatest(
                   greatest(CAST($umTargetS AS BIGINT)
                     - (SELECT count(*) FROM ualpha), 0),
                   CAST(ceil(count(*) OVER () * $umKeepFrac) AS BIGINT))),
        uraw$i AS (SELECT piece, pcnt FROM ukeep$i
            UNION ALL SELECT piece, pcnt FROM usng$i),
        utot$i AS (SELECT CAST(sum(pcnt) AS DOUBLE) AS t FROM uraw$i),
        uinv$i AS (SELECT piece, pcnt, round(ln(pcnt / t), 6) AS logp
            FROM uraw$i, utot$i)"""

  // ---- unigram-LM SOFT-EM training (forward-backward) ------------------
  // q116 is hard EM (Viterbi counts); the paper's E-step uses lattice
  // EXPECTED counts — forward-backward over all segmentations. The
  // float-determinism problem is that ln/exp are only ~1-ulp
  // reproducible across engines and a soft DP compounds them, so the
  // operator QUANTIZES every transcendental on computation: α/β entries
  // round to 6 dp before the next position reads them, log-sum-exp
  // terms round into 1e-7 fixed-point and sum as exact BIGINTs
  // (order-free — a float sum would be partial-aggregation-order
  // dependent), and per-occurrence expected counts round into 1e-6
  // micro-units summed as BIGINTs. Both engines then see bit-identical
  // inputs at every step; a 1-ulp difference only flips a rounding when
  // the true value sits within ~1e-15 of a quantum boundary. β is the
  // forward pass run on the REVERSED word against the reversed-piece
  // inventory (β(j) = α_rev(n−j)) on BOTH engines — one DP shape, and
  // the fixed-point sums make candidate order irrelevant.
  private val umSoftIters = 2

  /** Quantized-LSE forward DP over `$wordCol` of `$wordTable` against
    * `$invName` → `$out` (word key, cnt, segmented string `w`, α array
    * `a`). The lateral computes max-rescaled fixed-point log-sum-exp:
    * candidates x = α(j) + logp (already-quantized doubles), terms
    * round(exp(x − mx)·1e7) summed as BIGINT, result rounded to 6 dp. */
  private def umFwdSql(i: Int, wordTable: String, wordCol: String,
                       invName: String, out: String): String =
    s"""$out AS (
          SELECT word, cnt, $wordCol AS w, 0 AS pos,
            [CAST(0 AS DOUBLE)] AS a
          FROM $wordTable
          UNION ALL
          SELECT f.word, f.cnt, f.w, f.pos + 1 AS pos,
            list_append(f.a,
              COALESCE(best.v, CAST('-infinity' AS DOUBLE))) AS a
          FROM $out f LEFT JOIN LATERAL (
            SELECT round(max(q.mx) + ln(CAST(sum(
                     CAST(round(exp(q.x - q.mx) * 1e7) AS BIGINT))
                     AS DOUBLE) / 1e7), 6) AS v
            FROM (
              SELECT c.x, max(c.x) OVER () AS mx
              FROM (
                SELECT f.a[f.pos + 2 - l.l] + iv.logp AS x
                FROM unnest(generate_series(1,
                       least(f.pos + 1, $umMaxLen))) AS l(l)
                JOIN $invName iv
                  ON iv.piece = substr(f.w, f.pos + 2 - l.l, l.l)
                WHERE f.a[f.pos + 2 - l.l] > CAST('-infinity' AS DOUBLE)
              ) c
            ) q
          ) best ON true
          WHERE f.pos < length(f.w))"""

  /** One soft-EM iteration: forward on the word, forward on the
    * reversed word (reversed inventory), lattice-posterior expected
    * counts in 1e-6 fixed-point, exact BIGINT sum, 6 dp
    * renormalization → `uinv$i`. */
  private def umSoftSql(i: Int): String =
    s"""urinv$i AS (SELECT reverse(piece) AS piece, logp FROM uinv${i - 1}),
        ${umFwdSql(i, "uwh", "word", s"uinv${i - 1}", s"ufw$i")},
        ${umFwdSql(i, "urv", "rword", s"urinv$i", s"urw$i")},
        ufx$i AS (SELECT word, cnt, a FROM ufw$i WHERE pos = length(w)),
        urx$i AS (SELECT word, a AS ra FROM urw$i WHERE pos = length(w)),
        uex$i AS (
          SELECT iv.piece,
            CAST(round(f.cnt * exp(f.a[j.j + 1] + iv.logp
              + x.ra[length(f.word) - j.j - l.l + 1]
              - f.a[length(f.word) + 1]) * 1e6) AS BIGINT) AS cm
          FROM ufx$i f, urx$i x,
               LATERAL unnest(generate_series(0, length(f.word) - 1)) AS j(j),
               LATERAL unnest(generate_series(1, $umMaxLen)) AS l(l),
               uinv${i - 1} iv
          WHERE x.word = f.word
            AND j.j + l.l <= length(f.word)
            AND iv.piece = substr(f.word, j.j + 1, l.l)
            AND f.a[length(f.word) + 1] > CAST('-infinity' AS DOUBLE)
            AND f.a[j.j + 1] > CAST('-infinity' AS DOUBLE)
            AND x.ra[length(f.word) - j.j - l.l + 1]
              > CAST('-infinity' AS DOUBLE)),
        uuse$i AS (SELECT piece, CAST(sum(cm) AS BIGINT) AS pcnt
            FROM uex$i GROUP BY piece HAVING sum(cm) > 0),
        utot$i AS (SELECT CAST(sum(pcnt) AS DOUBLE) AS t FROM uuse$i),
        uinv$i AS (SELECT piece, pcnt, round(ln(pcnt / t), 6) AS logp
            FROM uuse$i, utot$i)"""

  private val unigramSoftEm = Q(
    "q118_unigram_soft_em",
    (s, dir) => graft.llm.Unigram
      .softEmTrain(corpusWordHist(s, dir), umMaxLen, umTopS, umSoftIters)
      .orderBy("piece"),
    Some(s"""WITH RECURSIVE $umSeedSql,
            urv AS (SELECT word, cnt, reverse(word) AS rword FROM uwh),
            ${(1 to umSoftIters).map(umSoftSql).mkString(",\n")}
            SELECT piece, pcnt, logp FROM uinv$umSoftIters
            ORDER BY piece"""))

  // ---- unigram-LM sampled segmentation (subword regularization) --------
  // Kudo 2018 §4: training-time augmentation draws each word's
  // segmentation from the lattice posterior instead of argmax.
  // Forward-filtering backward-sampling with NO RNG: the uniform is the
  // q110 md5-digit fold of (word, position), and the inverse-CDF pick is
  // all-integer — candidate weights are q118's quantized posteriors in
  // 1e-7 fixed-point and the pick compares cum·2³² > u·total in exact
  // 64-bit products, so the DRAW itself replays bit-identically in
  // DuckDB (a recursive CTE walking positions, choosing via a windowed
  // cumulative sum under the same inequality).
  private val unigramSampled = Q(
    "q119_unigram_sampled",
    (s, dir) => {
      val wh = Staging.stage(corpusWordHist(s, dir))
      val inv = graft.llm.Unigram.inventory(wh, umMaxLen, umTopS)
      val segs = graft.llm.Unigram.sampleSegmentCounts(wh, inv, umMaxLen)
        .select(col("word"), col("n_pieces"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(expr(toksExpr)).as("word"))
        .join(segs, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum(length(col("word"))).cast("long").as("n_chars"),
          sum(col("n_pieces")).cast("long").as("n_sampled_tokens"))
        .withColumn("compression",
          round(col("n_chars").cast("double") / col("n_sampled_tokens"), 6))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $umSeedSql,
            ${umFwdSql(1, "uwh", "word", "uinv0", "usfw")},
            usfx AS (SELECT word, cnt, a FROM usfw WHERE pos = length(w)),
            uwt AS (
              SELECT f.word, p.p AS pos, l.l AS l,
                CAST(round(exp(f.a[p.p - l.l + 1] + iv.logp
                  - f.a[p.p + 1]) * 1e7) AS BIGINT) AS w
              FROM usfx f,
                   LATERAL unnest(generate_series(1, length(f.word))) AS p(p),
                   LATERAL unnest(generate_series(1,
                     least(p.p, $umMaxLen))) AS l(l),
                   uinv0 iv
              WHERE iv.piece = substr(f.word, p.p - l.l + 1, l.l)
                AND f.a[p.p - l.l + 1] > CAST('-infinity' AS DOUBLE)
                AND f.a[p.p + 1] > CAST('-infinity' AS DOUBLE)),
            uchoice AS (
              SELECT word, pos, min(l) AS pick FROM (
                SELECT word, pos, l,
                  sum(w) OVER (PARTITION BY word, pos ORDER BY l) AS cum,
                  sum(w) OVER (PARTITION BY word, pos) AS total,
                  CAST(list_sum(list_transform(range(1, 9),
                    i -> (strpos('0123456789abcdef',
                        substr(md5('useg|' || word || '|'
                          || CAST(pos AS VARCHAR)), i, 1)) - 1)
                      * power(16, 8 - i))) AS BIGINT) AS u
                FROM uwt)
              WHERE cum * 4294967296 > u * total
              GROUP BY word, pos),
            usmp AS (
              SELECT word, cnt, length(word) AS pos, 0 AS n FROM uwh
              UNION ALL
              SELECT s.word, s.cnt, s.pos - ch.pick AS pos, s.n + 1 AS n
              FROM usmp s
              JOIN uchoice ch ON ch.word = s.word AND ch.pos = s.pos
              WHERE s.pos > 0),
            uscnt AS (SELECT word, CAST(n AS BIGINT) AS npieces
                FROM usmp WHERE pos = 0),
            usdx AS (SELECT doc_id, unnest($toksSql) AS word FROM documents)
            SELECT usdx.doc_id,
              CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(length(usdx.word)) AS BIGINT) AS n_chars,
              CAST(sum(u.npieces) AS BIGINT) AS n_sampled_tokens,
              round(CAST(sum(length(usdx.word)) AS DOUBLE) / sum(u.npieces), 6)
                AS compression
            FROM usdx JOIN uscnt u USING (word)
            GROUP BY usdx.doc_id ORDER BY doc_id"""))

  private val unigramPruned = Q(
    "q117_unigram_pruned",
    (s, dir) => graft.llm.Unigram
      .emTrainPruned(corpusWordHist(s, dir), umMaxLen, umTopS, umTargetS,
        umPruneIters, umKeepFrac)
      .orderBy("piece"),
    Some(s"""WITH RECURSIVE $umSeedSql,
            ualpha AS (SELECT piece FROM uinv0 WHERE length(piece) = 1),
            ${(1 to umPruneIters).map(i =>
              umSegSql(i) + ",\n" + umPruneSql(i)).mkString(",\n")}
            SELECT piece, pcnt, logp FROM uinv$umPruneIters
            ORDER BY piece"""))

  private val bpeEncode = Q(
    "q105_bpe_encode",
    (s, dir) => {
      val (_, vocab) = graft.llm.Bpe.train(corpusWordHist(s, dir), bpeSteps)
      val wlen = vocab.select(col("word"),
        size(col("syms")).cast("long").as("n_syms"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(expr(toksExpr)).as("word"))
        .join(wlen, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum(length(col("word"))).cast("long").as("n_chars"),
          sum(col("n_syms")).cast("long").as("n_bpe_tokens"))
        .withColumn("compression",
          round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6))
        .orderBy("doc_id")
    },
    Some(s"""WITH $bpeChainSql,
            wl AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_syms
                  FROM w$bpeSteps),
            dx AS (SELECT doc_id, unnest($toksSql) AS word FROM documents)
            SELECT dx.doc_id,
              CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(length(dx.word)) AS BIGINT) AS n_chars,
              CAST(sum(wl.n_syms) AS BIGINT) AS n_bpe_tokens,
              round(CAST(sum(length(dx.word)) AS DOUBLE) / sum(wl.n_syms), 6)
                AS compression
            FROM dx JOIN wl USING (word)
            GROUP BY dx.doc_id ORDER BY doc_id"""))

  // ---- stupid-backoff LM scoring (cross-slice) -------------------------
  // Brants et al. 2007 ("Large Language Models in Machine Translation",
  // EMNLP) — the distributed-LM scoring scheme built precisely for this
  // engine's situation: MLE n-gram tables sharded across machines, no
  // normalized smoothing, unseen n-grams handled by backing off with a
  // fixed penalty: S(w|v) = cnt(v w)/cnt(v ·) if seen, else
  // alpha * S(w), with S(w) = cnt(w)/N and alpha = 0.4 (the paper's
  // constant); a token unseen even as a unigram bottoms out at
  // alpha^2 / N. q84 estimates its LM on the SAME corpus it scores, so
  // by construction no backoff ever fires there; here the LM is
  // estimated on a TRAINING SLICE (doc_id < sbSplit) and scores the
  // held-out rest — the production shape (external LM, eval scoring),
  // and the backoff path actually executes (n_backoff is emitted as an
  // observable). Scale: LM bigram/unigram tables are Heaps'-law sized —
  // keyed left joins, NO broadcast mandate (q70/q78/q84's rule); only
  // the 1-row token total is hint-broadcast. The float seam is the
  // usual avg-of-logs, rounded 6 dp at emission.
  private val sbAlpha = 0.4
  private val sbSplit = 250L

  private val stupidBackoff = Q(
    "q106_stupid_backoff",
    (s, dir) => {
      val toks = t(s, dir, "documents").withColumn("toks", expr(toksExpr))
      def bigramsOf(df: DataFrame): DataFrame = df
        .select(col("doc_id"), explode(expr(
          """zip_with(slice(toks, 1, greatest(size(toks)-1, 0)),
                      slice(toks, 2, greatest(size(toks)-1, 0)),
                      (a, b) -> struct(a AS w1, b AS w2))""")).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val lmToks = toks.filter(col("doc_id") < sbSplit)
      val lmBig = Staging.stage(bigramsOf(lmToks))
      val biCnt = lmBig.groupBy("w1", "w2").agg(count(lit(1)).as("bi_cnt"))
      val ctxCnt = lmBig.groupBy("w1").agg(count(lit(1)).as("ctx_cnt"))
      val lmUni = lmToks.select(explode(col("toks")).as("w2"))
        .groupBy("w2").agg(count(lit(1)).as("uni_cnt"))
      val nTot = lmToks.select(explode(col("toks")).as("w"))
        .agg(count(lit(1)).cast("double").as("n_total"))
      bigramsOf(toks.filter(col("doc_id") >= sbSplit))
        .join(biCnt, Seq("w1", "w2"), "left")
        .join(ctxCnt, Seq("w1"), "left")
        .join(lmUni, Seq("w2"), "left")
        .crossJoin(broadcast(nTot))
        .withColumn("s",
          when(col("bi_cnt").isNotNull,
            col("bi_cnt").cast("double") / col("ctx_cnt"))
            .when(col("uni_cnt").isNotNull,
              lit(sbAlpha) * col("uni_cnt") / col("n_total"))
            .otherwise(lit(sbAlpha) * lit(sbAlpha) / col("n_total")))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_scored"),
          sum(when(col("bi_cnt").isNull, 1).otherwise(0)).cast("long")
            .as("n_backoff"),
          round(avg(log(col("s"))), 6).as("avg_logs"))
        .orderBy("doc_id")
    },
    Some(s"""WITH b AS (SELECT doc_id, $toksSql AS toks FROM documents),
            x AS (SELECT doc_id, unnest(toks) AS w,
                generate_subscripts(toks, 1) AS i FROM b),
            g AS (SELECT a.doc_id, a.w AS w1, c.w AS w2
                FROM x a JOIN x c ON a.doc_id = c.doc_id AND c.i = a.i + 1),
            lb AS (SELECT w1, w2, count(*) AS bi_cnt FROM g
                WHERE doc_id < $sbSplit GROUP BY w1, w2),
            lc AS (SELECT w1, count(*) AS ctx_cnt FROM g
                WHERE doc_id < $sbSplit GROUP BY w1),
            lu AS (SELECT w AS w2, count(*) AS uni_cnt FROM x
                WHERE doc_id < $sbSplit GROUP BY w),
            nt AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM x
                WHERE doc_id < $sbSplit),
            hx AS (SELECT g.doc_id, lb.bi_cnt, lc.ctx_cnt, lu.uni_cnt,
                nt.n_total
              FROM g LEFT JOIN lb USING (w1, w2) LEFT JOIN lc USING (w1)
                LEFT JOIN lu USING (w2) CROSS JOIN nt
              WHERE g.doc_id >= $sbSplit),
            sv AS (SELECT doc_id,
                CASE WHEN bi_cnt IS NOT NULL
                       THEN CAST(bi_cnt AS DOUBLE) / ctx_cnt
                     WHEN uni_cnt IS NOT NULL
                       THEN CAST($sbAlpha AS DOUBLE) * uni_cnt / n_total
                     ELSE CAST($sbAlpha AS DOUBLE) * CAST($sbAlpha AS DOUBLE)
                       / n_total END AS s,
                CASE WHEN bi_cnt IS NULL THEN 1 ELSE 0 END AS bo
              FROM hx)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
              CAST(sum(bo) AS BIGINT) AS n_backoff,
              round(avg(ln(s)), 6) AS avg_logs
            FROM sv GROUP BY doc_id ORDER BY doc_id"""))

  // ---- deterministic weighted sampling (Gumbel-top-k) ------------------
  // The EXECUTION step behind importance-weighted selection: q88/q60
  // produce per-doc weights, and a training mix wants "N docs sampled
  // proportional to exp(weight/T), without replacement, reproducibly".
  // The Gumbel-max trick (Vieira 2014; Kool et al. 2019,
  // arXiv:1903.06059) turns that into a top-k: key_i = w_i/T + G_i with
  // G_i standard Gumbel noise, take the N largest — exactly a weighted
  // sample without replacement. The engine's twist is that G_i needs NO
  // RNG state: u_i derives from 8 md5 hex digits of the salted doc id
  // (digit-fold to an integer in [0, 2^32), +0.5, normalize — every
  // term is double-exact, so both engines compute bit-identical u),
  // g = -ln(-ln(u)). ln itself is only 1-ulp-accurate per engine (JVM
  // Math.log vs libm need not agree in the last ulp), so the sort key
  // is ROUNDED to 6 dp before the top-N cut — see the in-query comment.
  // Scale:
  // weight + noise are map-only column arithmetic and the cut is
  // TakeOrdered(N) — no global sort, no RNG broadcast, rerun-stable.
  private val gumbelN = 50
  private val gumbelT = 0.5

  private val gumbelSample = Q(
    "q110_gumbel_sample",
    (s, dir) => {
      val uExpr =
        """aggregate(sequence(1, 8), CAST(0 AS DOUBLE),
             (a, i) -> a + (instr('0123456789abcdef', substring(h, i, 1)) - 1)
                         * power(16, 8 - i))"""
      qualityCols(t(s, dir, "documents"))
        .select(col("doc_id"), col("quality"))
        .withColumn("h", md5(concat(lit("wsample|"), col("doc_id").cast("string"))))
        .withColumn("u", (expr(uExpr) + lit(0.5)) / lit(4294967296.0))
        .withColumn("g", -log(-log(col("u"))))
        // round BEFORE the rank cut (q101's rounded-before-ranking rule):
        // ln is only 1-ulp-accurate on either engine, so the unrounded
        // key could straddle the top-N boundary by a last-ulp disagreement
        // and flip SET membership — rounding first makes both engines cut
        // on identical bits, with doc_id breaking the (now possible) ties
        .withColumn("skey",
          round(col("quality") / lit(gumbelT) + col("g"), 6))
        .orderBy(col("skey").desc, col("doc_id"))
        .limit(gumbelN)
        .select(col("doc_id"), col("quality"), col("skey"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $qualitySqlCte,
            qs AS (SELECT doc_id,
                round(0.4 * (1.0 - punct_ratio) +
                      0.3 * least(stop_ratio * 4, 1.0) +
                      0.3 * least(mean_word_len / 8, 1.0), 6) AS quality
              FROM qm),
            hx AS (SELECT doc_id, quality,
                md5('wsample|' || CAST(doc_id AS VARCHAR)) AS h FROM qs),
            ux AS (SELECT doc_id, quality,
                (list_sum(list_transform(range(1, 9),
                   i -> (strpos('0123456789abcdef', substr(h, i, 1)) - 1)
                        * power(16, 8 - i))) + 0.5) / 4294967296.0 AS u
              FROM hx),
            kx AS (SELECT doc_id, quality,
                round(quality / $gumbelT + (-ln(-ln(u))), 6) AS skey FROM ux),
            top AS (SELECT doc_id, quality, skey FROM kx
                ORDER BY skey DESC, doc_id LIMIT $gumbelN)
            SELECT doc_id, quality, skey FROM top
            ORDER BY doc_id"""))

  // ---- WordPiece training + encode (the third tokenizer family) -------
  // llm/Wordpiece: BPE's merge loop rescored by likelihood gain —
  // score(x,y) = count(xy)/(count(x)·count(y)) — with `##` continuation
  // markers (Schuster & Nakajima 2012; the BERT tokenizer). The oracle
  // replays TRAINING as the q104 unrolled CTE chain extended with a
  // per-step unit-count CTE and the score ordering; scores compare
  // bit-for-bit because each is one IEEE division of exact BIGINTs (no
  // sums, no transcendentals — stronger than q115's rounded-logp
  // argument). The encode row replays the greedy longest-match walk by
  // precomputing every (word, pos) pick non-recursively (the q119
  // trick) and walking them with a plain recursive equi-join.
  private val wpSteps = 4
  private val wpMaxPieceLen = 16 // ≥ longest unit spelling after 4 merges

  private def wpStepSql(i: Int): String =
    s"""wp$i AS (SELECT word, cnt, unnest(syms) AS s,
              generate_subscripts(syms, 1) AS p FROM ww${i - 1}),
        wm$i AS (SELECT *, lead(s) OVER (PARTITION BY word ORDER BY p) AS ns
              FROM wp$i),
        wu$i AS (SELECT s AS sym, CAST(sum(cnt) AS BIGINT) AS scnt
              FROM wm$i GROUP BY s),
        wc$i AS (SELECT s AS x, ns AS y, CAST(sum(cnt) AS BIGINT) AS pair_count
              FROM wm$i WHERE ns IS NOT NULL GROUP BY s, ns),
        wb$i AS (SELECT c.x, c.y, c.pair_count,
              ux.scnt AS left_count, uy.scnt AS right_count
              FROM wc$i c JOIN wu$i ux ON ux.sym = c.x
                          JOIN wu$i uy ON uy.sym = c.y
              ORDER BY c.pair_count / (ux.scnt * uy.scnt) DESC, c.x, c.y
              LIMIT 1),
        wf$i AS (SELECT m.*, b.x, b.y,
              coalesce(m.s = b.x AND m.ns = b.y, false) AS mt
              -- LEFT JOIN: exhaustion keeps the vocab (the q104 chain's
              -- rule) — q125 reads ww$wpSteps, so an annihilating cross
              -- join would silently empty the encode oracle
              FROM wm$i m LEFT JOIN wb$i b ON true),
        wg$i AS (SELECT *, sum(CASE WHEN mt THEN 1 ELSE 0 END)
                OVER (PARTITION BY word ORDER BY p) AS mrn FROM wf$i),
        wr$i AS (SELECT *, CASE WHEN mt THEN p - mrn END AS run FROM wg$i),
        wk$i AS (SELECT *, mt AND ((p - min(p)
                OVER (PARTITION BY word, run)) % 2 = 0) AS keep FROM wr$i),
        wx$i AS (SELECT *, coalesce(lag(keep)
                OVER (PARTITION BY word ORDER BY p), false) AS consumed
              FROM wk$i),
        ww$i AS (SELECT word, cnt,
              list(CASE WHEN keep THEN s || regexp_replace(ns, '^##', '')
                   ELSE s END ORDER BY p) AS syms
              FROM wx$i WHERE NOT consumed GROUP BY word, cnt)"""

  /** CTEs `ww0` (##-marked char histogram) → `ww$wpSteps`, with
    * `wb1..wb$wpSteps` the learned merges. */
  private val wpChainSql: String =
    s"""wt0 AS (SELECT $toksSql AS toks FROM documents),
        wwh AS (SELECT unnest(toks) AS word FROM wt0),
        ww0 AS (SELECT word, count(*) AS cnt,
              list_transform(generate_series(1, length(word)),
                i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
                     ELSE '##' || substr(word, i, 1) END) AS syms
              FROM wwh GROUP BY word),
        ${(1 to wpSteps).map(wpStepSql).mkString(",\n")}"""

  private val wordpieceMerges = Q(
    "q124_wordpiece_merges",
    (s, dir) => {
      val (merges, _) = graft.llm.Wordpiece.train(corpusWordHist(s, dir), wpSteps)
      merges.select(col("step"), col("x").as("merge_left"),
        col("y").as("merge_right"), col("pair_count"),
        col("left_count"), col("right_count")).orderBy("step")
    },
    Some(s"""WITH $wpChainSql
            ${(1 to wpSteps).map(i =>
              s"""SELECT CAST($i AS INT) AS step, x AS merge_left,
                  y AS merge_right, pair_count, left_count, right_count
                  FROM wb$i""").mkString("\nUNION ALL\n")}
            ORDER BY step"""))

  // Greedy longest-match-first encode against the learned unit
  // inventory (max-munch; a stuck position makes the word [UNK] — the
  // BERT rule). The corpus pays nothing here: encode runs on the WORD
  // HISTOGRAM against a broadcast inventory, map-only, and per-doc
  // token counts are one keyed join away (the q105 pattern).
  private val wordpieceEncode = Q(
    "q125_wordpiece_encode",
    (s, dir) => {
      val hist = corpusWordHist(s, dir)
      val (_, vocab) = graft.llm.Wordpiece.train(hist, wpSteps)
      val units = vocab.select(explode(col("syms")).as("piece")).distinct()
      graft.llm.Wordpiece.encode(hist, units, wpMaxPieceLen).orderBy("word")
    },
    Some(s"""WITH RECURSIVE $wpChainSql,
            wvoc AS (SELECT DISTINCT unnest(syms) AS piece FROM ww$wpSteps),
            wpo AS (SELECT word, cnt, unnest(generate_series(1, length(word)))
                AS pos FROM ww0),
            wcand AS (SELECT word, pos, l FROM wpo,
              LATERAL unnest(generate_series(1,
                least($wpMaxPieceLen, length(word) - pos + 1))) AS ll(l)),
            wpick AS (SELECT c.word, c.pos, max(c.l) AS pick
              FROM wcand c JOIN wvoc v ON v.piece =
                CASE WHEN c.pos = 1 THEN substr(c.word, c.pos, c.l)
                     ELSE '##' || substr(c.word, c.pos, c.l) END
              GROUP BY c.word, c.pos),
            wwalk AS (SELECT word, 1 AS pos, 0 AS n FROM ww0
              UNION ALL
              SELECT w.word, w.pos + m.pick, w.n + 1
              FROM wwalk w JOIN wpick m ON m.word = w.word AND m.pos = w.pos),
            wfin AS (SELECT word, max(pos) AS fpos, max(n) AS n
              FROM wwalk GROUP BY word)
            SELECT h.word, CAST(h.cnt AS BIGINT) AS cnt,
              CAST(CASE WHEN f.fpos = length(h.word) + 1 THEN f.n
                   ELSE 0 END AS BIGINT) AS n_pieces,
              (f.fpos <> length(h.word) + 1) AS is_unk
            FROM ww0 h JOIN wfin f USING (word) ORDER BY h.word"""))

  val queries: Seq[Q] = Seq(
    unigramLogprob, bigramLogprob, perplexityBuckets, bpeMerges, bpeEncode,
    stupidBackoff, gumbelSample, bpeIncMerges, unigramSegment, unigramEm,
    unigramPruned, unigramSoftEm, unigramSampled, wordpieceMerges,
    wordpieceEncode)
}
