package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Staging

/** Unigram-LM (SentencePiece-style) Viterbi segmentation — the OTHER
  * tokenizer family next to BPE (Kudo 2018, arXiv:1804.10959 §3): a
  * piece inventory with log-probabilities, and each word tokenized as
  * its maximum-likelihood segmentation. [[Bpe]] covers merge-rule
  * training; this module covers the unigram side's inventory seeding
  * and INFERENCE — the Viterbi DP that is also SentencePiece's encode
  * path and the E-step of its EM trainer (full EM training is the
  * natural next increment on top of this DP).
  *
  * Determinism (the oracle-row discipline):
  *  - the inventory is the top-S substrings by weighted occurrence
  *    count (ties lexicographic) plus every single character seen —
  *    coverage: any corpus word is segmentable char-by-char;
  *  - log-probs are ROUNDED to 6 dp (ln is only ~1-ulp reproducible
  *    across engines; rounding collapses it before any comparison);
  *  - the DP compares candidate scores as (score, split-point) structs,
  *    so ties break on the LARGER split point identically in Spark's
  *    `array_max` and the oracle's ORDER BY s DESC, j DESC.
  *
  * Scale shape: the inventory is one substring explode (maxLen-bounded,
  * map-side-combined count) + a TakeOrdered(S) — never a global sort;
  * segmentation is MAP-ONLY over the word histogram (the bounded
  * inventory rides a broadcast as a map literal, the DP and backtrace
  * are in-row `aggregate` lambdas) — the corpus itself is touched once
  * for the histogram, the Heaps'-law vocabulary does the rest, exactly
  * the [[Bpe]] cost model.
  */
object Unigram {

  /** (piece, pcnt) → (piece, pcnt, logp): the rounded renormalization,
    * over a DRIVER-LOCAL count list. ONE definition on purpose — the
    * seed inventory and every EM iteration must renormalize
    * bit-identically or the oracle's replay diverges. The inventory is
    * bounded by construction (≤ topS + alphabet pieces), so the counts
    * ride the engine's sanctioned bounded-scalar collect and re-enter
    * as a local relation; the logp projection stays a SPARK expression
    * (the same round(log(pcnt / t), 6) over the same exact inputs — the
    * total is an exact integer sum, order-free), so the computed bits
    * cannot drift from the old crossJoin(broadcast(tot)) shape. A
    * local-relation inventory then broadcasts JOBLESS into every DP
    * (LocalTableScan collects without a job) where the staged shape
    * paid a checkpoint job plus a broadcast-build job per iteration. */
  private def normalizedLocal(spark: org.apache.spark.sql.SparkSession,
                              counts: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    val t = counts.map(_._2).sum.toDouble
    counts.toDF("piece", "pcnt")
      .select(col("piece"), col("pcnt"),
        round(log(col("pcnt") / lit(t)), 6).as("logp"))
  }

  /** Bounded-scalar collect of a (piece, pcnt) aggregate — the ONE job
    * each EM iteration now runs (the DP + usage count), returning the
    * inventory-sized count list for the driver-side M-step. */
  private def collectCounts(use: DataFrame): Seq[(String, Long)] =
    use.collect().toSeq.map { r =>
      (r.getString(r.fieldIndex("piece")), r.getLong(r.fieldIndex("pcnt")))
    }

  /** Top-S substring inventory with 6 dp-rounded log-probs.
    * @param words (word, cnt) histogram
    * @return (piece, pcnt, logp) — a driver-local (bounded) frame */
  def inventory(words: DataFrame, maxLen: Int, topS: Int): DataFrame = {
    val subs = Staging.stage(words
      .select(col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), s ->
              filter(transform(sequence(1, $maxLen), l ->
                CASE WHEN s + l - 1 <= length(word)
                     THEN substring(word, s, l) END),
                x -> x IS NOT NULL)))""")).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("pcnt")))
    val top = subs.orderBy(col("pcnt").desc, col("piece")).limit(topS)
    val singles = subs.filter(length(col("piece")) === 1)
    // topS + alphabet rows by construction: collect once (one job over
    // the staged substring counts) and renormalize driver-side
    normalizedLocal(words.sparkSession,
      collectCounts(top.unionByName(singles).distinct()))
  }

  /** The Viterbi DP table as a column: m[i+1] = (best score, backpointer)
    * for position i (best[i] = max over piece lengths l of
    * best[i-l] + logp(word[i-l+1..i]); ties to the larger split) — an
    * in-row lambda against the broadcast inventory map. */
  private def withDp(words: DataFrame, inv: DataFrame, maxLen: Int): DataFrame = {
    val pm = inv.agg(map_from_entries(
      collect_list(struct(col("piece"), col("logp")))).as("pm"))
    // unreachable positions (possible under a PRUNED inventory: a char
    // inside a longer piece's span may have no piece path of its own)
    // carry a -Infinity sentinel, never a null — -Inf + logp stays -Inf,
    // loses every comparison, and the backtrace can't reach it because
    // the final position is always reachable (the word's own previous
    // segmentation survives pruning)
    // one map probe per candidate: bind the lookup in an inner struct,
    // filter the misses, THEN add the prefix score — the probe is a
    // linear scan of the broadcast map and this loop is the hot path
    words.crossJoin(broadcast(pm))
      .withColumn("m", expr(
        s"""aggregate(sequence(1, length(word)),
              array(named_struct('s', CAST(0 AS DOUBLE), 'j', 0)),
              (acc, i) -> array_append(acc,
                coalesce(
                  array_max(transform(
                    filter(transform(sequence(1, least(i, $maxLen)), l ->
                      named_struct(
                        'lp', try_element_at(pm, substring(word, i - l + 1, l)),
                        'j', i - l)),
                      c -> c.lp IS NOT NULL),
                    c -> named_struct(
                      's', element_at(acc, c.j + 1).s + c.lp,
                      'j', c.j))),
                  named_struct('s', CAST('-Infinity' AS DOUBLE), 'j', -1))))"""))
  }

  /** Maximum-likelihood piece count per word — the DP plus the
    * backpointer walk. Requires the inventory to cover every character
    * of every word (guaranteed when it came from [[inventory]] over the
    * same corpus).
    * @return (word, cnt, n_pieces) */
  def segmentCounts(words: DataFrame, inv: DataFrame, maxLen: Int): DataFrame =
    withDp(words, inv, maxLen)
      .withColumn("n_pieces", expr(
        """aggregate(sequence(1, length(word)),
             named_struct('pos', length(word), 'n', 0),
             (acc, x) -> CASE WHEN acc.pos > 0
               THEN named_struct('pos', element_at(m, acc.pos + 1).j,
                                 'n', acc.n + 1)
               ELSE acc END).n"""))
      .select(col("word"), col("cnt"),
        col("n_pieces").cast("long").as("n_pieces"))

  /** The maximum-likelihood segmentation itself — the backpointer walk
    * emitting the pieces (order: last piece first; consumers count or
    * set-aggregate, never rely on order).
    * @return (word, cnt, pieces: array<string>) */
  def segments(words: DataFrame, inv: DataFrame, maxLen: Int): DataFrame =
    withDp(words, inv, maxLen)
      .withColumn("pieces", expr(
        """aggregate(sequence(1, length(word)),
             named_struct('pos', length(word),
                          'ps', CAST(array() AS ARRAY<STRING>)),
             (acc, x) -> CASE WHEN acc.pos > 0
               THEN named_struct(
                 'pos', element_at(m, acc.pos + 1).j,
                 'ps', array_append(acc.ps,
                   substring(word, element_at(m, acc.pos + 1).j + 1,
                     acc.pos - element_at(m, acc.pos + 1).j)))
               ELSE acc END).ps"""))
      .select(col("word"), col("cnt"), col("pieces"))

  /** The one EM loop every unigram trainer runs: the histogram is staged
    * ONCE (the seed's substring pass and every iteration's DP re-scan the
    * materialization, never the corpus), the [[inventory]] of the top
    * `seedS` substrings seeds it, and each iteration is
    *  - `eStep(staged, inv)` — the (piece, pcnt) counts under the current
    *    inventory, collected bounded (≤ inventory-sized): the
    *    iteration's ONE Spark job (the map-only DP + the piece-sized
    *    aggregation);
    *  - `mStep(inv, counts)` — driver-side, the count list the next
    *    inventory keeps (default: all of it);
    *  - the shared 6 dp renormalization ([[normalizedLocal]]).
    * @return (piece, pcnt, logp) */
  private def em(words: DataFrame, maxLen: Int, seedS: Int, iters: Int,
                 eStep: (DataFrame, DataFrame) => DataFrame,
                 mStep: (DataFrame, Seq[(String, Long)]) => Seq[(String, Long)] =
                   (_, use) => use): DataFrame = {
    val wh = Staging.stage(words)
    var inv = inventory(wh, maxLen, seedS)
    for (_ <- 1 to iters)
      inv = normalizedLocal(words.sparkSession, mStep(inv, collectCounts(eStep(wh, inv))))
    inv
  }

  /** Hard-EM's E-step: Viterbi usage counts — each word re-segmented
    * ([[segments]]), its pieces weighted by the word count.
    * @return (piece, pcnt) */
  private def viterbiCounts(words: DataFrame, inv: DataFrame, maxLen: Int): DataFrame =
    segments(words, inv, maxLen)
      .select(col("cnt"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("pcnt"))

  /** Hard-EM inventory refinement (Viterbi-EM, the deterministic form
    * of SentencePiece's trainer): each iteration re-segments the word
    * histogram under the current inventory (the E-step IS [[segments]]),
    * re-estimates piece log-probs from weighted usage counts rounded to
    * 6 dp (the k-means per-iteration rounding discipline — training
    * itself becomes a DuckDB-replayable oracle row, q116), and HARD-
    * prunes unused pieces. Pruning is safe: every piece used by
    * iteration i survives into iteration i+1, so each word's previous
    * segmentation stays feasible and coverage never breaks. Per
    * iteration the corpus is untouched — one map-only DP over the
    * vocabulary plus a piece-sized count aggregation ([[em]]), the
    * [[Bpe]] cost model.
    * @return (piece, pcnt, logp) — the refined inventory */
  def emTrain(words: DataFrame, maxLen: Int, topS: Int, iters: Int): DataFrame =
    em(words, maxLen, topS, iters, viterbiCounts(_, _, maxLen))

  /** Quantized log-sum-exp forward pass as ONE column expression: the
    * array `a` with `a[i+1]` = α(i) = log Σ over segmentations of
    * `word[1..i]` of their probability. SOFT-EM's lattice marginal — the
    * same DP shape as [[withDp]] with max replaced by summation.
    *
    * Cross-engine determinism (the oracle-row discipline, extended to
    * transcendentals): `ln`/`exp` are only ~1-ulp reproducible across
    * engines, and a soft DP COMPOUNDS them, so every transcendental
    * output is quantized immediately —
    *  - the l-candidates `x_l = α(j) + logp` are sums of already-6dp
    *    values (exact IEEE adds, identical everywhere);
    *  - the log-sum-exp is max-rescaled and each `exp(x_l − M)` is
    *    rounded into 1e-7 FIXED-POINT and summed as a LONG (exact,
    *    order-free — a float sum would be partial-aggregation-order
    *    dependent);
    *  - α itself is rounded to 6 dp before the next position reads it.
    * A 1-ulp engine difference then flips a rounding only when the true
    * value sits within ~1e-15 of a quantum boundary — negligible across
    * the whole table (the q116 argument, applied per quantization).
    * Unreachable positions carry -Infinity exactly as in [[withDp]]. */
  private def withAlpha(words: DataFrame, inv: DataFrame, maxLen: Int,
                        wordCol: String, outCol: String): DataFrame = {
    val pm = inv.agg(map_from_entries(
      collect_list(struct(col("piece"), col("logp")))).as("pm"))
    def cands(i: String) =
      s"""filter(transform(sequence(1, least($i, $maxLen)), l ->
            element_at(acc, $i - l + 1)
              + try_element_at(pm, substring($wordCol, $i - l + 1, l))),
            x -> x IS NOT NULL AND x > CAST('-Infinity' AS DOUBLE))"""
    // the candidate array (a broadcast-map probe per element) and its
    // max are BOUND once per position via single-element transform
    // wrappers — inlining them would rebuild the array O(candidates)
    // times per position in this hot loop. Values are identical.
    words.crossJoin(broadcast(pm))
      .withColumn(outCol, expr(
        s"""aggregate(sequence(1, length($wordCol)),
              array(CAST(0 AS DOUBLE)),
              (acc, i) -> array_append(acc,
                element_at(transform(array(${cands("i")}), cs ->
                  CASE WHEN size(cs) = 0
                       THEN CAST('-Infinity' AS DOUBLE)
                       ELSE element_at(transform(array(array_max(cs)), mx ->
                         round(mx + ln(CAST(aggregate(cs, CAST(0 AS BIGINT),
                             (s, x) -> s + CAST(round(
                               exp(x - mx) * 1e7, 0) AS BIGINT))
                           AS DOUBLE) / 1e7), 6)), 1)
                  END), 1)))"""))
      .drop("pm")
  }

  /** Expected piece counts under the lattice posterior (soft-EM's
    * E-step), in 1e-6 fixed-point: for every in-inventory occurrence of
    * a piece at (j, l), its posterior mass is
    * `exp(α(j) + logp + β(j+l) − α(n))`, weighted by the word count and
    * rounded into micro-units so the cross-word SUM is an exact BIGINT
    * (order-free). β comes from running the SAME forward machinery on
    * the REVERSED word against the reversed-piece inventory
    * (β(j) = α_rev(n−j)) — one DP implementation, zero drift between
    * the two passes.
    * @return (piece, pcm) — micro-unit expected counts, zero rows
    *         dropped */
  private def expectedCounts(words: DataFrame, inv: DataFrame,
                             maxLen: Int): DataFrame = {
    val rinv = inv.select(reverse(col("piece")).as("piece"), col("logp"))
    val pm = inv.agg(map_from_entries(
      collect_list(struct(col("piece"), col("logp")))).as("pm"))
    val withBoth = withAlpha(
      withAlpha(words.withColumn("rword", reverse(col("word"))),
        inv, maxLen, "word", "fa"),
      rinv, maxLen, "rword", "ra")
    withBoth.crossJoin(broadcast(pm))
      .select(col("cnt"), col("word"), col("fa"), col("ra"), col("pm"))
      .withColumn("contrib", expr(
        s"""filter(flatten(transform(sequence(0, length(word) - 1), j ->
              transform(sequence(1, least(length(word) - j, $maxLen)), l ->
                named_struct(
                  'piece', substring(word, j + 1, l),
                  'lp', try_element_at(pm, substring(word, j + 1, l)),
                  'fj', element_at(fa, j + 1),
                  'bj', element_at(ra, length(word) - j - l + 1))))),
              c -> c.lp IS NOT NULL
                AND c.fj > CAST('-Infinity' AS DOUBLE)
                AND c.bj > CAST('-Infinity' AS DOUBLE))"""))
      .select(col("cnt"), col("word"),
        element_at(col("fa"), size(col("fa"))).as("z"),
        explode(col("contrib")).as("c"))
      // a word whose lattice lost ALL its mass (coverage gap after
      // piece loss) has z = -Inf; its posterior is undefined — it
      // contributes nothing rather than an overflowing exp(+Inf)
      .filter(col("z") > lit(Double.NegativeInfinity))
      .select(col("c.piece").as("piece"), expr(
        """CAST(round(cnt * exp(c.fj + c.lp + c.bj - z) * 1e6, 0)
             AS BIGINT)""").as("cm"))
      .groupBy("piece").agg(sum(col("cm")).as("pcm"))
      .filter(col("pcm") > 0)
  }

  /** SAMPLED segmentation piece counts — subword regularization (Kudo
    * 2018 §4): each word's segmentation is DRAWN from the lattice
    * posterior instead of argmax'd, the training-time augmentation that
    * exposes a model to alternative tokenizations. Forward-filtering
    * backward-sampling: the forward pass is [[withAlpha]]'s quantized
    * DP; the backward walk at position i picks the last piece's length
    * with probability ∝ exp(α(i−l) + logp − α(i)).
    *
    * Determinism (the q110 discipline, taken further): the "randomness"
    * is the 8-hex-digit md5 fold of (word, position) — no RNG state —
    * and the inverse-CDF pick is ALL-INTEGER: candidate weights are the
    * posteriors in 1e-7 fixed-point LONGs, and the chosen length is the
    * first l (ascending) with `cum_l · 2³² > u · total` — exact 64-bit
    * products on both engines (≤ 4·10⁷ · 2³² ≈ 1.7·10¹⁷ < 2⁶³), so the
    * draw replays bit-identically in DuckDB with no float comparison
    * anywhere in the sample path. Always terminates: u < 2³² makes the
    * last candidate satisfy the pick inequality, and any reached
    * position has ≥ 1 candidate (it has finite α by construction).
    * @return (word, cnt, n_pieces) under the sampled segmentation */
  def sampleSegmentCounts(words: DataFrame, inv: DataFrame,
                          maxLen: Int): DataFrame = {
    val pm = inv.agg(map_from_entries(
      collect_list(struct(col("piece"), col("logp")))).as("pm"))
    withAlpha(words, inv, maxLen, "word", "a")
      .crossJoin(broadcast(pm))
      .withColumn("n_pieces", expr(
        s"""aggregate(sequence(1, length(word)),
              named_struct('pos', length(word), 'n', 0),
              (acc, step) -> CASE WHEN acc.pos <= 0 THEN acc ELSE
                element_at(transform(array(
                  filter(transform(sequence(1, least(acc.pos, $maxLen)), l ->
                    named_struct('l', l, 'w',
                      CASE WHEN element_at(a, acc.pos - l + 1)
                                  > CAST('-Infinity' AS DOUBLE)
                                AND try_element_at(pm,
                                  substring(word, acc.pos - l + 1, l))
                                  IS NOT NULL
                           THEN CAST(round(exp(element_at(a, acc.pos - l + 1)
                             + try_element_at(pm,
                                 substring(word, acc.pos - l + 1, l))
                             - element_at(a, acc.pos + 1)) * 1e7, 0)
                             AS BIGINT) END)),
                    c -> c.w IS NOT NULL)), cs ->
                  element_at(transform(array(named_struct(
                      'u', CAST(aggregate(sequence(1, 8), CAST(0 AS DOUBLE),
                        (ua, i) -> ua + (instr('0123456789abcdef',
                            substring(md5(concat('useg|', word, '|',
                              CAST(acc.pos AS STRING))), i, 1)) - 1)
                          * power(16, 8 - i)) AS BIGINT),
                      'tot', aggregate(cs, CAST(0 AS BIGINT),
                        (s, c) -> s + c.w))), ut ->
                    named_struct(
                      'pos', acc.pos - aggregate(cs,
                        named_struct('cum', CAST(0 AS BIGINT), 'pick', 0),
                        (st, c) -> CASE WHEN st.pick > 0 THEN st
                          WHEN (st.cum + c.w) * 4294967296 > ut.u * ut.tot
                          THEN named_struct('cum', st.cum + c.w, 'pick', c.l)
                          ELSE named_struct('cum', st.cum + c.w, 'pick', 0)
                          END).pick,
                      'n', acc.n + 1)), 1)), 1)
              END).n"""))
      .select(col("word"), col("cnt"),
        col("n_pieces").cast("long").as("n_pieces"))
  }

  /** SOFT-EM unigram training (Kudo 2018 §3.2's actual E-step): piece
    * counts are lattice-posterior EXPECTATIONS over all segmentations
    * (forward-backward), not Viterbi-path counts — the statistically
    * faithful trainer, where [[emTrain]] is its hard-EM limit. Every
    * transcendental is quantized on computation (see [[withAlpha]]),
    * expected counts accumulate in exact micro-unit BIGINTs, and the
    * M-step renormalizes those with the shared 6 dp rounding — so
    * training replays bit-identically in DuckDB (q118), the most
    * float-hostile trained-model-as-oracle-row in the suite.
    *
    * Scale shape is [[emTrain]]'s: per iteration two map-only DPs over
    * the staged word histogram (forward + reversed-word forward) and a
    * piece-sized exact aggregation; the corpus is touched once for the
    * histogram.
    * @return (piece, pcnt, logp) — pcnt in 1e-6 expected-count units */
  def softEmTrain(words: DataFrame, maxLen: Int, topS: Int,
                  iters: Int): DataFrame =
    em(words, maxLen, topS, iters, (wh, inv) =>
      expectedCounts(wh, inv, maxLen).select(col("piece"), col("pcm").as("pcnt")))

  /** The FULL SentencePiece outer loop (Kudo 2018 §3.2) in its
    * deterministic hard-EM form: alternate EM with LOSS-RANKED pruning
    * of the piece inventory down toward a target vocabulary size.
    *
    * Per outer iteration:
    *  1. E-step — re-segment the word histogram ([[segments]], q115's
    *     DP);
    *  2. M-step — weighted usage counts;
    *  3. prune — rank MULTI-char pieces by attributed log-likelihood
    *     mass, `loss = pcnt × logp` (under Viterbi counts, the
    *     likelihood the corpus loses if the piece's occurrences must
    *     re-segment — the paper's lattice-marginal loss collapses to
    *     this attributed mass in the hard-EM limit; most-negative =
    *     most valuable, ties lexicographic on piece) and KEEP
    *     `max(targetS − |alphabet|, ceil(n_multi × keepFrac))` of them
    *     — the bottom slice re-segments via surviving pieces;
    *  4. renormalize (the shared 6 dp rounding).
    *
    * Single-character pieces are NEVER pruned: they are the coverage
    * guarantee that every word stays segmentable after any multi-char
    * piece disappears. An alphabet piece Viterbi stopped using keeps a
    * floor count of 1 (a Laplace floor confined to the coverage
    * alphabet — without it, ln(0) would eject the piece and an
    * unlucky prune could strand a character with no path at all).
    *
    * Scale shape is [[emTrain]]'s: per iteration one map-only DP over
    * the staged vocabulary + piece-sized aggregations; the loss rank is
    * a TakeOrdered over the (bounded) multi-piece set, never a global
    * sort of anything corpus-sized.
    * @return (piece, pcnt, logp) — the pruned, refined inventory */
  def emTrainPruned(words: DataFrame, maxLen: Int, seedS: Int, targetS: Int,
                    iters: Int, keepFrac: Double = 0.8): DataFrame = {
    // The whole M-step below runs on the DRIVER over bounded lists (the
    // usage counts are ≤ inventory-sized): per iteration the only Spark
    // job is the DP + usage aggregation the collect materializes, where
    // the staged shape paid ~5 (usage stage, nMulti count, two staging
    // checkpoints, the tot broadcast). Driver replication of the exact
    // Spark semantics it replaces:
    //  - length(piece) counts CODE POINTS (UTF8String.numChars), so the
    //    single/multi split uses codePointCount, not String.length;
    //  - orderBy(loss, piece) compares doubles with 0.0 == -0.0 first
    //    (SQLOrderingUtil) and breaks ties on the UTF-8 encoding's
    //    unsigned byte order (UTF8String.binaryCompare), replicated
    //    verbatim — loss itself is the same one IEEE multiply
    //    cast(pcnt as double) * logp;
    //  - the left-join coverage floor is getOrElse(0) under max(_, 1),
    //    the inner loss join is a flatMap over the inventory map.
    def nChars(s: String): Int = s.codePointCount(0, s.length)
    val lossOrd: Ordering[(String, Long, Double)] =
      new Ordering[(String, Long, Double)] {
        def compare(a: (String, Long, Double), b: (String, Long, Double)): Int = {
          val c = if (a._3 == b._3) 0 else java.lang.Double.compare(a._3, b._3)
          if (c != 0) c
          else java.util.Arrays.compareUnsigned(
            a._1.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            b._1.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    em(words, maxLen, seedS, iters, viterbiCounts(_, _, maxLen), (inv, use) => {
      // the inventory frame is a local relation — its collect is jobless
      val invRows: Seq[(String, Double)] = inv.collect().toSeq.map { r =>
        (r.getString(r.fieldIndex("piece")), r.getDouble(r.fieldIndex("logp")))
      }
      val invMap = invRows.toMap
      // the coverage alphabet: the single-char pieces of the SEED
      // inventory (= every character of the corpus). Each iteration keeps
      // exactly those, in the same order, so the current inventory's
      // single-char pieces are the seed's
      val alphabet: Seq[String] = invRows.collect { case (p, _) if nChars(p) == 1 => p }
      val targetMulti = math.max(0L, targetS.toLong - alphabet.size)
      val useMap = use.toMap
      // coverage floor: alphabet pieces survive at max(usage, 1)
      val singles: Seq[(String, Long)] =
        alphabet.map(p => (p, math.max(useMap.getOrElse(p, 0L), 1L)))
      // loss rank over multi-char pieces: pcnt × the CURRENT logp (both
      // 6 dp-deterministic, so the ranking replays bit-identically)
      val multi: Seq[(String, Long, Double)] =
        use.filter(u => nChars(u._1) > 1).flatMap { case (p, c) =>
          invMap.get(p).map(lp => (p, c, c.toDouble * lp))
        }
      val k = math.max(targetMulti, math.ceil(multi.size * keepFrac).toLong)
      multi.sorted(lossOrd).take(k.toInt).map(t => (t._1, t._2)) ++ singles
    })
  }
}
