package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece tokenizer training and encoding (Schuster & Nakajima 2012;
  * the BERT tokenizer, Devlin et al. 2019 §4) — the THIRD tokenizer
  * family next to [[Bpe]] (frequency-greedy merges) and [[Unigram]]
  * (likelihood-pruned inventory). WordPiece shares BPE's merge LOOP but
  * scores candidates by the likelihood GAIN of the merge under a
  * unigram LM over the current symbols: score(x,y) =
  * count(xy) / (count(x) · count(y)) — merging the pair whose joint
  * occurrence is most surprising given its parts, not merely the most
  * frequent one. Word-internal continuation symbols carry the `##`
  * marker (the first symbol of a word is plain), and the merged unit
  * concatenates the left symbol with the right one's marker stripped —
  * so a unit's marker records only whether it starts a word.
  *
  * Determinism (the oracle-row discipline): scores stay comparable
  * bit-for-bit cross-engine because each is a SINGLE IEEE division of
  * exact integers (pair and unit counts are BIGINTs; the product
  * count(x)·count(y) stays far below 2^53 at any per-corpus histogram
  * this engine materializes, so numerator and denominator are both
  * exact doubles) — no sums of rounded terms, no transcendental. Ties
  * break lexicographic on (x, y), as in [[Bpe]].
  *
  * Training runs through [[Bpe]]'s shared merge loops — the driver
  * loop below the histogram gate, the recount loop above it — and this
  * object supplies only what differs: the `##` spelling (the initial
  * split's marker and the marker-stripping join) and the likelihood-gain
  * pick ([[bestPairOf]], and its driver form). So the scale shape is
  * BPE's: per-merge cost is VOCABULARY-sized (positions of the word
  * histogram, Heaps' law), the best pair is TakeOrdered(1) over the
  * pair histogram joined with the two unit counts, and the rewrite is
  * [[Bpe.applyMerge]]'s windowed greedy-scan equivalence (overlap only
  * on same-symbol runs — the `##` markers never change that argument,
  * they only change the merged symbol's spelling). The encode path is
  * map-only: the learned unit inventory rides a broadcast map literal
  * and the greedy longest-match-first walk (max-munch, [UNK] on a stuck
  * position) is an in-row `aggregate` lambda, the [[Unigram]] DP's
  * cheaper cousin.
  */
object Wordpiece {

  /** WordPiece's part of the shared merge loops: `##`-marked symbols,
    * and the likelihood-gain pick reporting the pair's unit counts. Its
    * driver form sums unit counts exactly over EVERY position (word-final
    * symbols included), takes the same single IEEE division pair_count /
    * (left_count · right_count) of the same exact integers (the product
    * overflows loudly, as under ANSI), and compares doubles with
    * 0.0 == -0.0 (SQLOrderingUtil) before the UTF-8 binary (x, y) break. */
  private val LikelihoodGain = Bpe.Scheme("##", Seq("left_count", "right_count"),
    (vocab, pairs) => {
      val units = new scala.collection.mutable.HashMap[String, Long]()
      vocab.foreach { case (_, cnt, syms) =>
        syms.foreach(s => units.update(s, units.getOrElse(s, 0L) + cnt))
      }
      Bpe.argmaxPair(pairs) { case ((x, y), pc) =>
        pc.toDouble / Math.multiplyExact(units(x), units(y)).toDouble
      } { (a, b) => if (a == b) 0 else java.lang.Double.compare(a, b) }
        .map { case ((x, y), pc) => Bpe.Merge(x, y, pc, Seq(units(x), units(y))) }
    },
    bestPairOf)

  /** Highest-likelihood-gain pair of a positions table: the pair
    * histogram joined with the per-unit occurrence counts, cut by
    * TakeOrdered(1) on (score desc, x, y). The unit counts come from
    * the SAME positions frame (every occurrence, including word-final
    * symbols the pair histogram's `ns IS NOT NULL` filter drops). The
    * score is projected so it is evaluated for the returned row even
    * when there is only one candidate, where the cut compares nothing —
    * a unit-count product past Long.MaxValue then fails under ANSI.
    * @return 1 row: (x, y, pair_count, left_count, right_count, score) */
  private[graft] def bestPairOf(pos: DataFrame): DataFrame = {
    val units = pos.groupBy(col("s").as("sym")).agg(sum("cnt").as("scnt"))
    Bpe.pairCountsOf(pos)
      .join(units.select(col("sym").as("x"), col("scnt").as("left_count")), Seq("x"))
      .join(units.select(col("sym").as("y"), col("scnt").as("right_count")), Seq("y"))
      .withColumn("score", col("pair_count") / (col("left_count") * col("right_count")))
      .orderBy(col("score").desc, col("x"), col("y"))
      .limit(1)
      .select("x", "y", "pair_count", "left_count", "right_count", "score")
  }

  /** Learn `steps` WordPiece merges from a (word, cnt) histogram through
    * the shared gated loops ([[Bpe.trainGated]]).
    * @return (merges: (step, x, y, pair_count, left_count, right_count),
    *         vocab: (word, cnt, syms) after all merges) */
  def train(words: DataFrame, steps: Int): (DataFrame, DataFrame) =
    Bpe.trainGated(words, steps, LikelihoodGain)

  /** The distributed recount loop under WordPiece's scheme — [[train]]'s
    * path above the gate. */
  private[graft] def trainDistributed(words: DataFrame, steps: Int)
      : (DataFrame, DataFrame) =
    Bpe.trainRecount(words, steps, LikelihoodGain)

  /** Greedy longest-match-first (max-munch) WordPiece encode of a
    * (word, cnt) histogram against a learned unit inventory: at each
    * position take the LONGEST unit matching (plain form at the word
    * start, `##`-form after), emit it, advance; a position with no
    * matching unit makes the whole word [UNK] (the BERT rule). Map-only:
    * the inventory is a broadcast map literal, the walk an in-row
    * `aggregate` (≤ word-length iterations, each a bounded probe of the
    * candidate lengths).
    * @param units single-column (`piece`) inventory frame
    * @return (word, cnt, n_pieces, is_unk) — n_pieces = 0 when is_unk */
  def encode(words: DataFrame, units: DataFrame, maxPieceLen: Int): DataFrame = {
    val vm = units.agg(map_from_entries(
      collect_list(struct(col("piece"), lit(1)))).as("vm"))
    // the longest matching length is bound ONCE per step via the
    // single-element transform (the kGramSparkExpr bind-once idiom —
    // a lambda variable is an O(1) reference, immune to Catalyst
    // re-inlining the whole probe per consumer)
    words.crossJoin(broadcast(vm))
      .withColumn("walk", expr(
        s"""aggregate(sequence(1, length(word)),
              named_struct('pos', 1, 'n', 0, 'unk', false),
              (acc, it) -> CASE
                WHEN acc.unk OR acc.pos > length(word) THEN acc
                ELSE element_at(transform(array(
                    array_max(filter(
                      transform(sequence(1, least($maxPieceLen,
                                                  length(word) - acc.pos + 1)),
                        l -> CASE WHEN try_element_at(vm,
                            CASE WHEN acc.pos = 1
                                 THEN substring(word, acc.pos, l)
                                 ELSE concat('##', substring(word, acc.pos, l))
                            END) IS NOT NULL THEN l END),
                      z -> z IS NOT NULL))),
                  pk -> CASE
                    WHEN pk IS NULL
                    THEN named_struct('pos', acc.pos, 'n', 0, 'unk', true)
                    ELSE named_struct('pos', acc.pos + pk,
                      'n', acc.n + 1, 'unk', false) END), 1)
                END)"""))
      .select(col("word"), col("cnt"),
        when(col("walk.unk"), lit(0)).otherwise(col("walk.n"))
          .cast("long").as("n_pieces"),
        col("walk.unk").as("is_unk"))
  }
}
