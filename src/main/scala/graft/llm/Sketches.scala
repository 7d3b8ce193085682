package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Mergeable sketch summaries — the cardinality / frequency answers that
  * stay bounded when the data doesn't (Flajolet et al. 2007 HyperLogLog;
  * Beyer et al. 2007 K-minimum-values; Cormode & Muthukrishnan 2005
  * count-min). At 100 TB "how many distinct tokens per source" and
  * "which tokens are heavy" cannot afford an exact distinct/top-k over
  * the corpus on every question: the sketch pass is one map-side-
  * combinable aggregation into a FIXED-size summary (k hashes, m
  * registers, d×w counters) per group, the summaries merge
  * associatively across partitions/days/shards, and every estimate is
  * computed from the summary alone. The oracle rows (q120–q123) verify
  * the ENGINE's sketch construction bit-for-bit: every hash is the md5
  * digit-fold (the q110 discipline — each arithmetic step exact, so
  * both engines agree on every register / bucket / rank), estimator
  * arithmetic keeps integer sums exact (powers of two summed as
  * BIGINT, one final division) and rounds only at emission.
  *
  * The three summaries answer different failure modes:
  *  - KMV: distinct counts AND set algebra — the k smallest hashes of
  *    A∪B are computable from the two k-hash sketches alone, so
  *    cross-source overlap/Jaccard never re-reads either source;
  *  - HLL: distinct counts in one 5-bit register max per slot — the
  *    smallest summary, register-wise max merge;
  *  - CMS: point frequency estimates with ONE-SIDED error (never
  *    underestimates), so a "is this token heavy" gate has no false
  *    negatives.
  */
object Sketches {

  /** 32-bit hash as a BIGINT in [0, 2^32): integer fold of the first 8
    * hex digits of an md5 column named `hexCol` (callers `withColumn` a
    * salted md5 first). Every step is exact integer arithmetic — the
    * property the sketch family's cross-engine determinism rests on.
    * DuckDB replays the same fold via strpos/list_sum (q110's idiom). */
  def hexFold32(hexCol: String): Column =
    expr(s"""aggregate(sequence(1, 8), CAST(0 AS BIGINT),
      (a, i) -> a * 16 + (instr('0123456789abcdef',
                           substring($hexCol, i, 1)) - 1))""")

  /** KMV estimate of a set's cardinality from the k-th smallest of n
    * 32-bit hashes: (k-1)/u_k with u_k the k-th order statistic mapped
    * to (0,1) by the +0.5 midpoint. When the set has fewer than k
    * hashes the sketch IS the set — the exact count is the estimate.
    * Exact-integer inputs, one division: bit-identical cross-engine. */
  def kmvEstimate(kthHash: Column, nHashes: Column, k: Int): Column =
    round(
      when(kthHash.isNull, nHashes.cast("double"))
        .otherwise(lit((k - 1).toDouble) /
          ((kthHash + lit(0.5)) / lit(4294967296.0))), 4)

  /** HLL register index (high `p` bits) and rank (leading-zero count in
    * the remaining low bits, +1; all-zeros → lowBits+1). The rank comes
    * from the BINARY-string length of the low field — integer-exact, no
    * log2 boundary risk. */
  def hllRegister(h: Column, p: Int): Column =
    floor(h / lit(1L << (32 - p))).cast("int")

  def hllRho(h: Column, p: Int): Column = {
    val lowBits = 32 - p
    val w = h % lit(1L << lowBits)
    when(w === 0, lit(lowBits + 1))
      .otherwise(lit(lowBits + 1) - length(bin(w)))
      .cast("int")
  }

  /** The HLL estimate from per-register ranks aggregated as EXACT
    * integers: callers sum 2^(lowBits+1-rho) as BIGINT (every term a
    * power of two — order-free), pass that and the empty-register
    * count; the harmonic mean and the small-range linear-counting
    * correction (Flajolet et al. §4) happen here in arithmetic both
    * engines reproduce bit-for-bit (exact inputs, one branch, one
    * division; ln only in the linear branch, rounded at emission). */
  def hllEstimate(sumPow: Column, emptyRegs: Column, p: Int): Column = {
    val m = 1 << p
    val lowBits = 32 - p
    val scale = math.pow(2.0, lowBits + 1).toLong // exact power of two
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val denom = sumPow.cast("double") / lit(scale.toDouble) +
      emptyRegs.cast("double")
    val raw = alpha * lit(m.toDouble * m.toDouble) / denom
    val linear = lit(m.toDouble) * log(lit(m.toDouble) / emptyRegs)
    round(when(raw <= lit(2.5 * m) && emptyRegs > 0, linear).otherwise(raw), 4)
  }

  // shared with streaming/SketchStream — the streamed state and these
  // oracle-generating constants must agree or the driver gate diverges
  private[graft] val kmvK = 256
  private[graft] val hllP = 9 // 512 registers
  private[graft] val cmsD = 4
  private[graft] val cmsW = 8192
}
