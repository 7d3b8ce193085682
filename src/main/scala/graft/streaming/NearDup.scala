package graft.streaming
import graft.llm.{MinHash, Shingles}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


/** Streaming near-dup detection: the stream-static realization of q76's
  * incremental-dedup architecture. The corpus band index
  * (`MinHash.bandIndexOf`, persisted as a table) and the corpus token table
  * are the STATIC sides; each micro-batch of arriving documents computes
  * its own MinHash bands map-only and equi-joins them against the index —
  * stateless stream-static joins, so no watermark, no state store, and
  * per-batch cost scales with the batch, never the corpus.
  *
  * The batch index builds signatures by explode + groupBy-min (cheapest
  * at rest), but a streaming stage cannot run a per-doc aggregation just
  * to assemble signatures. Here the signature is a single per-row
  * `aggregate(...)` fold over the shingle array — one md5 per shingle
  * per hash salt, min-slices accumulated in a struct — and the whole
  * band computation stays inside one projected expression so Catalyst
  * cannot inline the fold into multiple consumers and re-evaluate it
  * (the measured CollapseProject re-inlining pitfall). Bit-parity of
  * the two constructions is pinned by NearDupStreamSpec — at the
  * default AND the wide banding.
  */
object NearDup {

  // fold initial: lexicographically above every 8-hex-char slice
  private val top = "zzzzzzzz"

  /** The MinHash-LSH banding of the near-dup tier — a DEPLOYMENT
    * parameter, not a constant (the [[PageRankStream.Banding]]
    * discipline applied to the cluster tier): `numBands` bands of
    * `rowsPerBand` min-hash slices each; a band's bucket is the md5 of
    * its slices, so two docs are candidates iff ALL `rowsPerBand`
    * slices of some band coincide — P(candidate) = 1−(1−s^r)^b for
    * Jaccard s. The default (2 bands × 2 slices) is the q45/q46/q73/q82
    * oracle shape; as the corpus grows and bucket OCCUPANCY saturates
    * (many moderately-similar or short docs sharing a 2-slice bucket —
    * BENCH_SF1's q82 second-decade reading), WIDEN by raising
    * `rowsPerBand` (each bucket needs more coinciding slices →
    * exponentially fewer chance collisions) and `numBands` (restores
    * recall: P(candidate|s=0.5) is 0.44 default, 0.41 wide). The trade
    * is signature compute: slices come in fours from md5 (32 hex chars
    * = 4×8), so [[Banding.numHashes]] salted md5 passes run per shingle
    * — linear in the corpus, while the candidate join it bounds is the
    * term that grows superlinearly at saturation. Residual hotspot no
    * banding fixes: zero-shingle docs all bucket at md5('') in every
    * band — filter empties before folding at scale. */
  final case class Banding(numBands: Int, rowsPerBand: Int) {
    require(numBands >= 1 && rowsPerBand >= 1,
      s"banding needs at least one band of one slice ($numBands × $rowsPerBand)")
    /** min-hash slices in the signature. */
    val numSlices: Int = numBands * rowsPerBand
    /** salted md5 evaluations per shingle — each yields four slices. */
    val numHashes: Int = (numSlices + 3) / 4
    /** The state tag value — both parameters, so a fold under ANY
      * changed setting is refused against existing band state. */
    def tag: String = s"$numBands:$rowsPerBand"
  }

  object Banding {
    /** The oracle constants: 2 bands × 2 slices off one md5 — exactly
      * `MinHash.bandIndexOf`'s shape (q45/q46/q73/q76/q82 are pinned to
      * it), and the default so those rows answer their DuckDB oracles
      * verbatim. */
    val default: Banding = Banding(2, 2)
    /** The documented scale setting: 3 bands × 3 slices — the
      * THRESHOLD-PRESERVING widening. An LSH banding's S-curve midpoint
      * is s* = (1/b)^(1/r) in SHINGLE-Jaccard (the space the bands
      * hash; the token-Jaccard verification is a separate downstream
      * filter): the default's 0.707 becomes 0.693 here, so the pair
      * semantics hold to within the curve's probabilistic edge, while
      * chance-candidate mass — the bucket occupancy that saturates at
      * corpus scale — drops from 2s² to 3s³: 2.2×/3.3×/6.7× fewer junk
      * candidates at shingle-J 0.3/0.2/0.1. Cost: 3 salted md5 passes
      * per shingle (vs 1) and 1.5× band rows, both linear. Measured on
      * the sf0.01 fixture (`graft.tools.BandingProbe`): 25 of the
      * default's 28 verified pairs — the 3 losses sit below BOTH
      * settings' s* and were caught by the 2-slice bands' chance mass;
      * every r=3 width from 3 to 8 bands verifies the same 25, so more
      * bands buy junk, not recall, and 3 is the cheapest. */
    val wide: Banding = Banding(3, 3)
  }

  /** The salted md5 array of one shingle expression: salt 0 is the bare
    * md5 (bit-parity with the batch q45 signature — the oracle shape),
    * salts 1+ prefix an index + unit separator. One definition shared
    * by the fold expression and the batch reference so the two
    * constructions can never drift. */
  private def mdArray(sh: String, b: Banding): String =
    (0 until b.numHashes).map {
      case 0 => s"md5($sh)"
      case i => s"md5(concat('$i', chr(31), $sh))"
    }.mkString("array(", ", ", ")")

  /** One expression: shingles → md5 fold → band structs, each carrying
    * the doc's band-0 bucket (`b0`, the legacy exactly-once column) and
    * `bpre` — the buckets of all LOWER bands — for the general
    * lowest-colliding-band emission filter ([[lowestBandOnly]]).
    * Evaluated once per row (single use, then exploded). The `nullif`
    * on each accumulated slice keeps parity with the batch path for
    * null-text docs: there `min` over an all-null group is null and
    * `concat_ws` skips it (bucket = md5('')), while `least` skips nulls
    * and would leave the fold at its '$top' sentinel — no real slice is
    * ever '$top' (slices are hex), so mapping the sentinel back to null
    * restores the identical bucket. */
  private[streaming] def bandArrayExpr(b: Banding): String = {
    val init = (0 until b.numSlices).map(k => s"'s$k', '$top'").mkString(", ")
    val merge = (0 until b.numSlices).map { k =>
      val hi = k / 4
      val off = (k % 4) * 8 + 1
      s"'s$k', least(a.s$k, substring(h[$hi], $off, 8))"
    }.mkString(", ")
    def bucket(j: Int) = (j * b.rowsPerBand until (j + 1) * b.rowsPerBand)
      .map(k => s"nullif(g.s$k, '$top')")
      .mkString("md5(concat_ws('|', ", ", ", "))")
    val bands = (0 until b.numBands).map { j =>
      val pre = (0 until j).map(bucket).mkString("array(", ", ", ")")
      s"named_struct('band', $j, 'bucket', ${bucket(j)}, 'b0', ${bucket(0)}, " +
        s"'bpre', CAST($pre AS array<string>))"
    }.mkString(", ")
    s"""transform(array(aggregate(
          transform(shingles, sh -> ${mdArray("sh", b)}),
          named_struct($init),
          (a, h) -> named_struct($merge))),
        g -> array($bands))[0]"""
  }

  /** TRUE iff no band BELOW this row's band also collides — the general
    * exactly-once pair-emission rule (each side's `bpre` holds its
    * lower-band buckets; the rows under comparison share a band, so the
    * arrays zip index-aligned). At the default 2-band setting this is
    * literally the batch q46 rule: band 0 passes (empty prefix), band 1
    * passes iff the band-0 buckets differ. */
  private[streaming] def lowestBandOnly(preA: Column, preB: Column): Column =
    !exists(zip_with(preA, preB, (x, y) => x === y), c => c)

  /** Ensure a band frame carries `bpre`: a band store persisted by a
    * pre-banding engine version lacks the column, but the `_banding`
    * state guard proves such state is DEFAULT-banded (2 bands), where
    * the prefix is derivable from the legacy `b0` — empty for band 0,
    * the band-0 bucket for band 1. */
  private[streaming] def withBpre(bands: DataFrame): DataFrame =
    if (bands.columns.contains("bpre")) bands
    else bands.withColumn("bpre",
      when(col("band") === 0, expr("CAST(array() AS array<string>)"))
        .otherwise(array(col("b0"))))

  /** Map-only (doc_id, band, bucket, b0, bpre) for a streaming OR batch
    * doc frame — same band values as `MinHash.bandIndexOf` at the default
    * banding (parity-tested), no aggregation state. */
  def bands(docs: DataFrame, banding: Banding = Banding.default): DataFrame =
    explodeBands(bandsAndToks(docs, banding)).drop("toks")

  /** One-pass (doc_id, bs, toks): the band structs AND the distinct
    * token array off a SINGLE tokenize/shingle evaluation — the staging
    * unit of `ClusterMaintenance.foldBatch`, which needs both artifacts
    * and would otherwise pay the batch tokenization twice (once per
    * staged frame). Consumers explode the compact per-doc form AFTER
    * staging ([[explodeBands]]) — narrow work over checkpointed rows. */
  def bandsAndToks(docs: DataFrame,
                   banding: Banding = Banding.default): DataFrame =
    graft.core.Staging.spread(docs)
      .withColumn("toks", expr(Shingles.toksExpr))
      .withColumn("shingles", expr(Shingles.shingleSparkExpr))
      .select(col("doc_id"), expr(bandArrayExpr(banding)).as("bs"),
        array_distinct(col("toks")).as("toks"))

  /** The exploded (doc_id, band, bucket, b0, bpre, toks) form of
    * [[bandsAndToks]]. */
  def explodeBands(bt: DataFrame): DataFrame =
    bt.select(col("doc_id"), col("toks"), explode(col("bs")).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.bucket").as("bucket"), col("b.b0").as("b0"),
        col("b.bpre").as("bpre"), col("toks"))

  /** The explode + groupBy-min construction of the SAME band index at
    * any banding — `MinHash.bandIndexOf` IS this at [[Banding.default]]
    * (shared with the q45/q46/q73 oracle SQL); this generalization is
    * the batch reference the fold expression is parity-pinned against
    * at the wide setting, and the builder a deployment uses to persist
    * a non-default static index for [[flagAgainstIndex]]. */
  def batchBandIndexOf(docs: DataFrame, banding: Banding): DataFrame = {
    val hashed = graft.core.Staging.spread(docs)
      .withColumn("toks", expr(Shingles.toksExpr))
      .withColumn("shingles", expr(Shingles.shingleSparkExpr))
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), expr(mdArray("sh", banding)).as("h"))
    val sliceAggs = (0 until banding.numSlices).map { k =>
      val hi = k / 4
      val off = (k % 4) * 8 + 1
      min(expr(s"substring(h[$hi], $off, 8)")).as(s"s$k")
    }
    val sig = hashed.groupBy("doc_id").agg(sliceAggs.head, sliceAggs.tail: _*)
    def bucket(j: Int) = md5(concat_ws("|",
      (j * banding.rowsPerBand until (j + 1) * banding.rowsPerBand)
        .map(k => col(s"s$k")): _*))
    sig.select(col("doc_id"), bucket(0).as("b0"),
        explode(array((0 until banding.numBands).map { j =>
          struct(lit(j).as("band"), bucket(j).as("bucket"),
            array((0 until j).map(bucket): _*).cast("array<string>")
              .as("bpre"))
        }: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.bucket").as("bucket"), col("b0"), col("b.bpre").as("bpre"))
  }

  /** Distinct shingle-hash values of a benchmark/eval corpus, collected
    * driver-side for [[decontaminateStream]]. Bounded-scalar by design:
    * eval suites are small (10³–10⁴ shingles), the same category as the
    * engine's 8-row plane read — NOT for arbitrary corpora. Null hashes
    * (null-text benchmark docs) are excluded: the batch gate's equi-join
    * never matches a null key, and `array_intersect` WOULD, so keeping
    * them breaks stream/batch parity. */
  def benchmarkShingleHashes(benchmark: DataFrame): Array[String] =
    Shingles.shingleHashes(benchmark)
      .select("h").filter(col("h").isNotNull).distinct()
      .collect().map(_.getString(0))

  /** Streaming decontamination: drop arriving docs sharing at least
    * `minShared` distinct shingle hashes with the benchmark set — q65's
    * gate applied before data ever lands. Stateless and pass-through:
    * the whole gate is ONE filter predicate over a self-contained
    * expression, so no caller column is shadowed and the stage fuses
    * into the stream's projection (no join, no state, no shuffle).
    *
    * Per-row cost is O(|bench|): `array_intersect` hash-builds from its
    * SECOND argument, so the build is over the doc's own ~|shingles|
    * hashes and the probe walks the benchmark literal. For eval-suite
    * sizes that probe is the same order as the row's own md5 work; a
    * corpus-sized exclusion set belongs in the batch gate's broadcast
    * join (q65) or behind a native set-probe Expression, not here. */
  def decontaminateStream(
      stream: DataFrame,
      benchHashes: Array[String],
      minShared: Int = 2): DataFrame =
    // coalesce: a null-text doc has a NULL shingle array, so the size
    // comparison is NULL and a bare filter would DROP it — but the batch
    // gate (q65) produces no shingle rows for such a doc and keeps it. A
    // doc with no shingles can never be contaminated; keep it.
    stream.filter(coalesce(
      size(array_intersect(
        typedLit(benchHashes.toSeq),
        expr(Shingles.shingleHashArrayExpr))) < minShared,
      lit(true)))

  /** Flag stream docs that are near-dups of the indexed corpus.
    *
    * @param stream     streaming doc frame with `doc_id` and `text`
    * @param index      static band index: output of `MinHash.bandIndexOf`
    *                   (read back from its persisted table), or of
    *                   [[batchBandIndexOf]] when `banding` is not the
    *                   default — index and stream MUST share a banding
    * @param corpusToks static (doc_id, toks) with DISTINCT tokens (the
    *                   q49 token-table shape) for the exact-Jaccard check
    * @return (delta_id, corpus_id, jaccard) — exactly one row per
    *         verified pair (lowest-colliding-band emission, no dedup
    *         state) */
  def flagAgainstIndex(
      stream: DataFrame,
      index: DataFrame,
      corpusToks: DataFrame,
      threshold: Double = 0.5,
      banding: Banding = Banding.default): DataFrame = {
    val withBands = stream
      .withColumn("toks", expr(Shingles.toksExpr))
      .withColumn("shingles", expr(Shingles.shingleSparkExpr))
      .select(col("doc_id").as("delta_id"),
        array_distinct(col("toks")).as("toks_d"),
        expr(bandArrayExpr(banding)).as("bs"))
      .select(col("delta_id"), col("toks_d"), explode(col("bs")).as("b"))
      .select(col("delta_id"), col("toks_d"), col("b.band").as("band"),
        col("b.bucket").as("bucket"), col("b.bpre").as("bpre_d"))
    val scored = withBands
      .join(withBpre(index).select(col("doc_id").as("corpus_id"),
        col("band"), col("bucket"), col("bpre").as("bpre_c")),
        Seq("band", "bucket"))
      .filter(lowestBandOnly(col("bpre_d"), col("bpre_c")))
      .join(corpusToks.select(col("doc_id").as("corpus_id"),
        col("toks").as("toks_c")), Seq("corpus_id"))
    MinHash.jaccardScore(scored, "toks_d", "toks_c", threshold)
      .select(col("delta_id"), col("corpus_id"), col("jaccard"))
  }
}
