package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{MinHash, Shingles}
import graft.llm.MinHash.Banding

/** Streaming near-dup detection: the stream-static realization of q76's
  * incremental-dedup architecture. The corpus band index
  * (`MinHash.bandIndexOf`, persisted as a table) and the corpus token table
  * are the STATIC sides; each micro-batch of arriving documents computes
  * its own MinHash bands map-only and equi-joins them against the index —
  * stateless stream-static joins, so no watermark, no state store, and
  * per-batch cost scales with the batch, never the corpus.
  *
  * The batch index (`MinHash.bandIndexOf`) builds signatures by
  * explode + groupBy-min (cheapest at rest), but a streaming stage
  * cannot run a per-doc aggregation just to assemble signatures. Here
  * the signature is a single per-row `aggregate(...)` fold over the
  * shingle array — one md5 per shingle per hash salt, min-slices
  * accumulated in a struct — and the whole band computation stays
  * inside one projected expression so Catalyst cannot inline the fold
  * into multiple consumers and re-evaluate it (the measured
  * CollapseProject re-inlining pitfall). The fold takes its md5, slice
  * and bucket definitions from `MinHash`, and its exactly-once rule is
  * `MinHash.lowestBandOnly`; bit-parity of the two constructions is
  * pinned by NearDupStreamSpec — at the default AND the wide banding.
  */
object NearDup {

  // fold initial: lexicographically above every 8-hex-char slice
  private val top = "zzzzzzzz"

  /** One expression: shingles → md5 fold → band structs, each carrying
    * `bpre` — the buckets of all LOWER bands — for the
    * lowest-colliding-band emission filter (`MinHash.lowestBandOnly`).
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
      s"'s$k', least(a.s$k, ${MinHash.sliceOf(k, i => s"h[$i]")})"
    }.mkString(", ")
    def bucket(j: Int) = MinHash.bucketOf(b, j, k => s"nullif(g.s$k, '$top')")
    val bands = (0 until b.numBands).map { j =>
      val pre = (0 until j).map(bucket).mkString("array(", ", ", ")")
      s"named_struct('band', $j, 'bucket', ${bucket(j)}, " +
        s"'bpre', CAST($pre AS array<string>))"
    }.mkString(", ")
    s"""transform(array(aggregate(
          transform(shingles, sh -> ${MinHash.mdArray("sh", b)}),
          named_struct($init),
          (a, h) -> named_struct($merge))),
        g -> array($bands))[0]"""
  }

  /** Map-only (doc_id, band, bucket, bpre) for a streaming OR batch
    * doc frame — the same rows as `MinHash.bandIndexOf` at any banding
    * (parity-tested), no aggregation state. */
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
    bandStructs(graft.core.Staging.spread(docs), banding)

  /** [[bandsAndToks]] without the input fan-out — the form a streaming
    * frame takes ([[flagAgainstIndex]]). */
  private def bandStructs(docs: DataFrame, banding: Banding): DataFrame =
    docs
      .withColumn("toks", expr(Shingles.toksExpr))
      .withColumn("shingles", expr(Shingles.shingleSparkExpr))
      .select(col("doc_id"), expr(bandArrayExpr(banding)).as("bs"),
        array_distinct(col("toks")).as("toks"))

  /** The exploded (doc_id, band, bucket, bpre, toks) form of
    * [[bandsAndToks]]. */
  def explodeBands(bt: DataFrame): DataFrame =
    bt.select(col("doc_id"), col("toks"), explode(col("bs")).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.bucket").as("bucket"), col("b.bpre").as("bpre"),
        col("toks"))

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
    *                   (read back from its persisted table) — index and
    *                   stream MUST share a banding
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
    val scored = MinHash.deltaPairsOf(
        explodeBands(bandStructs(stream, banding)), index, Seq("toks"))
      .join(corpusToks.select(col("doc_id").as("corpus_id"),
        col("toks").as("toks_c")), Seq("corpus_id"))
    MinHash.jaccardScore(scored, "toks", "toks_c", threshold)
      .select(col("delta_id"), col("corpus_id"), col("jaccard"))
  }
}
