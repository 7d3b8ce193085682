package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Shingles.{shingleHashArrayExpr, shingleHashes}

/** Bloom-filter decontamination gates: the two scale tiers of the
  * shingle-overlap benchmark gate (filter as a plan constant, or built
  * by a distributed aggregate and probed through a scalar subquery). */
object BloomDecontam {

  /** Bloom-filter decontamination — the scale path when the exclusion
    * set outgrows q65's broadcast. q65 hash-joins the corpus's shingles
    * against a broadcast benchmark set, which is right while the
    * benchmark is an eval suite (10³–10⁴ shingles) but wrong once the
    * exclusion set outgrows it (held-out training splits, licensed-
    * content blocklists — the broadcast would be GBs of strings). The
    * trade: a Bloom filter over xxhash64'd shingle hashes (~1.2 bytes
    * per excluded item at 1% fpp) probed per corpus shingle by Spark's
    * own codegen'd `BloomFilterMightContain`
    * ([[graft.plans.BloomProbe]]) — the whole gate is ONE map-only
    * filter over the corpus scan: no join, no shuffle, no broadcast of
    * the exclusion strings. The serialized filter rides the plan as a
    * folded binary constant, which is the right shape up to ~10⁷
    * excluded items (tens of MB of plan constant); past that use
    * [[bloomDecontaminationKeptLarge]], whose filter never enters the
    * plan text at all.
    *
    * Error is one-sided: a doc the exact gate drops is ALWAYS dropped
    * here too (a Bloom filter has no false negatives, so every truly
    * shared shingle probes true), while a clean doc is over-dropped only
    * if ≥ `minShared` of its shingles false-positive independently.
    * The textbook bound P ≲ C(n_shingles, minShared) · fpp^minShared
    * does NOT hold below ~1e-4, because spark-sketch's realized fpp has
    * a STRUCTURAL FLOOR the requested fpp cannot buy through: its
    * Kirsch-Mitzenmacher probe sequence (h1 + i·h2 over two 32-bit
    * Murmur3 halves) collides pairwise at small bit-array sizes —
    * measured 5·10⁻⁵ at n=800 for a requested 1e-8, flipping
    * threshold-boundary docs (exactly minShared-1 real shared shingles)
    * at corpus scale. So for `fpp` below [[SketchFloorFpp]] the gate
    * builds TWO filters over independently-salted keys
    * (`xxhash64(h)` and `xxhash64(h, 1)`) and requires BOTH to hit:
    * the errors multiply across the independent hash spaces (measured 0
    * in 5·10⁶ probes at every tested size), at 2× the filter bytes and
    * one extra codegen'd probe per shingle. The filters are built
    * DISTRIBUTED (partial filters OR-merged on the driver by
    * `stat.bloomFilter`) in one pass each over the benchmark; both
    * build and probe go through the same spark-sketch implementation so
    * putLong/mightContainLong agree bit-for-bit.
    *
    * @return the docs KEPT (complement of the dropped set), like the
    *         streaming gate — the corpus pipeline's consumption shape */
  def bloomDecontaminationKept(docs: DataFrame, benchmark: DataFrame,
                               minShared: Int = 2,
                               fpp: Double = 0.001): DataFrame = {
    val spark = docs.sparkSession
    graft.plans.BloomProbe.register(spark)
    val hs = shingleHashes(benchmark).filter(col("h").isNotNull)
      .select("h").distinct()
    val expected = math.max(1L, hs.count())
    // each serialized filter rides the plan as ONE folded binary
    // constant (unbase64 of a literal), evaluated zero times per row
    def filterCol(key: Column): Column = {
      val bf = hs.select(key.as("hl")).stat.bloomFilter("hl", expected, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      unbase64(lit(java.util.Base64.getEncoder.encodeToString(bos.toByteArray)))
    }
    val bf1 = filterCol(xxhash64(col("h")))
    val probe: Column => Column =
      if (fpp < SketchFloorFpp) {
        val bf2 = filterCol(xxhash64(col("h"), lit(1)))
        h => call_function("bloom_might_contain", bf1, xxhash64(h)) &&
          call_function("bloom_might_contain", bf2, xxhash64(h, lit(1)))
      } else h => call_function("bloom_might_contain", bf1, xxhash64(h))
    // count the doc's DISTINCT shingles that might be excluded (same
    // distinct-shingle semantics as q65); a doc with no shingles (null
    // text) cannot be contaminated — coalesce keeps it
    val shared = size(filter(expr(shingleHashArrayExpr), probe))
    docs.filter(coalesce(shared < minShared, lit(true)))
  }

  /** Requested-fpp threshold below which one spark-sketch filter cannot
    * deliver (the 32-bit double-hashing floor, see
    * [[bloomDecontaminationKept]]); both gates switch to the
    * AND-of-two-salted-filters probe under it. */
  private val SketchFloorFpp = 1e-4

  /** [[bloomDecontaminationKept]] for exclusion sets too large to ride
    * the plan as a constant (10⁸+ shingles): the filter is built by the
    * DISTRIBUTED `bloom_filter_agg` (per-partition partial filters
    * OR-merged upward) and reaches the probe as an uncorrelated scalar
    * subquery — exactly the mechanism Spark's own runtime join-filter
    * rewrite uses at this scale, evaluated once per query, never
    * embedded in the plan text and never round-tripped through a
    * `collect`. Spark rejects subqueries inside higher-order-function
    * lambdas, so the probe runs at exploded (doc_id, shingle) rows:
    * one linear map-side explode, the probe filter drops all but true
    * hits + fpp noise, the per-doc count aggregates map-side, and the
    * flagged-doc list anti-joins back (small side — flagged docs).
    * Same one-sided error as the literal variant — including the
    * AND-of-two-salted-filters probe below [[SketchFloorFpp]], where a
    * single spark-sketch filter cannot realize the requested fpp; fpp
    * also bounds the shuffled probe-survivor volume at corpus scale.
    * Spark's
    * `BloomFilterAggregate` silently `Math.min`-clamps the requested
    * numItems/numBits to the session's
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`/`maxNumBits`
    * (4M / 67M by default) — at the exclusion-set scale this tier
    * exists for, a clamped filter saturates (<1 bit per item), nearly
    * every doc accrues ≥ `minShared` false positives, and the gate
    * would silently drop most of the CLEAN corpus. So the maxima are
    * raised (upward only, session-scoped) to the sizes the fpp math
    * computed, BEFORE the lazily-evaluated aggregate can read them. */
  def bloomDecontaminationKeptLarge(docs: DataFrame, benchmark: DataFrame,
                                    minShared: Int = 2,
                                    fpp: Double = 0.001): DataFrame = {
    val spark = docs.sparkSession
    graft.plans.BloomProbe.register(spark)
    val hl = shingleHashes(benchmark).filter(col("h").isNotNull)
      .select("h").distinct()
      .select(xxhash64(col("h")).as("hl"), xxhash64(col("h"), lit(1)).as("hl2"))
    val n = math.max(1L, hl.count())
    val numBits = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // the clamp is applied inside BloomFilterAggregate via SQLConf.get
    // at execution time, so the raised values must outlive this call
    // (the returned frame is lazy) — upward-only, never tightened
    val itemsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    if (spark.conf.get(itemsConf).toLong < n) spark.conf.set(itemsConf, n.toString)
    if (spark.conf.get(bitsConf).toLong < numBits)
      spark.conf.set(bitsConf, numBits.toString)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val benchView = s"graft_bloom_bench_$tag"
    val shView = s"graft_bloom_sh_$tag"
    hl.createOrReplaceTempView(benchView)
    shingleHashes(docs).filter(col("h").isNotNull)
      .createOrReplaceTempView(shView)
    // below the spark-sketch floor one filter cannot deliver the
    // requested fpp (see bloomDecontaminationKept) — AND a second
    // subquery-built filter over the salted key; the two aggregate
    // builds share the benchmark scan plan, and the probes stay inside
    // the same codegen'd filter stage
    val probe =
      if (fpp < SketchFloorFpp)
        s"""bloom_might_contain(
              (SELECT bloom_filter_agg(hl, CAST($n AS BIGINT), CAST($numBits AS BIGINT))
               FROM $benchView),
              xxhash64(h))
            AND bloom_might_contain(
              (SELECT bloom_filter_agg(hl2, CAST($n AS BIGINT), CAST($numBits AS BIGINT))
               FROM $benchView),
              xxhash64(h, 1))"""
      else
        s"""bloom_might_contain(
              (SELECT bloom_filter_agg(hl, CAST($n AS BIGINT), CAST($numBits AS BIGINT))
               FROM $benchView),
              xxhash64(h))"""
    // temp views are inlined into the plan at analysis time, so they
    // can be dropped as soon as the frame is built
    val flagged = spark.sql(
      s"""SELECT doc_id FROM $shView
          WHERE $probe
          GROUP BY doc_id
          HAVING count(*) >= $minShared""")
    spark.catalog.dropTempView(benchView)
    spark.catalog.dropTempView(shView)
    // a doc with no shingle rows (null text) never reaches `flagged`
    // and is kept by the anti-join — q65 parity without a coalesce
    docs.join(flagged, Seq("doc_id"), "left_anti")
  }
}
