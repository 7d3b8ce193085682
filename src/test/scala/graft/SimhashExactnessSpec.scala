package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Staging
import graft.llm.Simhash
import graft.queries.LlmDedup

/** Banded SimHash pair generation == exact Hamming-≤-r all-pairs.
  *
  * q51/q56 verify against the naive all-pairs oracle in CORRECTNESS, but
  * only at the shipped knobs — and the pigeonhole argument behind the
  * banding (r differing bits touch at most r segments, so numSegs > r
  * leaves ≥ 1 intact segment per qualifying pair) is a PROOF about the
  * knobs, not a property the compiler checks. This spec asserts the
  * proof directly at sf0.01: banded output is set-identical to an
  * in-Spark exact all-pairs join, at the shipped parameterizations AND
  * at an alternative segmentation, so a future knob change that breaks
  * the pigeonhole precondition (or leaves signature bits uncovered by
  * the segmentation) fails here instead of at the driver's oracle run.
  */
class SimhashExactnessSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  /** Naive definition: every same-language pair, exact Hamming filter. */
  private def exactPairs(sim: DataFrame, maxHamming: Int): Set[(Any, Any, Any)] = {
    val a = sim.select(col("doc_id").as("doc_a"), col("lang"),
      col("simhash").as("sim_a"))
    val b = sim.select(col("doc_id").as("doc_b"), col("lang"),
      col("simhash").as("sim_b"))
    collectPairs(a.join(b, "lang")
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("CAST(bit_count(sim_a ^ sim_b) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming"))
  }

  private def collectPairs(df: DataFrame): Set[(Any, Any, Any)] =
    df.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet

  private def banded(sim: DataFrame, numSegs: Int, segBits: Int,
                     maxHamming: Int): Set[(Any, Any, Any)] =
    collectPairs(Simhash.simhashBandPairs(sim, numSegs, segBits, maxHamming))

  test("q51 knobs: 32-bit 8x4 banding emits exactly the Hamming<=6 pairs") {
    val sim = Staging.stage(LlmDedup.simhashFrame(spark, dir, 32))
    val exact = exactPairs(sim, 6)
    assert(exact.nonEmpty, "fixture must contain qualifying pairs or the test is vacuous")
    assert(banded(sim, 8, 4, 6) === exact)
  }

  test("q56 knobs: 56-bit 8x7 banding emits exactly the Hamming<=6 pairs") {
    val sim = Staging.stage(LlmDedup.simhashFrame(spark, dir, 56))
    val exact = exactPairs(sim, 6)
    assert(exact.nonEmpty)
    assert(banded(sim, 8, 7, 6) === exact)
  }

  test("exactness is parameterization-independent: 16x2 segmentation of the 32-bit signature") {
    // same signature, different covering segmentation — the guarantee
    // comes from the pigeonhole, not from the shipped 8x4 layout
    val sim = Staging.stage(LlmDedup.simhashFrame(spark, dir, 32))
    assert(banded(sim, 16, 2, 6) === exactPairs(sim, 6))
  }

  test("tighter radius stays exact (r=3 under the q51 segmentation)") {
    val sim = Staging.stage(LlmDedup.simhashFrame(spark, dir, 32))
    assert(banded(sim, 8, 4, 3) === exactPairs(sim, 3))
  }

  test("pigeonhole precondition is enforced: numSegs <= maxHamming throws") {
    val sim = LlmDedup.simhashFrame(spark, dir, 32)
    intercept[IllegalArgumentException] {
      Simhash.simhashBandPairs(sim, 6, 4, 6)
    }
  }
}
