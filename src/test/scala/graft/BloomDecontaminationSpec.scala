package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{BloomDecontam, Shingles}

/** Bloom-filter decontamination
  * (`BloomDecontam.bloomDecontaminationKept`) — the
  * fixed-memory scale path behind exact q65.
  *
  * Properties pinned:
  *  - one-sided error: the bloom gate NEVER keeps a doc the exact gate
  *    drops, at any fpp (a Bloom filter has no false negatives);
  *  - at the default tight fpp it matches the exact gate on the fixture
  *    (the build is seed-fixed, so this is deterministic);
  *  - the gate is one map-only filter: no join, no exchange of the
  *    corpus side (the whole point vs the broadcast join);
  *  - no-shingle (null-text) docs are kept, matching q65's semantics
  *    where a doc with no shingle rows can never reach the threshold.
  */
class BloomDecontaminationSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private def fixtureAt(dir: String) = {
    val docs = Tables.load(spark, dir, "documents")
    (docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10))
  }

  private def fixture = fixtureAt(sf)

  private def exactKeptAt(dir: String): Set[Long] = {
    val (corpus, _) = fixtureAt(dir)
    val flagged = SparkEntry.queries("q65_decontaminate")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    corpus.select("doc_id").collect().map(_.getLong(0)).toSet -- flagged
  }

  private def exactKept: Set[Long] = exactKeptAt(sf)

  test("one-sided error: bloom-kept is a subset of exact-kept even at loose fpp") {
    val (corpus, bench) = fixture
    val kept = BloomDecontam.bloomDecontaminationKept(corpus, bench, fpp = 0.05)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = exactKept
    assert(exact.nonEmpty && exact.size < corpus.count(),
      "fixture must have both kept and dropped docs")
    assert((kept -- exact).isEmpty,
      s"bloom gate kept docs the exact gate drops: ${(kept -- exact).take(5)}")
  }

  test("at a tight fpp the bloom gate matches exact q65 on the fixture") {
    // at the default fpp=1e-3 a doc with exactly minShared-1 REAL shared
    // shingles is one false-positive probe away from the threshold, so
    // exact equality is only sound when false positives are genuinely
    // improbable. A single spark-sketch filter CANNOT deliver that —
    // its realized fpp floors at ~5e-5 regardless of the request (the
    // 32-bit double-hashing probe sequence collides pairwise at small
    // bit sizes) — so below the floor the gate ANDs two filters over
    // independently-salted keys; the build is seed-fixed, so this is
    // deterministic, not flaky
    val (corpus, bench) = fixture
    val kept = BloomDecontam.bloomDecontaminationKept(corpus, bench, fpp = 1e-8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === exactKept)
  }

  test("sf0.1 regression: tight-fpp parity survives 17x the probe volume (both tiers)") {
    // the single-filter gate PASSED this suite at sf0.01 and silently
    // over-dropped 13 threshold-boundary docs at sf0.1 (~3.5e5 probes x
    // the ~5e-5 spark-sketch floor); the double-filter probe must hold
    // exact-gate parity at the larger fixture, where the floor's false
    // positives are no longer a rounding error
    val big = "/root/testdata/sf0.1"
    val (corpus, bench) = fixtureAt(big)
    val exact = exactKeptAt(big)
    val keptLit = BloomDecontam.bloomDecontaminationKept(corpus, bench, fpp = 1e-8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptLit === exact, "literal tier must match exact q65 at sf0.1")
    val keptLarge = BloomDecontam.bloomDecontaminationKeptLarge(corpus, bench, fpp = 1e-8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptLarge === exact, "subquery tier must match exact q65 at sf0.1")
  }

  test("over-dropped docs at default fpp each sit at the threshold boundary") {
    // a doc with ZERO truly-shared shingles needs >= minShared
    // simultaneous false positives (P ~ (n_shingles*fpp)^minShared) —
    // every doc the bloom gate over-drops must have >= 1 real shared
    // shingle, i.e. the error concentrates on threshold-boundary docs
    val (corpus, bench) = fixture
    val kept = BloomDecontam.bloomDecontaminationKept(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val overDropped = exactKept -- kept
    if (overDropped.nonEmpty) {
      val sh = Shingles.shingleHashes(Tables.load(spark, sf, "documents"))
      val benchH = sh.filter(col("doc_id") < 10).select("h").distinct()
      val realShared = sh.filter(col("doc_id").isin(overDropped.toSeq: _*))
        .join(benchH, Seq("h"))
        .groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      overDropped.foreach { id =>
        assert(realShared.getOrElse(id, 0L) >= 1L,
          s"doc $id was over-dropped with zero truly-shared shingles")
      }
    }
  }

  test("the gate is map-only: no join and no exchange in the plan") {
    val (corpus, bench) = fixture
    val plan = BloomDecontam.bloomDecontaminationKept(corpus, bench)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"gate must not join:\n$plan")
    assert(!plan.contains("Exchange"), s"gate must not shuffle:\n$plan")
  }

  test("large-set variant: subquery-built filter matches exact q65 at tight fpp") {
    // the filter is built by the distributed bloom_filter_agg and
    // reaches the probe as a scalar subquery — same one-sided error
    // model as the literal variant, so the same equality bar applies
    val (corpus, bench) = fixture
    val kept = BloomDecontam.bloomDecontaminationKeptLarge(corpus, bench, fpp = 1e-8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === exactKept)
  }

  test("large-set variant: bloom-kept is a subset of exact-kept at loose fpp") {
    val (corpus, bench) = fixture
    val kept = BloomDecontam.bloomDecontaminationKeptLarge(corpus, bench, fpp = 0.05)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((kept -- exactKept).isEmpty)
  }

  test("large-set variant: the filter reaches the probe as a scalar subquery") {
    // the literal variant embeds the serialized filter as a folded
    // binary constant; the subquery variant must instead carry a
    // scalar-subquery reference to the distributed bloom_filter_agg
    // build — the plan shape that scales past plan-constant sizes
    val (corpus, bench) = fixture
    val plan = BloomDecontam.bloomDecontaminationKeptLarge(corpus, bench)
      .queryExecution.analyzed.toString
    assert(plan.contains("scalar-subquery") || plan.contains("Subquery"),
      s"expected a scalar subquery in:\n${plan.take(2000)}")
    assert(plan.contains("bloom_filter_agg") || plan.contains("bloomfilteraggregate") ||
      plan.toLowerCase.contains("bloomfilter"),
      s"expected the distributed filter build in:\n${plan.take(2000)}")
    assert(!plan.contains("unbase64"),
      "the subquery variant must not fold a serialized filter constant")
  }

  test("large-set variant: tightened runtime-bloom clamps are raised, not obeyed") {
    // BloomFilterAggregate Math.min-clamps requested numItems/numBits to
    // the session's runtime.bloomFilter maxima with no warning. A
    // saturated filter (<1 bit/item) false-positives on nearly every
    // probe and the gate silently drops the clean corpus — so the gate
    // must raise the maxima to its computed sizes before executing.
    // Simulate the production regime by tightening the confs below the
    // fixture's needs and assert exact-gate parity still holds.
    val itemsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (oldItems, oldBits) = (spark.conf.get(itemsConf), spark.conf.get(bitsConf))
    try {
      spark.conf.set(itemsConf, "16")
      spark.conf.set(bitsConf, "64")
      val (corpus, bench) = fixture
      val kept = BloomDecontam.bloomDecontaminationKeptLarge(corpus, bench, fpp = 1e-8)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept === exactKept,
        "clamped filter saturated — the gate must raise the bloom maxima")
      assert(spark.conf.get(itemsConf).toLong > 16L, "maxNumItems was not raised")
      assert(spark.conf.get(bitsConf).toLong > 64L, "maxNumBits was not raised")
    } finally {
      spark.conf.set(itemsConf, oldItems)
      spark.conf.set(bitsConf, oldBits)
    }
  }

  test("large-set variant: a null-text doc is kept (no shingle rows to flag)") {
    import spark.implicits._
    val (_, bench) = fixture
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, "spark rows fast table"))
      .toDF("doc_id", "text")
    val kept = BloomDecontam.bloomDecontaminationKeptLarge(docs, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L))
  }

  test("a doc with no shingles (null text) is kept") {
    import spark.implicits._
    val (_, bench) = fixture
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, "spark rows fast table"))
      .toDF("doc_id", "text")
    val kept = BloomDecontam.bloomDecontaminationKept(docs, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L), "null-text doc can never be contaminated")
    assert(kept.contains(2L))
  }
}
