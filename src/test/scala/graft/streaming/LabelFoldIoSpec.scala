package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.JobTrace

/** The member lookup's READ-IO claim: with the comp-bucketed projection,
  * a delta label fold reads only the id- and comp-buckets its delta
  * touches — labeling growth OUTSIDE those buckets costs the fold
  * nothing. (The round-11 design read the FULL label table per fold for
  * the member pass; its shuffle was flat but its input bytes were
  * ∝ labeling.) Fixture: every id the probe touches hashes to ONE
  * bucket, and the 8× growth is built from ids/comps hashing to OTHER
  * buckets — so a pruned fold's bytes stay ~flat while a full-scan fold
  * would read ~8×. Within-bucket growth is further pruned at row-group
  * granularity at real scale: the projection's files are sorted by comp
  * and small key sets ride into the scan as a pushed IN filter. */
class LabelFoldIoSpec extends SparkSpec {

  /** Sum of task input bytes/records across all tasks of `body`. */
  private def measureInput(body: => Unit): (Long, Long) = {
    val t = JobTrace.measure(spark)(body)._2.totals
    (t.inputBytes, t.inputRecords)
  }

  test("delta fold input bytes ignore labeling growth outside the touched buckets") {
    import spark.implicits._
    // partition the id space by the state layout's own hash: bucket(id)
    // == B is the "probe zone", everything the measured fold touches;
    // growth ids come from other buckets
    val ids = spark.range(0, 60000)
      .select(col("id"), pmod(xxhash64(col("id")), lit(32)).cast("int").as("b"))
    val zone = ids.filter(col("b") === 7).limit(300)
      .collect().map(_.getLong(0)).sorted.toIndexedSeq
    val other = ids.filter(col("b") =!= 7).limit(1400)
      .collect().map(_.getLong(0)).sorted.toIndexedSeq
    assert(zone.length >= 206 && other.length === 1400)

    def pairsOf(xs: Seq[Long]): DataFrame =
      xs.grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq.toDF("src", "dst")

    // zone pairs (100 comps, all in bucket 7 — comp = min id is a zone
    // id); the last 6 zone ids are reserved for the warm/probe docs
    val zonePairs = zone.dropRight(6)
    val (w1, w2) = (zone(zone.length - 2), zone(zone.length - 1))
    val m0 = zonePairs(0) // member of comp zonePairs(0)
    val m1 = zonePairs(2) // member of a DIFFERENT comp

    def buildState(grown: Boolean): String = {
      val lp = Files.createTempDirectory(s"lfio-$grown").toString + "/labels"
      val base = if (grown) pairsOf(zonePairs) unionByName pairsOf(other)
                 else pairsOf(zonePairs)
      ClusterMaintenance.foldLabels(spark, base, lp) // creation path
      // warm: a real member lookup builds the comp projection and
      // leaves it valid (generation in sync)
      ClusterMaintenance.foldLabels(spark,
        Seq((w1, m0)).toDF("src", "dst"), lp)
      lp
    }
    val lp1 = buildState(grown = false)
    val lp8 = buildState(grown = true)

    def probe(lp: String): Unit =
      ClusterMaintenance.foldLabels(spark,
        Seq((w2, m1)).toDF("src", "dst"), lp)
    val (byt1, rec1) = measureInput(probe(lp1))
    val (byt8, rec8) = measureInput(probe(lp8))
    info(f"fold input bytes 1x=$byt1 8x=$byt8 ratio=${byt8.toDouble / byt1}%.2f; " +
      f"records 1x=$rec1 8x=$rec8 ratio=${rec8.toDouble / rec1}%.2f")
    assert(byt1 > 0)
    // full-scan member pass would read ~8x here (200 -> 1600 labels);
    // the pruned fold reads the same zone buckets both times
    assert(byt8 <= byt1 * 2,
      s"member-pass IO must not grow with out-of-bucket labeling: $byt1 -> $byt8")

    // and the folds were real: w2 joined m1's component in both states
    Seq(lp1, lp8).foreach { lp =>
      val labels = spark.read.parquet(lp).select("id", "comp")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels(w2) === labels(m1), s"probe edge must have folded in $lp")
      assert(labels(w1) === labels(m0), s"warm edge must have folded in $lp")
      assert(labels(w2) !== labels(w1), "distinct comps must stay distinct")
    }
  }

  test("a maintained projection answers member lookups without a rebuild") {
    import spark.implicits._
    val lp = Files.createTempDirectory("lfio-maint").toString + "/labels"
    // create enough comps that 2-node deltas stay under the bulk-escape
    // ratio, then chain member-striking folds; after the first builds
    // the projection, the next ones must keep it in sync (generation
    // tags equal) through their touched-bucket swaps
    val filler = (1000L until 1040L by 2).map(i => (i, i + 1))
    ClusterMaintenance.foldLabels(spark,
      (Seq((10L, 11L), (20L, 21L), (30L, 31L)) ++ filler).toDF("src", "dst"), lp)
    ClusterMaintenance.foldLabels(spark, Seq((11L, 100L)).toDF("src", "dst"), lp)
    val cp = lp + "_comp"
    val genAfterBuild = StateStore.readTag(spark, cp, "_gen")
    assert(genAfterBuild.isDefined, "first member fold must build the projection")
    assert(StateStore.readTag(spark, lp, "_gen") === genAfterBuild)
    // a bridging fold merges two comps: rows must LEAVE the dead comp's
    // bucket and the projection must match the labeling exactly
    ClusterMaintenance.foldLabels(spark, Seq((21L, 30L)).toDF("src", "dst"), lp)
    assert(StateStore.readTag(spark, lp, "_gen") ===
      StateStore.readTag(spark, cp, "_gen"),
      "maintained projection must stay generation-synced")
    val fromLabels = spark.read.parquet(lp).select("id", "comp")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val fromProj = spark.read.parquet(cp).select("id", "comp")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(fromProj === fromLabels,
      "projection rows must mirror the labeling after comp moves")
    val comps = fromLabels.toMap
    assert(comps(20L) === comps(31L) && comps(21L) === comps(30L),
      "the bridging fold must have merged the two components")
    assert(comps(10L) === comps(100L) && comps(10L) != comps(20L),
      "untouched components must stay intact and distinct")
  }
}
