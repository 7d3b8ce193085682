package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{JobTrace, Tables}
import graft.llm.{MinHash, Shingles}
import graft.operators.Components

/** The measured form of the 100 TB claim the dedup tier rests on:
  * candidate generation is a bounded-occupancy band equi-join and
  * clustering is contraction over its edges, so their shuffle volume
  * grows LINEARLY in corpus size — never quadratically, the failure mode
  * of all-pairs designs. PlanSpec pins the plan SHAPES; this spec pins
  * the runtime metric: replicate the documents fixture 8× (each replica's
  * tokens perturbed so replicas share no shingles — fresh buckets with
  * the same occupancy profile, i.e. "more corpus", not "deeper
  * clusters") and assert shuffle records/bytes written grow ~8×, with
  * slack for fixed per-query overhead, not ~64×.
  */
class ShuffleGrowthSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Sum of shuffle write records/bytes across all tasks of `body`. */
  private def measureShuffle(body: => Unit): (Long, Long) = {
    val t = JobTrace.measure(spark)(body)._2.totals
    (t.shuffleWriteRecords, t.shuffleWriteBytes)
  }

  /** `k` disjoint replicas of the fixture: replica i offsets doc_ids and
    * suffixes every token with a replica tag, so shingle sets (and thus
    * minhash buckets) are disjoint across replicas while each replica
    * keeps the original occupancy/cluster structure. */
  private def corpus(k: Int): DataFrame = {
    val base = Tables.load(spark, sf, "documents").select("doc_id", "text")
    (0 until k).map { i =>
      if (i == 0) base
      else base.select(
        (col("doc_id") + lit(i * 100000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1z$i").as("text"))
    }.reduce(_ unionByName _)
  }

  /** [[corpus]] with the full documents schema (gateScrub reads
    * n_chars) — the CorpusStream/ClusterMaintenance state builders. */
  private def corpusDocs(k: Int): DataFrame = {
    val base = Tables.load(spark, sf, "documents")
    (0 until k).map { i =>
      if (i == 0) base
      else base
        .withColumn("doc_id", col("doc_id") + lit(i * 100000L))
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1z$i"))
    }.reduce(_ unionByName _)
  }

  test("band pair generation + verification shuffle grows ~linearly in corpus size") {
    val (rec1, byt1) = measureShuffle {
      MinHash.jaccardEdgesOf(corpus(1)).count()
    }
    val (rec8, byt8) = measureShuffle {
      MinHash.jaccardEdgesOf(corpus(8)).count()
    }
    info(f"records 1x=$rec1 8x=$rec8 ratio=${rec8.toDouble / rec1}%.1f; " +
      f"bytes 1x=$byt1 8x=$byt8 ratio=${byt8.toDouble / byt1}%.1f")
    assert(rec1 > 0 && byt1 > 0, "the 1x run must actually shuffle")
    // linear = 8x. Quadratic pair generation would be ~64x. The bound
    // leaves 2x slack for partial-agg constants and replica skew.
    assert(rec8 <= rec1 * 16, s"pair-gen shuffle records grew superlinearly: $rec1 -> $rec8")
    assert(byt8 <= byt1 * 16, s"pair-gen shuffle bytes grew superlinearly: $byt1 -> $byt8")
  }

  test("contraction clustering shuffle grows ~linearly in corpus size") {
    def cluster(k: Int): Unit = {
      val edges = MinHash.jaccardEdgesOf(corpus(k))
      Components.connected(edges, src = "doc_a", dst = "doc_b").count()
    }
    val (rec1, byt1) = measureShuffle(cluster(1))
    val (rec8, byt8) = measureShuffle(cluster(8))
    info(f"records 1x=$rec1 8x=$rec8 ratio=${rec8.toDouble / rec1}%.1f; " +
      f"bytes 1x=$byt1 8x=$byt8 ratio=${byt8.toDouble / byt1}%.1f")
    assert(rec1 > 0 && byt1 > 0)
    // the edge set is 8x the base edge set (replicas add no cross edges),
    // so contraction work per level is 8x and level count is unchanged
    // (cluster diameters are replica-local)
    assert(rec8 <= rec1 * 16, s"contraction shuffle records grew superlinearly: $rec1 -> $rec8")
    assert(byt8 <= byt1 * 16, s"contraction shuffle bytes grew superlinearly: $byt1 -> $byt8")
  }

  test("streaming state probe shuffle stays ~flat as accumulated state grows 8x") {
    // the round-10 verdict's last "∝ corpus, should be ∝ delta" seam:
    // the exact-dedup hash probe and the band/token candidate lookups
    // used to shuffle the FULL accumulated state every micro-batch.
    // With the bucketed stores the state is only scanned (pruned to the
    // batch's touched buckets) and the delta rides broadcasts, so the
    // per-batch SHUFFLE must not grow with accumulated-corpus size.
    import graft.streaming.CorpusStream
    // the probe batch: novel everywhere — fresh ids, and the text is a
    // stopword run (so the gate keeps it) plus 20 tokens carrying the
    // doc's id (so no doc shares enough with ANYTHING — probe or state —
    // to cross the Jaccard threshold). Zero verified edges, which makes
    // the measured fold a PURE probe of the state stores, with no
    // label-merge term to muddy the comparison.
    val probe = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 100)
      .withColumn("doc_id", col("doc_id") + lit(9000000L))
      .withColumn("text", concat(
        lit("the a of and to the a of and to"),
        expr("""concat_ws('', transform(sequence(1, 20),
                 i -> concat(' p', CAST(doc_id AS STRING), 'x', CAST(i AS STRING))))""")))
    def stateOf(k: Int): String = {
      val state = java.nio.file.Files
        .createTempDirectory(s"probe-state-$k").toString
      CorpusStream.foldBatch(corpusDocs(k), state)
      state
    }
    val s1 = stateOf(1)
    val s8 = stateOf(8)
    val (rec1, byt1) = measureShuffle { CorpusStream.foldBatch(probe, s1) }
    val (rec8, byt8) = measureShuffle { CorpusStream.foldBatch(probe, s8) }
    info(f"probe shuffle records 1x=$rec1 8x=$rec8 ratio=${rec8.toDouble / rec1}%.2f; " +
      f"bytes 1x=$byt1 8x=$byt8 ratio=${byt8.toDouble / byt1}%.2f")
    assert(rec1 > 0, "the probe fold must actually shuffle its batch-side work")
    // flat = ~1x (the probe's shuffle is batch-sized). The pre-bucketing
    // design shuffled the whole state per batch: ~8x here.
    assert(rec8 <= rec1 * 2,
      s"state probe shuffle must not grow with accumulated state: $rec1 -> $rec8")
    assert(byt8 <= byt1 * 2,
      s"state probe shuffle bytes must not grow with accumulated state: $byt1 -> $byt8")
  }

  test("k-means assignment shuffle is corpus-sized, independent of k") {
    // the claim behind q99/q102/q103's training loop: the k candidate
    // rows per vector collapse MAP-SIDE (partial min before the wire),
    // so assignment shuffle carries ~one row per vector no matter how
    // many centroids the broadcast fans out
    import graft.llm.Kmeans
    val emb = Tables.load(spark, sf, "embeddings")
    val cb4 = Kmeans.train(emb, 4, iters = 1)
    val cb16 = Kmeans.train(emb, 16, iters = 1)
    val (rec4, _) = measureShuffle { Kmeans.assign(emb, cb4).count() }
    val (rec16, _) = measureShuffle { Kmeans.assign(emb, cb16).count() }
    info(f"assignment shuffle records k=4: $rec4 k=16: $rec16 " +
      f"ratio=${rec16.toDouble / rec4}%.2f")
    assert(rec4 > 0, "the assignment must actually shuffle its collapsed rows")
    assert(rec16 <= rec4 * 2,
      s"assignment shuffle must not scale with k (map-side collapse): $rec4 -> $rec16")
  }

  test("label maintenance shuffle stays ~flat as the accumulated labeling grows 8x") {
    // the delta label fold (ClusterMaintenance.foldLabels) merges only
    // the components a batch's edges touch and swaps only their
    // id-buckets; the pre-delta design re-ran Components.merge over the
    // WHOLE labeling per batch (shuffle ∝ labels). Probe: two novel
    // twin docs forming one fresh 2-member component — the affected
    // subgraph is 2 nodes whether the labeling holds 1x or 8x clusters.
    import spark.implicits._
    import graft.streaming.ClusterMaintenance
    def stateOf(k: Int): String = {
      val st = java.nio.file.Files
        .createTempDirectory(s"label-probe-$k").toString
      ClusterMaintenance.foldBatch(corpusDocs(k).select("doc_id", "text"), st)
      st
    }
    val shared = (1 to 20).map(i => s"qtok$i").mkString(" ")
    val probe = Seq((9000001L, s"$shared tailone"),
      (9000002L, s"$shared tailtwo")).toDF("doc_id", "text")
    val s1 = stateOf(1)
    val s8 = stateOf(8)
    val (rec1, byt1) = measureShuffle { ClusterMaintenance.foldBatch(probe, s1) }
    val (rec8, byt8) = measureShuffle { ClusterMaintenance.foldBatch(probe, s8) }
    // the twins must actually have clustered (else the label path never ran)
    Seq(s1, s8).foreach { st =>
      val comps = ClusterMaintenance.labels(spark, st)
        .filter(col("id") >= 9000000L).collect().map(_.getLong(1)).toSet
      assert(comps.size === 1, s"probe twins must share one component in $st")
    }
    info(f"label-fold shuffle records 1x=$rec1 8x=$rec8 ratio=${rec8.toDouble / rec1}%.2f; " +
      f"bytes ratio=${byt8.toDouble / byt1}%.2f")
    assert(rec1 > 0)
    assert(rec8 <= rec1 * 2,
      s"label fold shuffle must not grow with the labeling: $rec1 -> $rec8")
  }

  test("decontamination gate shuffle stays ~flat as the benchmark set grows 8x") {
    // the streaming exclusion set is bucketed state probed with the
    // StateStore discipline: the gate's joins keep the batch side on
    // broadcasts and only SCAN the pruned state, so per-batch shuffle
    // must not grow with accumulated benchmark size. Growth fixture:
    // replicated docs with perturbed tokens — disjoint shingles, so the
    // 8x state shares nothing with the probe batch.
    import graft.streaming.Decontam
    val probe = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") >= 10 && col("doc_id") < 110)
    def stateOf(k: Int): String = {
      val st = java.nio.file.Files
        .createTempDirectory(s"decontam-growth-$k").toString
      Decontam.foldBenchmark(
        corpus(k).filter(col("doc_id") % 100000L < 10), st)
      st
    }
    val s1 = stateOf(1)
    val s8 = stateOf(8)
    val (rec1, byt1) = measureShuffle { Decontam.gate(probe, s1).count() }
    val (rec8, byt8) = measureShuffle { Decontam.gate(probe, s8).count() }
    info(f"gate shuffle records 1x=$rec1 8x=$rec8 ratio=${rec8.toDouble / rec1}%.2f; " +
      f"bytes 1x=$byt1 8x=$byt8 ratio=${byt8.toDouble / byt1}%.2f")
    assert(rec1 > 0, "the gate must actually shuffle its batch-side work")
    assert(rec8 <= rec1 * 2,
      s"gate shuffle must not grow with the benchmark set: $rec1 -> $rec8")
    assert(byt8 <= byt1 * 2,
      s"gate shuffle bytes must not grow with the benchmark set: $byt1 -> $byt8")
  }

  test("incremental BPE steps after the first are delta-sized, not vocabulary-sized") {
    // the full trainer re-explodes every position of every word on every
    // merge; the incremental trainer pays the corpus-sized histogram
    // ONCE and then touches only matched words plus the (distinct-pair-
    // sized) count table. Fixture: a 3-merge chain q·z·w·v planted in 5
    // heavy words; ~1000 fillers from a disjoint 16-char alphabet never
    // match, so steps 2-3's delta is 5 words against a ~1000-word vocab.
    import graft.llm.Bpe
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val fillers = (1 to 1000).map { _ =>
      (List.fill(6)("abcdefghijklmnop"(rnd.nextInt(16))).mkString, 1L)
    }
    val special = Seq("qzwva", "qzwvb", "qzwvc", "qzwvd", "qzwve").map(_ -> 100L)
    val words = (fillers ++ special).toMap.toSeq.toDF("word", "cnt")
    // the DISTRIBUTED loops (the gated public entries dispatch to the
    // driver loop at this fixture scale, which shuffles nothing)
    def steps(n: Int, inc: Boolean): Long = measureShuffle {
      if (inc) Bpe.trainIncrementalDistributed(words, n)
      else Bpe.trainDistributed(words, n)
    }._1
    val (f1, f3) = (steps(1, inc = false), steps(3, inc = false))
    val (i1, i3) = (steps(1, inc = true), steps(3, inc = true))
    val fullPerStep = (f3 - f1) / 2.0
    val incPerStep = (i3 - i1) / 2.0
    info(f"per-extra-step shuffle records: full=$fullPerStep%.0f inc=$incPerStep%.0f " +
      f"ratio=${fullPerStep / math.max(incPerStep, 1)}%.1f")
    assert(f1 > 0 && i1 > 0, "both trainers must actually shuffle")
    assert(incPerStep * 4 <= fullPerStep,
      s"incremental steps must be delta-sized: inc=$incPerStep vs full=$fullPerStep")
  }

  test("BPE merge steps never touch the corpus: step shuffle flat across corpus size") {
    // the q104 scale claim: corpus-sized work happens exactly once (the
    // histogram); every merge step runs on the VOCABULARY. Replicate the
    // corpus 8x with the SAME vocabulary (ids shifted, tokens untouched —
    // counts x8, histogram row count unchanged) and the per-step shuffle
    // must stay flat, unlike a design that rescans the token stream.
    import graft.llm.Bpe
    import graft.core.Staging
    def vocab(k: Int) = {
      val base = Tables.load(spark, sf, "documents").select("doc_id", "text")
      val corpus = (0 until k).map(i =>
        base.select((col("doc_id") + lit(i * 100000L)).as("doc_id"), col("text")))
        .reduce(_ unionByName _)
      val v = Staging.stage(Bpe.withCharSyms(corpus
        .select(explode(expr(Shingles.toksExpr)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))))
      v.count() // materialize the histogram OUTSIDE the measured step
      v
    }
    val v1 = vocab(1)
    val v8 = vocab(8)
    val (rec1, _) = measureShuffle { Bpe.step(v1)._2.count() }
    val (rec8, _) = measureShuffle { Bpe.step(v8)._2.count() }
    info(f"step shuffle records 1x=$rec1 8x=$rec8 ratio=${rec8.toDouble / rec1}%.2f")
    assert(rec1 > 0, "the merge step must actually shuffle its keyed windows")
    assert(rec8 <= rec1 * 3 / 2,
      s"merge-step shuffle must not grow with corpus size: $rec1 -> $rec8")
  }
}
