package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.BloomDecontam
import graft.streaming.{CorpusStream, Decontam}

/** The streaming decontamination tier: the benchmark shingle-hash set
  * persisted as bucketed state, corpus micro-batches gated against it.
  * Split ingest must equal the batch gate (q80's exact complement) on
  * the same inputs, and the gate must compose with the corpus fold. */
class DecontamStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("split benchmark folds + split gating == batch q80 on the same log") {
    val docs = Tables.load(spark, sf, "documents")
    val bench = docs.filter(col("doc_id") < 10)
    val corpus = docs.filter(col("doc_id") >= 10)
    val state = Files.createTempDirectory("decontam-state").toString

    // the benchmark arrives in two ingests; so does the corpus
    Decontam.foldBenchmark(bench.filter(col("doc_id") % 2 === 0), state)
    Decontam.foldBenchmark(bench.filter(col("doc_id") % 2 === 1), state)
    val kept1 = Decontam.gate(corpus.filter(col("doc_id") < 250), state)
    val kept2 = Decontam.gate(corpus.filter(col("doc_id") >= 250), state)
    val streamed = kept1.select("doc_id").unionByName(kept2.select("doc_id"))
      .collect().map(_.getLong(0)).toSet

    val batch = BloomDecontam.bloomDecontaminationKept(corpus, bench, fpp = 1e-8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch.nonEmpty && batch.size < corpus.count(),
      "fixture must actually flag some docs")
    assert(streamed === batch,
      "split ingest through the persisted gate must equal the batch gate")

    // a replayed benchmark fold changes nothing (idempotent in effect)
    Decontam.foldBenchmark(bench, state)
    val replayKept = Decontam.gate(corpus, state)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replayKept === batch)
  }

  test("corpus fold gates arriving docs against the folded benchmark") {
    val docs = Tables.load(spark, sf, "documents")
    val bench = docs.filter(col("doc_id") < 10)
    val corpus = docs.filter(col("doc_id") >= 10)
    val state = Files.createTempDirectory("decontam-fold").toString

    CorpusStream.foldBenchmark(bench, state)
    CorpusStream.foldBatch(corpus, state)
    val landed = spark.read.parquet(s"$state/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val contaminated = corpus.select("doc_id")
      .collect().map(_.getLong(0)).toSet --
      BloomDecontam.bloomDecontaminationKept(corpus, bench, fpp = 1e-8)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(contaminated.nonEmpty, "fixture must contain contaminated docs")
    assert(landed.intersect(contaminated).isEmpty,
      "no contaminated doc may enter the corpus state")
    assert(landed.nonEmpty, "clean docs must still land")

    // without a folded benchmark the fold is unchanged (pass-through)
    val state2 = Files.createTempDirectory("decontam-off").toString
    CorpusStream.foldBatch(corpus, state2)
    assert(spark.read.parquet(s"$state2/docs").count() >
      landed.size.toLong, "pass-through fold must admit the flagged docs too")
  }

  test("a benchmark folded AFTER corpus batches is applied retroactively at finalize") {
    // docs that arrived before the benchmark existed passed the ingest
    // gate unchecked; finalize must re-gate the accumulated docs against
    // the persisted state (on the stored scrubbed text), or the
    // foldBatch docstring's retroactive promise is hollow
    val docs = Tables.load(spark, sf, "documents")
    val bench = docs.filter(col("doc_id") < 10)
    val corpus = docs.filter(col("doc_id") >= 10)
    val state = Files.createTempDirectory("decontam-retro").toString
    CorpusStream.foldBatch(corpus, state)       // benchmark not folded yet
    CorpusStream.foldBenchmark(bench, state)    // arrives afterwards
    val landed = spark.read.parquet(s"$state/docs")
    // retroactively contaminated = the persisted gate's own verdict on
    // the stored scrubbed docs (exact, so this is the ground truth)
    val keptIds = Decontam.gate(landed, state)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val contaminated = landed.select("doc_id")
      .collect().map(_.getLong(0)).toSet -- keptIds
    assert(contaminated.nonEmpty,
      "fixture must contain retroactively contaminated docs")
    val (packed, _) = CorpusStream.finalize(spark, state,
      benchHashes = Array.empty)
    val shipped = packed.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shipped.intersect(contaminated).isEmpty,
      "finalize must drop docs contaminated against the late benchmark")
    assert(shipped.nonEmpty, "clean docs must still ship")
  }
}
