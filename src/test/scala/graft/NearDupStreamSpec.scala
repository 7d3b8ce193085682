package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{MinHash, Shingles}
import graft.llm.MinHash.Banding
import graft.streaming.NearDup

/** Streaming near-dup detection (streaming/NearDup.scala): bit-parity of
  * the map-only fold signature with the batch explode+groupBy index, and
  * the stream-static join end-to-end against q76's batch result. */
class NearDupStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"
  private val split = 400L

  test("map-only fold bands are bit-identical to the batch band index") {
    val docs = Tables.load(spark, sf, "documents")
    val batch = MinHash.bandIndexOf(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getSeq[String](3).toList)).toSet
    val fold = NearDup.bands(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getSeq[String](3).toList)).toSet
    assert(fold === batch)
  }

  test("null-text docs bucket identically in fold and batch paths") {
    // batch: min over an all-null group is null, concat_ws skips it;
    // fold: least skips nulls and parks at the sentinel — the nullif in
    // bandArrayExpr maps the sentinel back to null. Divergence here
    // would make null-text stream docs silently unmatchable.
    import spark.implicits._
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, "spark rows fast table"))
      .toDF("doc_id", "text")
    val batch = MinHash.bandIndexOf(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getSeq[String](3).toList)).toSet
    val fold = NearDup.bands(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getSeq[String](3).toList)).toSet
    assert(fold === batch)
    assert(batch.exists(_._1 == 1L), "the null-text doc must still produce bands")
  }

  test("fold bands == batch reference at the WIDE banding, null-text " +
      "docs and the bpre prefix column included") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text")
      .unionByName(Seq((900001L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "band", "bucket", "bpre")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getSeq[String](3).toList)).toSet
    // the default banding too: its parity then covers all four columns
    Seq(Banding.wide, Banding.default).foreach { banding =>
      val fold = rows(NearDup.bands(docs, banding))
      val batch = rows(MinHash.bandIndexOf(docs, banding))
      assert(fold === batch, s"fold != batch at ${banding.tag}")
      assert(fold.exists(_._1 == 900001L),
        s"the null-text doc must still produce bands at ${banding.tag}")
      // shape sanity: every doc carries numBands rows, and band j's
      // prefix holds exactly the buckets of bands 0 until j
      assert(fold.count(_._2 == banding.numBands - 1) ==
        fold.count(_._2 == 0), "band fan-out must be uniform")
      val bucketsOf = fold.groupBy(_._1).map { case (id, rs) =>
        id -> rs.toSeq.sortBy(_._2).map(_._3) }
      assert(fold.forall(r => r._4 == bucketsOf(r._1).take(r._2)),
        "bpre must hold exactly the lower bands' buckets")
    }
  }

  test("streaming decontamination keeps a null-text doc (batch q65 parity)") {
    // no fixture doc has null text, so the end-to-end parity test below
    // cannot catch this: a null-text doc's shingle array is NULL, the
    // size comparison is NULL, and an un-coalesced filter would DROP a
    // doc the batch gate keeps (q65 emits no shingle rows for it)
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val bench = NearDup.benchmarkShingleHashes(docs.filter(col("doc_id") < 10))
    val frame = Seq((1L, null.asInstanceOf[String]), (2L, "spark rows fast table"))
      .toDF("doc_id", "text")
    val kept = NearDup.decontaminateStream(frame, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L))
  }

  test("streaming decontamination drops exactly the docs batch q65 flags") {
    val docs = Tables.load(spark, sf, "documents")
    val bench = NearDup.benchmarkShingleHashes(docs.filter(col("doc_id") < 10))

    val inDir = Files.createTempDirectory("decon-in").toString
    docs.filter(col("doc_id") >= 10).write.mode("overwrite").parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(inDir)

    val q = NearDup.decontaminateStream(stream, bench)
      .select("doc_id")
      .writeStream
      .format("memory").queryName("decon").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt-decon").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in time")

    val kept = spark.table("decon").collect().map(_.getLong(0)).toSet
    val contaminated = SparkEntry.queries("q65_decontaminate")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.filter(col("doc_id") >= 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(contaminated.nonEmpty, "fixture must contain contaminated docs")
    assert(kept === all -- contaminated)
  }

  test("stream-static join flags the same near-dups as batch q76") {
    val docs = Tables.load(spark, sf, "documents")

    // the persisted corpus artifacts: band index + distinct-token table
    val idxDir = Files.createTempDirectory("nd-idx").toString
    val toksDir = Files.createTempDirectory("nd-toks").toString
    MinHash.bandIndexOf(docs.filter(col("doc_id") < split))
      .write.mode("overwrite").parquet(idxDir)
    docs.filter(col("doc_id") < split)
      .select(col("doc_id"),
        expr(s"array_distinct(${Shingles.toksExpr})").as("toks"))
      .write.mode("overwrite").parquet(toksDir)

    // the arriving delta, staged as a file stream
    val deltaDir = Files.createTempDirectory("nd-delta").toString
    docs.filter(col("doc_id") >= split).write.mode("overwrite").parquet(deltaDir)
    val schema = spark.read.parquet(deltaDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(deltaDir)

    val q = NearDup.flagAgainstIndex(stream,
        spark.read.parquet(idxDir), spark.read.parquet(toksDir))
      .writeStream
      .format("memory").queryName("neardups").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt-nd").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in time")

    val streamed = spark.table("neardups")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = SparkEntry.queries("q76_incremental_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture must contain cross-split near-dups")
    assert(streamed === batch)
  }
}
