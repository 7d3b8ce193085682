package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.streaming.StreamingSync

class StreamingSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def stageEventFiles(): String = {
    // stream source dir: the events fixture re-written as several files
    // (each file plays one "page" of the reference's paginated feed)
    val dir = Files.createTempDirectory("stream-in").toString
    Tables.load(spark, sf, "events").repartition(4).write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowed agg over a stream matches the batch equivalent (I1/I4)") {
    val in = stageEventFiles()
    val schema = spark.read.parquet(in).schema
    val streamed = StreamingSync.windowedAgg(
      StreamingSync.readEvents(spark, in, schema), "1 hour", "1 hour")
    val q = streamed.writeStream
      .format("memory").queryName("win_agg").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // append mode only emits windows closed by the watermark; every emitted
    // window must match the batch aggregate exactly
    val streamedRows = spark.table("win_agg")
      .select("win_start", "event_type", "cnt")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batchRows = Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp")) // match windowedAgg's event-time type
      .groupBy(window(col("ts"), "1 hour").getField("start").as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamedRows.nonEmpty, "watermark should have closed at least one window")
    assert(streamedRows.subsetOf(batchRows))
  }

  test("flatMapGroupsWithState sessionization matches session_window semantics") {
    // per-user file partitioning keeps each key's events inside one
    // micro-batch, so streamed sessions are directly comparable to the
    // batch session_window aggregate
    val dir = Files.createTempDirectory("sess-in").toString
    Tables.load(spark, sf, "events")
      .repartition(4, col("user_id")).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

    val q = graft.streaming.Sessionize
      .sessions(stream, gapMs = 5 * 60 * 1000, watermarkDelay = "1 minute")
      .writeStream
      .format("memory").queryName("sessions").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt-sess").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("sessions")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    val batch = Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("session_window.start").as("session_start"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    assert(streamed.nonEmpty, "watermark/gap should have closed sessions")
    val missing = streamed -- batch
    assert(missing.isEmpty, s"streamed sessions must match batch session_window; extra: ${missing.take(5)}")
  }

  test("dropDuplicatesWithinWatermark dedups a stream with bounded state") {
    // stage the events twice: every event_id arrives as a duplicate
    val dir = Files.createTempDirectory("dedup-in").toString
    val ev = Tables.load(spark, sf, "events")
    ev.unionByName(ev).repartition(4).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(dir)

    val q = graft.streaming.StreamingSync
      .dedupStream(stream, Seq("event_id"), watermarkDelay = "10 days")
      .writeStream
      .format("memory").queryName("dedup_stream").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ckpt-dd").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val total = ev.count()
    assert(spark.table("dedup_stream").count() === total,
      "each duplicated event_id must survive exactly once")
  }

  test("partitioned streaming sync rewrites only touched partitions per micro-batch") {
    val in = Files.createTempDirectory("stream-part-in").toString
    val ev = Tables.load(spark, sf, "events")
    val snap = Files.createTempDirectory("snap-part").toString + "/events_snapshot"
    val ckpt = Files.createTempDirectory("ckpt-part").toString

    // phase 1: every event type except clicks arrives
    ev.filter(col("event_type") =!= "click").coalesce(1)
      .write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val q1 = StreamingSync.syncToSnapshot(
      StreamingSync.readEvents(spark, in, schema), snap, ckpt,
      Seq("event_id"), "ts", "etype", col("event_type"))
    q1.awaitTermination(120000)
    val before = TestFiles.partFileHashes(snap)
    assert(before.keys.exists(_.startsWith("etype=purchase")))

    // phase 2: a micro-batch of ONLY clicks — the other type partitions
    // must not be rewritten (the unpartitioned sync rewrote the whole
    // snapshot here)
    ev.filter(col("event_type") === "click").coalesce(1)
      .write.mode("append").parquet(in)
    val q2 = StreamingSync.syncToSnapshot(
      StreamingSync.readEvents(spark, in, schema), snap, ckpt,
      Seq("event_id"), "ts", "etype", col("event_type"))
    q2.awaitTermination(120000)

    val after = TestFiles.partFileHashes(snap)
    assert(after.filter(!_._1.startsWith("etype=click")) === before,
      "partitions untouched by the micro-batch must be byte-identical")
    assert(after.keys.exists(_.startsWith("etype=click")))
    assert(spark.read.parquet(snap).count() === ev.count())
    assert(spark.read.parquet(snap).select("event_id").distinct().count() === ev.count())
  }

  test("foreachBatch upsert maintains the snapshot idempotently (I2)") {
    val in = stageEventFiles()
    val schema = spark.read.parquet(in).schema
    val snap = Files.createTempDirectory("snap").toString + "/events_snapshot"
    val ckpt = Files.createTempDirectory("ckpt2").toString

    val q = StreamingSync.syncToSnapshot(
      StreamingSync.readEvents(spark, in, schema), snap, ckpt,
      Seq("event_id"), "ts")
    q.awaitTermination(120000)

    val snapshot = spark.read.parquet(snap)
    val expected = Tables.load(spark, sf, "events").count()
    assert(snapshot.count() === expected)
    assert(snapshot.select("event_id").distinct().count() === expected)

    // restart on the same checkpoint: no new data -> snapshot unchanged
    val q2 = StreamingSync.syncToSnapshot(
      StreamingSync.readEvents(spark, in, schema), snap, ckpt,
      Seq("event_id"), "ts")
    q2.awaitTermination(120000)
    assert(spark.read.parquet(snap).count() === expected)
  }

  // streaming cluster maintenance: micro-batch ingests folded through
  // ClusterMaintenance must land on EXACTLY the labeling one batch
  // re-cluster of the full corpus produces (q73's edges + connected)
  test("streamed ingests produce the same near-dup labeling as one batch re-cluster") {
    import graft.streaming.ClusterMaintenance
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")

    // three ingest "pages": one parquet file each, so maxFilesPerTrigger=1
    // replays them as three micro-batches (in whatever order the source
    // lists them — parity must not depend on arrival order)
    val in = Files.createTempDirectory("cm-in").toString
    (0 until 3).foreach { i =>
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(in)
    }
    val state = Files.createTempDirectory("cm-state").toString
    val ckpt = Files.createTempDirectory("cm-ckpt").toString

    val schema = spark.read.parquet(in).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = ClusterMaintenance.sink(stream, state, ckpt)
    assert(q.awaitTermination(180000), "stream did not drain in time")

    val streamed = ClusterMaintenance.labels(spark, state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Components
      .connected(graft.llm.MinHash.jaccardEdgesOf(docs), "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture must contain near-dup pairs")
    assert(streamed === batch)

    // redelivered batch (crash replay): the fold is connectivity-idempotent
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") % 3 === 0), state)
    val replayed = ClusterMaintenance.labels(spark, state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replayed === batch, "replaying an ingest must not change the labeling")

    // state compaction: 4 folds appended 4 file sets per touched bucket
    // to bands/ and the replay duplicated third-0's rows — compacting
    // dedups and shrinks to one file per bucket (the bucketed layout's
    // compaction granule) without changing what a later fold sees
    def bandFiles = TestFiles.parquetFileCount(s"$state/bands")
    val bandsBefore = spark.read.parquet(s"$state/bands").count()
    val filesBefore = bandFiles
    ClusterMaintenance.compactState(spark, state)
    val buckets = spark.read.parquet(s"$state/bands")
      .select("pb").distinct().count().toInt
    assert(bandFiles === buckets,
      s"tiny state must compact to one file per touched bucket ($buckets), had $filesBefore")
    assert(bandFiles < filesBefore, "compaction must reduce the file count")
    val bands = spark.read.parquet(s"$state/bands")
    assert(bands.count() < bandsBefore, "replay duplicates are removed")
    assert(bands.count() === bands.distinct().count())
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") % 3 === 1), state)
    val afterCompact = ClusterMaintenance.labels(spark, state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterCompact === batch, "a fold against compacted state is unchanged")
  }

  test("cluster folds at the default and wide bandings: split == bulk, " +
      "mismatched fold refused, untagged state refused") {
    import graft.llm.MinHash.Banding
    import graft.streaming.ClusterMaintenance
    val wide = Banding.wide
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    def labelsOf(s: String) = ClusterMaintenance.labels(spark, s)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // split folds == one bulk fold at the same setting: fold 2's
    // delta-vs-corpus probe reads fold 1's PERSISTED rows (bpre column
    // included — every store persists it, the default's too), so this
    // pins the state schema round-trip, the lowest-colliding-band rule
    // on both the dd and dc paths, and the label fold — end to end
    val splits = Seq(Banding.default, wide).map { banding =>
      val split = Files.createTempDirectory("cmw-split").toString
      ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 250), split,
        banding = banding)
      ClusterMaintenance.foldBatch(docs.filter(col("doc_id") >= 250), split,
        banding = banding)
      val bulk = Files.createTempDirectory("cmw-bulk").toString
      ClusterMaintenance.foldBatch(docs, bulk, banding = banding)
      val splitLabels = labelsOf(split)
      assert(splitLabels.nonEmpty,
        s"fixture must contain near-dup pairs at ${banding.tag}")
      assert(splitLabels === labelsOf(bulk),
        s"split folds != one bulk fold at ${banding.tag}")
      assert(graft.streaming.StateStore.readTag(spark, s"$split/bands",
        "_banding").contains(banding.tag), s"state must be stamped ${banding.tag}")
      assert(spark.read.parquet(s"$split/bands").columns.contains("bpre"),
        s"the ${banding.tag} store must persist the band-prefix column")
      (split, bulk)
    }
    val (split, bulk) = splits.last

    // exactly-once emission under >2 bands: no candidate pair may
    // surface from two bands — the lowest-colliding-band rule must pick
    // exactly one
    val bands = spark.read.parquet(s"$bulk/bands")
    val dupEmissions = bands.select(col("doc_id").as("a"), col("band"),
        col("bucket"), col("bpre").as("pa"))
      .join(bands.select(col("doc_id").as("b"), col("band"),
        col("bucket"), col("bpre").as("pb")), Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .filter(!exists(zip_with(col("pa"), col("pb"), (x, y) => x === y),
        c => c))
      .groupBy("a", "b").count().filter(col("count") > 1).count()
    assert(dupEmissions == 0, "a pair surfaced from more than one band")

    // a default fold into the wide state is refused
    val refused = intercept[IllegalArgumentException] {
      ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 10), split)
    }
    assert(refused.getMessage.contains("refusing to fold"),
      s"unexpected refusal message: ${refused.getMessage}")

    // an existing store with no _banding tag was not written by a fold
    // (each fold stamps before its first append, compaction carries the
    // tag): refused under every banding, the default included
    val untagged = splits.head._1
    graft.streaming.StateStore.deleteTag(spark, s"$untagged/bands", "_banding")
    Seq(Banding.default, wide).foreach { banding =>
      val blocked = intercept[IllegalArgumentException] {
        ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 10), untagged,
          banding = banding)
      }
      assert(blocked.getMessage.contains("has no _banding tag"),
        s"unexpected message at ${banding.tag}: ${blocked.getMessage}")
    }
  }

  test("rebandTo rebuilds the clustering under the new banding; folds " +
      "resume; an interrupted re-band refuses folds until re-run") {
    import graft.llm.MinHash.Banding
    import graft.streaming.{ClusterMaintenance, StateStore}
    val wide = Banding.wide
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val state = Files.createTempDirectory("cm-reband").toString
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 250), state)
    ClusterMaintenance.rebandTo(docs.filter(col("doc_id") < 250), state, wide)
    assert(StateStore.readTag(spark, s"$state/bands", "_banding")
      .contains(wide.tag), "re-band must restamp the tag")
    // folds RESUME under the new setting (and only under it)
    intercept[IllegalArgumentException] {
      ClusterMaintenance.foldBatch(docs.filter(col("doc_id") >= 250), state)
    }
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") >= 250), state,
      banding = wide)
    // end labeling == a from-scratch wide build over the same corpus
    val scratch = Files.createTempDirectory("cm-reband2").toString
    ClusterMaintenance.foldBatch(docs, scratch, banding = wide)
    def labelsOf(s: String) = ClusterMaintenance.labels(spark, s)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labelsOf(state).nonEmpty, "fixture must contain wide near-dup pairs")
    assert(labelsOf(state) === labelsOf(scratch),
      "rebanded-then-folded labeling != from-scratch wide build")
    // an interrupted re-band (marker present) refuses folds outright
    StateStore.writeTag(spark, s"$state/toks", "_rebanding", wide.tag)
    val blocked = intercept[IllegalArgumentException] {
      ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 10), state,
        banding = wide)
    }
    assert(blocked.getMessage.contains("interrupted re-band"),
      s"unexpected message: ${blocked.getMessage}")
    // re-running rebandTo completes it and clears the marker
    ClusterMaintenance.rebandTo(docs, state, wide)
    assert(StateStore.readTag(spark, s"$state/toks", "_rebanding").isEmpty,
      "completed re-band must clear its marker")
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 10), state,
      banding = wide)
    assert(labelsOf(state) === labelsOf(scratch),
      "the replayed re-band + replayed fold changed the labeling")
  }

  test("compactState preserves the banding tag: a wide store still " +
      "folds after compaction, and a default fold stays refused") {
    import graft.llm.MinHash.Banding
    import graft.streaming.ClusterMaintenance
    val wide = Banding.wide
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val state = Files.createTempDirectory("cmw-ctag").toString
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 250), state,
      banding = wide)
    ClusterMaintenance.compactState(spark, state)
    // the band swap inside compactState must NOT revert the store to
    // "pre-tag": the wide stream resumes, and a default fold is still
    // a refused mismatch (not a silent adoption-as-default)
    assert(graft.streaming.StateStore.readTag(spark, s"$state/bands",
      "_banding").contains(wide.tag),
      "compaction dropped the _banding tag")
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") >= 250), state,
      banding = wide)
    val refused = intercept[IllegalArgumentException] {
      ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 10), state)
    }
    assert(refused.getMessage.contains("refusing to fold"),
      s"unexpected refusal message: ${refused.getMessage}")
    // end labeling == the uncompacted wide build over the same corpus
    val scratch = Files.createTempDirectory("cmw-ctag2").toString
    ClusterMaintenance.foldBatch(docs, scratch, banding = wide)
    def labelsOf(s: String) = ClusterMaintenance.labels(spark, s)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labelsOf(state) === labelsOf(scratch),
      "mid-stream compaction changed the wide labeling")
  }

  test("an empty micro-batch folds to a no-op: no state files, labels unchanged") {
    import graft.streaming.ClusterMaintenance
    import spark.implicits._
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val state = Files.createTempDirectory("cme-state").toString
    ClusterMaintenance.foldBatch(docs.limit(60), state)
    val before = ClusterMaintenance.labels(spark, state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def stateFiles = TestFiles.parquetFileCount(s"$state/bands")
    val filesBefore = stateFiles

    // a ProcessingTime stream delivers one of these per idle interval —
    // each must leave zero trace, or an idle stream leaks small files
    ClusterMaintenance.foldBatch(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), state)

    assert(stateFiles === filesBefore, "an empty fold must append no state files")
    val after = ClusterMaintenance.labels(spark, state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after === before, "an empty fold must not republish labels")
  }

  test("marker-swap deployments fold labels via the whole-snapshot fallback") {
    import graft.streaming.ClusterMaintenance
    // under spark.graft.swap=marker the per-dir renames the delta label
    // layout commits through are non-atomic object-store copies, so the
    // fold must degrade to the pre-delta whole-snapshot labeling (one
    // Components.merge published through the atomic pointer flip) —
    // same labels, object-store-safe, never a hard error
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val state = Files.createTempDirectory("cm-marker-state").toString
    spark.conf.set("spark.graft.swap", "marker")
    try {
      ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 250), state)
      ClusterMaintenance.foldBatch(docs.filter(col("doc_id") >= 250), state)
    } finally spark.conf.unset("spark.graft.swap")
    // published via the marker protocol: pointer file present, no
    // partitioned layout
    val lp = s"$state/labels"
    assert(Files.exists(java.nio.file.Paths.get(lp + "__current")),
      "marker mode must publish through the version pointer")
    assert(!graft.streaming.StateStore.isBucketed(spark, lp, "ib"),
      "marker mode must not write the rename-swapped partitioned layout")
    val streamed = ClusterMaintenance.labels(spark, state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Components
      .connected(graft.llm.MinHash.jaccardEdgesOf(docs), "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture must contain near-dup pairs")
    assert(streamed === batch,
      "marker-mode folds must converge to the batch labeling")
  }

  test("switching to marker mode absorbs and retires the rename-era labeling") {
    import graft.streaming.ClusterMaintenance
    // a deployment that built partitioned label state under the default
    // rename protocol and then moves to object-store marker storage:
    // the first marker fold must fold the OLD labeling into its
    // snapshot and retire the partitioned layout — otherwise the
    // reader's layout precedence would serve the frozen pre-switch
    // labels forever while folds keep "succeeding"
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val state = Files.createTempDirectory("cm-switch-state").toString
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 250), state)
    val lp = s"$state/labels"
    assert(graft.streaming.StateStore.isBucketed(spark, lp, "ib"),
      "precondition: rename-era fold leaves the partitioned layout")
    spark.conf.set("spark.graft.swap", "marker")
    try ClusterMaintenance.foldBatch(docs.filter(col("doc_id") >= 250), state)
    finally spark.conf.unset("spark.graft.swap")
    assert(graft.sinks.Sinks.versionPointerExists(spark, lp),
      "the marker fold must publish through the version pointer")
    assert(!graft.streaming.StateStore.isBucketed(spark, lp, "ib"),
      "the rename-era layout must be retired after the publish")
    val streamed = ClusterMaintenance.labels(spark, state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Components
      .connected(graft.llm.MinHash.jaccardEdgesOf(docs), "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch,
      "the absorbed labeling must equal the full batch re-cluster")
  }

  test("switching back to rename mode absorbs and retires the marker-era labeling") {
    import graft.streaming.ClusterMaintenance
    // the reverse move: marker-mode folds publish through a version
    // pointer, which the reader prefers over the partitioned layout —
    // the first rename fold must move that labeling into the layout and
    // retire the pointer, or the reader would serve it forever
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val state = Files.createTempDirectory("cm-unswitch-state").toString
    val lp = s"$state/labels"
    spark.conf.set("spark.graft.swap", "marker")
    try ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 250), state)
    finally spark.conf.unset("spark.graft.swap")
    assert(graft.sinks.Sinks.versionPointerExists(spark, lp),
      "precondition: the marker fold publishes through the version pointer")
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") >= 250), state)
    assert(!graft.sinks.Sinks.versionPointerExists(spark, lp),
      "the marker-era pointer must be retired")
    assert(graft.streaming.StateStore.isBucketed(spark, lp, "ib"))
    val streamed = ClusterMaintenance.labels(spark, state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Components
      .connected(graft.llm.MinHash.jaccardEdgesOf(docs), "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch,
      "the absorbed labeling must equal the full batch re-cluster")
  }

  test("a crash inside a state compaction's rename window heals on the next fold") {
    import graft.streaming.ClusterMaintenance
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    def labelsOf(s: String) = ClusterMaintenance.labels(spark, s)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clean = Files.createTempDirectory("cm-heal-ref").toString
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 250), clean)
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") >= 250), clean)
    val state = Files.createTempDirectory("cm-heal").toString
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") < 250), state)
    // the swap's rename window in both compacted stores: the live dir
    // retired to __old, the compacted copy not yet promoted
    Seq("bands", "toks").foreach { d =>
      assert(new java.io.File(s"$state/$d")
        .renameTo(new java.io.File(s"$state/${d}__old")))
    }
    ClusterMaintenance.foldBatch(docs.filter(col("doc_id") >= 250), state)
    assert(labelsOf(state) === labelsOf(clean),
      "a fold after the crash must see the restored stores")
  }

  test("sink-scheduled compaction keeps the state file count bounded") {
    import graft.streaming.ClusterMaintenance
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")

    // 6 single-file ingest pages → 6 micro-batches; compactEvery = 2
    // runs the cadence 3 times (batch ids 1, 3, 5 — the LAST batch
    // included, so the drained state ends compacted)
    val in = Files.createTempDirectory("cmc-in").toString
    (0 until 6).foreach { i =>
      docs.filter(col("doc_id") % 6 === i).coalesce(1)
        .write.mode("append").parquet(in)
    }
    val state = Files.createTempDirectory("cmc-state").toString
    val ckpt = Files.createTempDirectory("cmc-ckpt").toString
    val schema = spark.read.parquet(in).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = ClusterMaintenance.sink(stream, state, ckpt, compactEvery = 2)
    assert(q.awaitTermination(240000), "stream did not drain in time")

    // without the cadence 6 folds leave >= 6 append file sets per
    // touched bucket; with it the surviving state is one compact file
    // per bucket — bounded by the bucket-count layout constant no
    // matter how many micro-batches the stream ran
    def buckets(dir: String, bcol: String) =
      spark.read.parquet(dir).select(bcol).distinct().count().toInt
    assert(TestFiles.parquetFileCount(s"$state/bands") ===
      buckets(s"$state/bands", "pb"),
      "bands state must end compacted to one file per bucket")
    assert(TestFiles.parquetFileCount(s"$state/toks") ===
      buckets(s"$state/toks", "tb"),
      "toks state must end compacted to one file per bucket")

    val streamed = ClusterMaintenance.labels(spark, state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.Components
      .connected(graft.llm.MinHash.jaccardEdgesOf(docs), "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch,
      "the compaction cadence must not change the labeling")
  }
}
