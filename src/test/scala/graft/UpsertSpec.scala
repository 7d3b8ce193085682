package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, substring, year}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import graft.core.JobTrace
import graft.operators.Upsert

/** MERGE semantics of config/bigquery/bigquery.py:245-256 (see Upsert). */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Jobs of a partitioned MERGE of a small local-relation source into
    * existing partitions: the source's dedup shuffle, which the
    * touched-value probe stages, and the probe itself; the query stages
    * AQE runs as jobs — the broadcast of the target's cursors, the
    * broadcast of the applied keys, and the repartition by partition;
    * and the write. */
  private val JobsPerMerge = 6

  private def target: DataFrame = Seq(
    ("a", ts("2024-01-01 00:00:00"), 1.0),
    ("b", ts("2024-01-02 00:00:00"), 2.0),
    ("c", ts("2024-01-03 00:00:00"), 3.0)
  ).toDF("id", "updated_at", "v")

  private def result(df: DataFrame): Map[String, (Timestamp, Double)] =
    df.collect().map(r => r.getString(0) -> (r.getTimestamp(1), r.getDouble(2))).toMap

  test("insert: unmatched source rows are added") {
    val src = Seq(("d", ts("2024-01-04 00:00:00"), 4.0)).toDF("id", "updated_at", "v")
    val out = result(Upsert(target, src, Seq("id"), "updated_at"))
    assert(out.size === 4)
    assert(out("d") === (ts("2024-01-04 00:00:00"), 4.0))
  }

  test("update: matched row with changed cursor takes the source version") {
    val src = Seq(("a", ts("2024-02-01 00:00:00"), 10.0)).toDF("id", "updated_at", "v")
    val out = result(Upsert(target, src, Seq("id"), "updated_at"))
    assert(out.size === 3)
    assert(out("a") === (ts("2024-02-01 00:00:00"), 10.0))
    assert(out("b") === (ts("2024-01-02 00:00:00"), 2.0))
  }

  test("no-op: matched row with equal cursor keeps the target version") {
    val src = Seq(("a", ts("2024-01-01 00:00:00"), 99.0)).toDF("id", "updated_at", "v")
    val out = result(Upsert(target, src, Seq("id"), "updated_at"))
    assert(out("a") === (ts("2024-01-01 00:00:00"), 1.0)) // WHEN MATCHED AND t.cursor != s.cursor only
  }

  test("dup source keys: latest-cursor-wins deterministically") {
    val src = Seq(
      ("a", ts("2024-03-01 00:00:00"), 30.0),
      ("a", ts("2024-02-01 00:00:00"), 20.0)
    ).toDF("id", "updated_at", "v")
    val out = result(Upsert(target, src, Seq("id"), "updated_at"))
    assert(out("a") === (ts("2024-03-01 00:00:00"), 30.0))
  }

  test("matched row with NULL target cursor does not update (SQL != is unknown)") {
    val t = Seq(("a", null.asInstanceOf[Timestamp], 1.0)).toDF("id", "updated_at", "v")
    val src = Seq(("a", ts("2024-02-01 00:00:00"), 10.0)).toDF("id", "updated_at", "v")
    val out = result(Upsert(t, src, Seq("id"), "updated_at"))
    assert(out("a")._2 === 1.0)
  }

  test("idempotence: re-applying the same source is a no-op") {
    val src = Seq(
      ("a", ts("2024-02-01 00:00:00"), 10.0),
      ("e", ts("2024-02-02 00:00:00"), 5.0)
    ).toDF("id", "updated_at", "v")
    val once = Upsert(target, src, Seq("id"), "updated_at")
    val twice = Upsert(once, src, Seq("id"), "updated_at")
    assert(result(once) === result(twice))
  }

  test("tombstone flow: archived flag update flows through as a change") {
    val t = Seq(("a", ts("2024-01-01 00:00:00"), false)).toDF("id", "updated_at", "archived")
    val src = Seq(("a", ts("2024-02-01 00:00:00"), true)).toDF("id", "updated_at", "archived")
    val out = Upsert(t, src, Seq("id"), "updated_at").collect()
    assert(out.length === 1 && out(0).getBoolean(2) === true)
  }

  // ---- partition-scoped incremental MERGE ------------------------------

  private def partFileHashes(root: String): Map[String, String] =
    TestFiles.partFileHashes(root)

  test("partitioned upsert rewrites only touched partitions, byte-identical elsewhere") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-partup").toString
    val snap = s"$tmp/snap"
    val partOf = org.apache.spark.sql.functions.year($"updated_at")

    // bootstrap: 3 rows across years 2022/2023/2024
    val seed = Seq(
      ("a", ts("2022-06-01 00:00:00"), 1.0),
      ("b", ts("2023-06-01 00:00:00"), 2.0),
      ("c", ts("2024-06-01 00:00:00"), 3.0)
    ).toDF("id", "updated_at", "v")
    Upsert.partitioned(snap, seed, Seq("id"), "updated_at", "y", partOf)
    val before = partFileHashes(snap)
    assert(Seq("y=2022", "y=2023", "y=2024").forall(p => before.keys.exists(_.startsWith(p))),
      s"bootstrap must write all three year partitions, got ${before.keys}")

    // incremental batch touches 2024 only: update c, insert d
    val batch = Seq(
      ("c", ts("2024-07-01 00:00:00"), 30.0),
      ("d", ts("2024-08-01 00:00:00"), 4.0)
    ).toDF("id", "updated_at", "v")
    Upsert.partitioned(snap, batch, Seq("id"), "updated_at", "y", partOf)
    val out = spark.read.parquet(snap)

    // merged content matches the full-table MERGE semantics
    val got = out.select("id", "updated_at", "v").collect()
      .map(r => r.getString(0) -> (r.getTimestamp(1), r.getDouble(2))).toMap
    assert(got === Map(
      "a" -> (ts("2022-06-01 00:00:00"), 1.0),
      "b" -> (ts("2023-06-01 00:00:00"), 2.0),
      "c" -> (ts("2024-07-01 00:00:00"), 30.0),
      "d" -> (ts("2024-08-01 00:00:00"), 4.0)))

    // untouched partitions' files are byte-identical; 2024 was rewritten
    val after = partFileHashes(snap)
    val untouchedBefore = before.filter { case (p, _) => !p.startsWith("y=2024") }
    val untouchedAfter = after.filter { case (p, _) => !p.startsWith("y=2024") }
    assert(untouchedBefore === untouchedAfter,
      "untouched year partitions must not be rewritten")
    assert(before.keys.filter(_.startsWith("y=2024")).toSet !=
      after.keys.filter(_.startsWith("y=2024")).toSet,
      "the touched partition must have new files")
  }

  test("interrupted partition publish: partitions are complete-old or complete-new, replay converges") {
    import org.apache.spark.sql.functions.{col, year}
    val tmp = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val snap = s"$tmp/snap"
    val partOf = year($"updated_at")
    val seed = Seq(
      ("a", ts("2022-06-01 00:00:00"), 1.0),
      ("b", ts("2023-06-01 00:00:00"), 2.0)
    ).toDF("id", "updated_at", "v")
    Upsert.partitioned(snap, seed, Seq("id"), "updated_at", "y", partOf)
    val before = partFileHashes(snap)

    // a batch touching BOTH years, published through the same staged-write
    // + swap path as Upsert.partitioned, with the publish crashing right
    // before the second partition's swap
    val batch = Seq(
      ("a", ts("2022-07-01 00:00:00"), 10.0),
      ("b", ts("2023-07-01 00:00:00"), 20.0)
    ).toDF("id", "updated_at", "v")
    val merged = Upsert(spark.read.parquet(snap), batch.withColumn("y", partOf),
      Seq("id"), "updated_at")
    val staged = s"${snap}__stage-crashtest"
    merged.write.partitionBy("y").mode("error").parquet(staged)
    var seen = 0
    intercept[RuntimeException] {
      graft.sinks.Sinks.swapPartitions(spark, staged, snap,
        beforeEach = _ => { seen += 1; if (seen == 2) throw new RuntimeException("simulated crash") })
    }

    // partitions swap in sorted order: y=2022 promoted (complete new),
    // y=2023 untouched (byte-identical old) — never a partial mix
    val mid = partFileHashes(snap)
    assert(mid.filter(_._1.startsWith("y=2023")) === before.filter(_._1.startsWith("y=2023")),
      "the unswapped partition must be byte-identical to its old version")
    val mid2022 = mid.keys.filter(_.startsWith("y=2022")).toSet
    assert(mid2022.nonEmpty && mid2022.intersect(before.keys.filter(_.startsWith("y=2022")).toSet).isEmpty,
      "the swapped partition must be entirely the new files")
    // readers see complete partitions only (old b, new a)
    val midRows = spark.read.parquet(snap).select("id", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(midRows === Map("a" -> 10.0, "b" -> 2.0))

    // replaying the whole batch (the un-advanced cursor's behavior)
    // converges: already-swapped partition is a no-op, the rest applies
    Upsert.partitioned(snap, batch, Seq("id"), "updated_at", "y", partOf)
    val out = spark.read.parquet(snap)
      .select("id", "v").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out === Map("a" -> 10.0, "b" -> 20.0))
  }

  test("crash between retire and promote: recovery restores the old partition") {
    import org.apache.spark.sql.functions.year
    val tmp = java.nio.file.Files.createTempDirectory("graft-crash2").toString
    val snap = s"$tmp/snap"
    val partOf = year($"updated_at")
    val seed = Seq(
      ("a", ts("2022-06-01 00:00:00"), 1.0),
      ("b", ts("2023-06-01 00:00:00"), 2.0)
    ).toDF("id", "updated_at", "v")
    Upsert.partitioned(snap, seed, Seq("id"), "updated_at", "y", partOf)
    val before = partFileHashes(snap)

    // simulate a crash in the one non-atomic window: live dir retired to
    // its hidden name, promote never ran
    val fs = new org.apache.hadoop.fs.Path(snap)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$snap/y=2022"),
      new org.apache.hadoop.fs.Path(s"$snap/.graft-old-y=2022"))
    // the hidden dir is invisible to readers (no half state observable)
    assert(spark.read.parquet(snap).filter("y = 2022").count() === 0)

    val restored = graft.sinks.Sinks.recoverPartitionSwaps(spark, snap)
    assert(restored === Seq("y=2022"))
    assert(partFileHashes(snap) === before, "recovery must restore the old bytes exactly")

    // a stale retiree WITH a live counterpart (crash after promote) is garbage
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$snap/.graft-old-y=2022"))
    assert(graft.sinks.Sinks.recoverPartitionSwaps(spark, snap) === Seq.empty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$snap/.graft-old-y=2022")))
  }

  test("partitioned upsert is idempotent per batch") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-partup2").toString
    val snap = s"$tmp/snap"
    val partOf = org.apache.spark.sql.functions.year($"updated_at")
    val seed = Seq(("a", ts("2024-01-01 00:00:00"), 1.0)).toDF("id", "updated_at", "v")
    Upsert.partitioned(snap, seed, Seq("id"), "updated_at", "y", partOf)
    val batch = Seq(("a", ts("2024-02-01 00:00:00"), 10.0)).toDF("id", "updated_at", "v")
    Upsert.partitioned(snap, batch, Seq("id"), "updated_at", "y", partOf)
    val once = spark.read.parquet(snap).collect().toSet
    Upsert.partitioned(snap, batch, Seq("id"), "updated_at", "y", partOf)
    val twice = spark.read.parquet(snap).collect().toSet
    assert(once === twice)
  }

  // ---- touched-partition reads ------------------------------------------

  /** Runs the partitioned MERGE and checks the snapshot it leaves equals
    * the pure MERGE over a whole-table read taken just before it.
    * @return what the partitioned MERGE's own jobs cost */
  private def mergeMatchesWholeTable(snap: String, batch: DataFrame,
                                     partCol: String, partOf: Column): JobTrace.Record = {
    val whole = spark.read.parquet(snap)
    val expected = Upsert(whole, batch.withColumn(partCol, partOf), Seq("id"), "updated_at")
      .collect().toSet
    val (_, rec) = JobTrace.measure(spark) {
      Upsert.partitioned(snap, batch, Seq("id"), "updated_at", partCol, partOf)
    }
    val got = spark.read.parquet(snap).select(whole.columns.toIndexedSeq.map(col): _*)
      .collect().toSet
    assert(got === expected)
    rec
  }

  private def yearSeed(snap: String): Unit =
    Upsert.partitioned(snap, Seq(
      ("a", ts("2022-06-01 00:00:00"), 1.0),
      ("b", ts("2023-06-01 00:00:00"), 2.0)
    ).toDF("id", "updated_at", "v"), Seq("id"), "updated_at", "y", year($"updated_at"))

  test("partitioned upsert lists only the touched partitions, never the whole snapshot") {
    val snap = java.nio.file.Files.createTempDirectory("graft-partlist").toString + "/snap"
    // more partitions than the parallel-discovery threshold, so a listing
    // of the whole snapshot would run as a job with one task per partition
    val parts = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt + 8
    val partOf = substring($"id", 2, 4).cast("int") // "k7" -> p=7
    Upsert.partitioned(snap, (0 until parts).map(i => (s"k$i", ts("2024-01-01 00:00:00"), i.toDouble))
      .toDF("id", "updated_at", "v"), Seq("id"), "updated_at", "p", partOf)
    val before = partFileHashes(snap)

    val (_, rec) = JobTrace.measure(spark) {
      Upsert.partitioned(snap, Seq(("k7", ts("2024-02-01 00:00:00"), 70.0))
        .toDF("id", "updated_at", "v"), Seq("id"), "updated_at", "p", partOf)
    }

    val counts = rec.jobs.map(_.maxTasks)
    assert(counts.nonEmpty, "the merge must run jobs")
    assert(counts.forall(_ < parts),
      s"a merge touching 1 of $parts partitions ran a job sized by the table: $counts")
    val got = spark.read.parquet(snap).select("id", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === (0 until parts).map(i => s"k$i" -> (if (i == 7) 70.0 else i.toDouble)).toMap)
    val after = partFileHashes(snap)
    assert(before.filter(!_._1.startsWith("p=7/")) === after.filter(!_._1.startsWith("p=7/")),
      "untouched partitions must not be rewritten")
  }

  test("partitioned upsert into partitions that do not exist yet") {
    val snap = java.nio.file.Files.createTempDirectory("graft-partnew").toString + "/snap"
    yearSeed(snap)
    mergeMatchesWholeTable(snap, Seq(
      ("c", ts("2030-06-01 00:00:00"), 3.0),
      ("d", ts("2031-06-01 00:00:00"), 4.0)
    ).toDF("id", "updated_at", "v"), "y", year($"updated_at"))
    assert(spark.read.parquet(snap).count() === 4)
  }

  test("partitioned upsert of an empty source leaves the snapshot untouched") {
    val snap = java.nio.file.Files.createTempDirectory("graft-partempty").toString + "/snap"
    yearSeed(snap)
    val before = partFileHashes(snap)
    val manifests = new java.io.File(s"$snap/_graft_manifest").list().toSet
    // the archived pass of a batch with no tombstones
    val empty = Seq(("z", ts("2022-07-01 00:00:00"), 9.0)).toDF("id", "updated_at", "v")
      .filter(lit(false))
    val rec = mergeMatchesWholeTable(snap, empty, "y", year($"updated_at"))
    assert(partFileHashes(snap) === before)
    // the touched-value probe is the only job: no plan, no write
    assert(rec.jobs.size === 1, s"jobs: ${rec.jobs.map(_.site)}")
    assert(new java.io.File(s"$snap/_graft_manifest").list().toSet === manifests,
      "an empty merge records no manifest")
  }

  test("partitioned upsert writes each touched partition in its own task, schema from a footer") {
    val snap = java.nio.file.Files.createTempDirectory("graft-partwide").toString + "/snap"
    val partOf = substring($"id", 2, 1).cast("int") // "k3x" -> p=3
    Upsert.partitioned(snap, (0 until 8).flatMap(p => (0 until 4).map(r =>
      (s"k$p$r", ts("2024-01-01 00:00:00"), (10 * p + r).toDouble)))
      .toDF("id", "updated_at", "v"), Seq("id"), "updated_at", "p", partOf)
    val before = partFileHashes(snap)
    // touches 3 of the 8 partitions: two updates and one insert each
    val batch = Seq(1, 4, 6).flatMap(p => Seq(
      (s"k${p}0", ts("2024-02-01 00:00:00"), -1.0),
      (s"k${p}2", ts("2024-02-01 00:00:00"), -2.0),
      (s"k${p}9", ts("2024-02-01 00:00:00"), -9.0))).toDF("id", "updated_at", "v")
    val rec = mergeMatchesWholeTable(snap, batch, "p", partOf)

    assert(!rec.jobs.exists(_.site.startsWith("parquet at Upsert.scala")),
      s"the target schema must come from a footer, not an inference job: ${rec.jobs.map(_.site)}")
    assert(rec.stages.last.tasks === 3, s"the write stage: ${rec.stages.last}")
    assert(rec.jobs.size === JobsPerMerge, s"jobs: ${rec.jobs.map(j => j.site -> j.maxTasks)}")
    Seq(1, 4, 6).foreach(p => assert(TestFiles.parquetFileCount(s"$snap/p=$p") === 1, s"p=$p"))
    val after = partFileHashes(snap)
    val untouched = (k: String) => !Seq("p=1/", "p=4/", "p=6/").exists(k.startsWith)
    assert(before.filter(kv => untouched(kv._1)) === after.filter(kv => untouched(kv._1)))
  }

  test("write layout: one key per touched partition up to the advisory size, salted above it") {
    val mb = 1L << 20
    // small slice: one task per touched partition, capped at the parallelism
    assert(Upsert.writeLayout(3, BigInt(5 * mb), 64 * mb, 4) === (3, 1))
    assert(Upsert.writeLayout(17, BigInt(5 * mb), 64 * mb, 4) === (4, 1))
    assert(Upsert.writeLayout(3, BigInt(3 * 64 * mb), 64 * mb, 4) === (3, 1))
    assert(Upsert.writeLayout(1, BigInt(0), 64 * mb, 4) === (1, 1))
    // one huge partition spreads over ⌈bytes / advisory⌉ sub-keys and tasks
    assert(Upsert.writeLayout(1, BigInt(1000 * mb), 64 * mb, 4) === (16, 16))
    assert(Upsert.writeLayout(2, BigInt(3 * 64 * mb + 1), 64 * mb, 4) === (4, 2))
    // a 100 TB slice over 10 partitions: 64 MB per sub-key
    val (tasks, salt) = Upsert.writeLayout(10, BigInt(100L << 40), 64 * mb, 4)
    assert(salt === 163840 && tasks === 1638400)
  }

  test("a slice above the advisory size per partition spreads each partition over salted files") {
    val snap = java.nio.file.Files.createTempDirectory("graft-partsalt").toString + "/snap"
    val partOf = substring($"id", 2, 1).cast("int")
    Upsert.partitioned(snap, (0 until 2).flatMap(p => (0 until 200).map(r =>
      (s"k$p$r", ts("2024-01-01 00:00:00"), r.toDouble)))
      .toDF("id", "updated_at", "v"), Seq("id"), "updated_at", "p", partOf)
    val key = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "64")
    try mergeMatchesWholeTable(snap, Seq(("k05", ts("2024-02-01 00:00:00"), -5.0),
      ("k1x", ts("2024-02-01 00:00:00"), -1.0)).toDF("id", "updated_at", "v"), "p", partOf)
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // each touched partition's rows spread over several files
    Seq(0, 1).foreach(p => assert(TestFiles.parquetFileCount(s"$snap/p=$p") > 1, s"p=$p"))
    assert(spark.read.parquet(snap).count() === 401)
  }

  test("partitioned upsert keeps a string partition column's type and dir names") {
    val snap = java.nio.file.Files.createTempDirectory("graft-partstr").toString + "/snap"
    // the touched values look numeric, the untouched one does not: only
    // the whole table says the column is a string
    val partOf = $"tag"
    Upsert.partitioned(snap, Seq(
      ("a", ts("2024-01-01 00:00:00"), 1.0, "01"),
      ("b", ts("2024-01-01 00:00:00"), 2.0, "02"),
      ("c", ts("2024-01-01 00:00:00"), 3.0, "x")
    ).toDF("id", "updated_at", "v", "tag"), Seq("id"), "updated_at", "p", partOf)
    mergeMatchesWholeTable(snap, Seq(
      ("a", ts("2024-02-01 00:00:00"), 10.0, "01"),
      ("d", ts("2024-02-01 00:00:00"), 4.0, "02")
    ).toDF("id", "updated_at", "v", "tag"), "p", partOf)
    assert(spark.read.parquet(snap).schema("p").dataType === StringType)
    assert(new java.io.File(snap).list().filter(_.startsWith("p=")).toSet ===
      Set("p=01", "p=02", "p=x"))
  }

  test("partitioned upsert updates an existing partition and inserts a new one in one batch") {
    val snap = java.nio.file.Files.createTempDirectory("graft-partmix").toString + "/snap"
    yearSeed(snap)
    mergeMatchesWholeTable(snap, Seq(
      ("a", ts("2022-07-01 00:00:00"), 10.0),
      ("d", ts("2035-01-01 00:00:00"), 4.0)
    ).toDF("id", "updated_at", "v"), "y", year($"updated_at"))
    val got = spark.read.parquet(snap).select("id", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === Map("a" -> 10.0, "b" -> 2.0, "d" -> 4.0))
  }
}
