package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The bucketed-state helpers: packed reads keep partition pruning,
  * and an empty delta never creates a layout a later reader would try
  * to infer a schema from. */
class StateStoreSpec extends SparkSpec {

  test("packed state reads keep partition pruning: the touched-bucket " +
      "filter reaches the scan through the coalesce") {
    import graft.streaming.StateStore
    import spark.implicits._
    val state = Files.createTempDirectory("packed-prune").toString + "/t"
    val rows = (0L until 64L).map(i => (i, (i % 4).toInt)).toDF("k", "b")
    rows.repartition(col("b")).write.partitionBy("b").parquet(state)
    val delta = Seq((1L, 1)).toDF("k", "b")
    val pruned = StateStore.prunedByTouched(spark, state, "b", delta, col("b"))
    // value check: only bucket 1's rows survive
    assert(pruned.select("k").collect().map(_.getLong(0)).toSet ==
      (0L until 64L).filter(_ % 4 == 1).toSet)
    // plan check: the scan itself carries the partition filter (pruning
    // pushed through readPacked's coalesce), and the scan is coalesced
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scan.nonEmpty, "no file scan in the pruned plan")
    assert(scan.get.partitionFilters.nonEmpty,
      s"bucket filter did not reach the scan:\n${pruned.queryExecution}")
  }

  test("an empty delta never creates (or wedges) a state layout") {
    import graft.streaming.StateStore
    import spark.implicits._
    val base = Files.createTempDirectory("empty-delta").toString
    def bucketOf = pmod(xxhash64(col("k")), lit(4)).cast("int")
    val none = spark.emptyDataset[Long].toDF("k").withColumn("b", bucketOf)
    val some = (0L until 16L).toDF("k").withColumn("b", bucketOf)

    // known-empty (deltaRows == 0): skipped outright
    val p1 = s"$base/known"
    StateStore.appendBucketed(none, p1, "b", deltaRows = 0L)
    assert(!StateStore.exists(spark, p1),
      "a known-empty append must not create the layout")

    // unknown count (-1) on the CREATING fold: probed and skipped
    val p2 = s"$base/unknown"
    StateStore.appendBucketed(none, p2, "b")
    assert(!StateStore.exists(spark, p2),
      "an unknown-count empty append must not create the layout")

    // a layout wedged by a pre-fix engine (dir + _SUCCESS + tag, no data
    // files — the tag-only dir stampBanding leaves before a first append
    // has the same shape) reads as ABSENT, so the state self-heals on
    // the next fold
    val p3 = s"$base/wedged"
    val f = new org.apache.hadoop.fs.Path(p3)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(p3))
    f.create(new org.apache.hadoop.fs.Path(p3, "_SUCCESS"), true).close()
    StateStore.writeTag(spark, p3, "_banding", "2:2")
    assert(!StateStore.exists(spark, p3),
      "a data-file-less dir must read as absent")
    // novelAgainst on the wedged layout must not try to infer a schema
    assert(StateStore.novelAgainst(p3, some, Seq("k"), "b", col("b"), 4)
      .count() === 16)
    // and a real append then lands and reads normally
    StateStore.appendBucketed(some, p3, "b", deltaRows = 16L)
    assert(StateStore.exists(spark, p3))
    assert(spark.read.parquet(p3).count() === 16)
  }
}
