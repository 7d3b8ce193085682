package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.core.JobTrace

/** The shared job trace: what a block's jobs cost, read only after the
  * async listener bus has delivered their events. */
class JobTraceSpec extends SparkSpec {

  test("a job over an n-partition range records n tasks") {
    val (n, rec) = JobTrace.measure(spark)(spark.sparkContext.range(0, 1000, 1, 7).count())
    assert(n === 1000)
    assert(rec.jobs.map(_.maxTasks) === Seq(7))
    assert(rec.stages.map(_.tasks) === Seq(7))
    assert(rec.jobs.head.site.nonEmpty)
  }

  test("a parquet read records input bytes") {
    val p = Files.createTempDirectory("jobtrace-in").toString + "/t"
    spark.range(0, 500).write.parquet(p)
    val df = spark.read.parquet(p) // schema inference runs its own job here
    val (rows, rec) = JobTrace.measure(spark)(df.collect().length)
    assert(rows === 500)
    assert(rec.totals.inputBytes > 0)
    assert(rec.totals.inputRecords > 0)
  }

  test("repartition over k rows records k shuffle-write records") {
    val k = 1000
    val (rows, rec) = JobTrace.measure(spark)(spark.range(0, k).repartition(5).collect().length)
    assert(rows === k)
    assert(rec.totals.shuffleWriteRecords === k)
    assert(rec.totals.shuffleWriteBytes > 0)
    assert(rec.stages.map(_.shuffleWriteRecords).sum === k)
  }

  test("every job the body started is in the record, ended — also one still running at return") {
    val sc = spark.sparkContext
    val started = new CountDownLatch(1)
    JobTraceSpec.started = started
    val (ids, rec) = JobTrace.measure(spark) {
      val done = sc.parallelize(1 to 8, 4).countAsync()
      done.get()
      // left running when the body returns: its tasks sleep past the quiet interval
      val running = sc.parallelize(1 to 2, 2).map { x =>
        JobTraceSpec.started.countDown(); Thread.sleep(800); x
      }.countAsync()
      assert(started.await(30, TimeUnit.SECONDS))
      done.jobIds ++ running.jobIds
    }
    assert(ids.size === 2)
    val byId = rec.jobs.map(j => j.id -> j).toMap
    ids.foreach { id =>
      assert(byId.contains(id), s"job $id missing from ${rec.jobs}")
      assert(byId(id).endMs.exists(_ >= byId(id).startMs), s"job $id not ended: ${byId(id)}")
    }
  }

  test("the listener is detached when the body throws") {
    val l = new JobTrace.Listener
    val e = intercept[IllegalStateException] {
      JobTrace.attached(spark, l) {
        spark.sparkContext.range(0, 10, 1, 2).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    // a later job: once another trace has seen it end, a still-attached
    // `l` (same bus queue, delivered in order) would have seen it too
    val (_, later) = JobTrace.measure(spark)(spark.sparkContext.range(0, 10, 1, 3).count())
    assert(later.jobs.nonEmpty)
    val laterIds = later.jobs.map(_.id).toSet
    assert(l.record.jobs.forall(j => !laterIds.contains(j.id)),
      s"a detached listener recorded a later job: ${l.record.jobs}")
  }
}

object JobTraceSpec {
  // tasks run in the test JVM (local master); a task reaches the test
  // through this module, not through a captured closure
  @volatile var started: CountDownLatch = new CountDownLatch(0)
}
