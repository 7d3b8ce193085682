package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.core.JobTrace
import graft.cursor.CursorStore

class CursorStoreSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)
  private def newStore() =
    new CursorStore(spark, Files.createTempDirectory("cursor-spec").toString + "/cursor")

  test("latest on empty store is None (first run bootstraps)") {
    assert(newStore().latest("orders").isEmpty)
  }

  test("advance then latest round-trips") {
    val cs = newStore()
    cs.advance("orders", ts("2024-01-01 00:00:00"), "run1", ts("2024-01-01 01:00:00"))
    assert(cs.latest("orders").contains(ts("2024-01-01 00:00:00")))
  }

  test("latest is the max over appended runs (replay-safe)") {
    val cs = newStore()
    cs.advance("orders", ts("2024-01-02 00:00:00"), "run2", ts("2024-01-02 01:00:00"))
    cs.advance("orders", ts("2024-01-01 00:00:00"), "run1-replayed", ts("2024-01-03 01:00:00"))
    assert(cs.latest("orders").contains(ts("2024-01-02 00:00:00")))
  }

  test("objects are isolated") {
    val cs = newStore()
    cs.advance("orders", ts("2024-01-05 00:00:00"), "r", ts("2024-01-05 00:00:00"))
    assert(cs.latest("companies").isEmpty)
  }

  test("latest reads the schema from a footer; advance writes one file in one job") {
    val dir = Files.createTempDirectory("cursor-spec").toString + "/cursor"
    val cs = new CursorStore(spark, dir)
    val (_, adv) = JobTrace.measure(spark) {
      cs.advance("orders", ts("2024-01-01 00:00:00"), "run1", ts("2024-01-01 01:00:00"))
    }
    assert(adv.jobs.size === 1, s"advance jobs: ${adv.jobs.map(_.site)}")
    assert(TestFiles.parquetFileCount(dir) === 1)
    val (got, lat) = JobTrace.measure(spark)(cs.latest("orders"))
    assert(got.contains(ts("2024-01-01 00:00:00")))
    assert(!lat.jobs.exists(_.site.startsWith("parquet at CursorStore")),
      s"latest ran a schema-inference job: ${lat.jobs.map(_.site)}")
    assert(lat.jobs.size === 2, s"latest jobs: ${lat.jobs.map(_.site)}")
  }

  test("a cursor_date stored as STRING fails latest loudly, for any object") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cursor-spec").toString + "/cursor"
    Seq(("run1", ts("2024-01-01 01:00:00"), "2024-01-01 00:00:00", "orders"))
      .toDF("emitted_id", "emitted_at", "cursor_date", "object")
      .write.parquet(dir)
    val cs = new CursorStore(spark, dir)
    Seq("orders", "companies").foreach { obj =>
      val e = intercept[IllegalStateException](cs.latest(obj))
      assert(e.getMessage.contains("cursor_date is STRING"), e.getMessage)
    }
  }

  test("a deterministic error fails latest at once; an IOException is still retried") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cursor-spec").toString + "/cursor"
    Seq(("run1", ts("2024-01-01 01:00:00"), "2024-01-01 00:00:00", "orders"))
      .toDF("emitted_id", "emitted_at", "cursor_date", "object")
      .write.parquet(dir)
    val cs = new CursorStore(spark, dir)
    intercept[IllegalStateException](cs.latest("orders")) // warm the footer path
    val t0 = System.nanoTime()
    intercept[IllegalStateException](cs.latest("orders"))
    val ms = (System.nanoTime() - t0) / 1000000
    assert(ms < 100, s"the STRING store failed after $ms ms: retried with backoff")

    var attempts = 0
    val got = graft.functions.Retry.withBackoff(maxRetries = 3, baseDelayMs = 1, jitterMs = 1) {
      attempts += 1
      if (attempts < 3) throw new java.io.IOException("transient") else attempts
    }
    assert(got === 3 && attempts === 3)
  }
}
