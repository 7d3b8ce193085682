package graft

import org.apache.spark.sql.functions._

import graft.llm.QualityModel
import graft.streaming.QualityStream

/** Pins the classifier's streaming deployment shape
  * (streaming/QualityStream): the doc-bucketed feature store absorbs
  * replays without a ledger, split ingest retrains to the SAME model as
  * one batch, and the store keeps the bucketed layout contract.
  */
class QualityStreamSpec extends SparkSpec {

  private def fl(v: Double): Long = math.floor(v + 0.5).toLong

  private lazy val fixture: Seq[(Long, Long, Long, Long, Long)] = {
    val rng = new scala.util.Random(11)
    (1L to 300L).map { id =>
      val y = id % 2
      val x1 = if (y == 1) 0.55 + rng.nextDouble() * 0.45
               else rng.nextDouble() * 0.45
      (id, fl(x1 * 1e6), fl(rng.nextDouble() * 1e6),
        fl(rng.nextDouble() * 1e6), y)
    }
  }

  private def df() = {
    import spark.implicits._
    fixture.toDF("doc_id", "x_stop", "x_mwl", "x_len", "y")
  }

  private def tmp() = java.nio.file.Files
    .createTempDirectory("graft_qstream").toString

  private def batchSteps(iters: Int) = {
    val raw = df()
    val cols = Seq("x_stop", "x_mwl", "x_len")
    val (_, mu, sd) = QualityModel.stats(raw, cols)
    QualityModel.train(
      QualityModel.standardize(raw, cols, mu, sd),
      Seq("xs_bias", "xs_x_stop", "xs_x_mwl", "xs_x_len"), "y", 2.0, iters)
  }

  test("split ingest retrains to the exact batch model") {
    val state = tmp()
    assert(QualityStream.foldBatch(df().filter(col("doc_id") <= 150), state)
      === 150L)
    assert(QualityStream.foldBatch(df().filter(col("doc_id") > 150), state)
      === 150L)
    val streamed = QualityStream.train(spark, state, 2.0, 4)
      .map(s => (s.iter, s.w, s.nCorrect))
    val batch = batchSteps(4).map(s => (s.iter, s.w, s.nCorrect))
    assert(streamed === batch)
  }

  test("a replayed batch appends nothing and leaves the model unchanged") {
    val state = tmp()
    QualityStream.foldBatch(df(), state)
    val before = QualityStream.stateRows(spark, state)
    assert(QualityStream.foldBatch(df(), state) === 0L)
    assert(QualityStream.stateRows(spark, state) === before)
    assert(QualityStream.train(spark, state, 2.0, 3).map(_.w)
      === batchSteps(3).map(_.w))
  }

  test("the feature store keeps the bucketed layout") {
    val state = tmp()
    QualityStream.foldBatch(df(), state)
    val dirs = new java.io.File(s"$state/features").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("db=")),
      s"expected db= partition dirs, got ${dirs.mkString(",")}")
  }
}
