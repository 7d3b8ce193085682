package graft

import scala.util.Try

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

import graft.core.Staging
import graft.llm.{Bpe, Wordpiece}

/** The input handling BPE and WordPiece share across their merge loops:
  * every entry, gated or distributed, full or incremental, splits a
  * histogram the same way, and the above-gate loops release the gate's
  * staged histogram copy but never a caller's frame. */
class TokenizerLoopsSpec extends SparkSpec {
  import spark.implicits._

  private val gate = "spark.graft.tokenizer.driverTrainRows"

  private def withGate[T](rows: Long)(body: => T): T = {
    spark.conf.set(gate, rows.toString)
    try body finally spark.conf.unset(gate)
  }

  private def result(out: (DataFrame, DataFrame)) = {
    val (m, v) = out
    (m.orderBy("step").collect().map(_.toSeq).toList,
      v.collect().map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap)
  }

  test("an empty word gets no symbols: all six trainer entries agree") {
    val hist = Seq("" -> 3L, "hug" -> 10L, "pug" -> 5L, "ab" -> 2L)
      .toDF("word", "cnt")
    val bpe = Seq[(DataFrame, Int) => (DataFrame, DataFrame)](
      Bpe.train(_, _), Bpe.trainIncremental(_, _),
      Bpe.trainDistributed(_, _), Bpe.trainIncrementalDistributed(_, _))
      .map(f => result(f(hist, 4)))
    val wp = Seq[(DataFrame, Int) => (DataFrame, DataFrame)](
      Wordpiece.train, Wordpiece.trainDistributed)
      .map(f => result(f(hist, 4)))
    for ((got, i) <- bpe.zipWithIndex.tail)
      assert(got === bpe.head, s"BPE entry $i diverges from Bpe.train")
    assert(wp(1) === wp.head, "Wordpiece.trainDistributed diverges from train")
    for ((merges, vocab) <- Seq(bpe.head, wp.head)) {
      assert(merges.nonEmpty && merges.forall(_.slice(1, 3).forall(_ != "")),
        s"no merge may involve an empty symbol: $merges")
      assert(vocab.keySet === Set("hug", "pug", "ab"))
    }
  }

  /** New persisted RDDs, after `body`, whose rows are (word, cnt) — the
    * gate's staged histogram copy; every loop stage carries more columns. */
  private def histogramCopies(body: => Unit): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    (sc.getPersistentRDDs -- before).values.count(r =>
      Try(r.asInstanceOf[RDD[InternalRow]].first().numFields == 2).getOrElse(false))
  }

  test("above the gate, the staged histogram copy is released once the loop has its vocab") {
    val hist = Seq("hug" -> 10L, "pug" -> 5L, "ab" -> 2L).toDF("word", "cnt")
    withGate(1) {
      for ((name, train) <- Seq[(String, DataFrame => (DataFrame, DataFrame))](
          "Bpe.train" -> (Bpe.train(_, 2)),
          "Bpe.trainIncremental" -> (Bpe.trainIncremental(_, 2)),
          "Wordpiece.train" -> (Wordpiece.train(_, 2)))) {
        val copies = histogramCopies {
          val (m, v) = train(hist)
          m.collect(); v.collect()
        }
        assert(copies === 0, s"$name left its histogram copy persisted")
      }
    }
  }

  test("a caller's staged histogram stays persisted through every distributed entry") {
    val hist = Staging.stage(
      Seq("hug" -> 10L, "pug" -> 5L, "ab" -> 2L).toDF("word", "cnt"))
    val ids = hist.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    assert(ids.nonEmpty)
    def persisted = ids.forall(spark.sparkContext.getPersistentRDDs.contains)
    assert(persisted)
    Bpe.trainDistributed(hist, 2)._2.collect()
    Bpe.trainIncrementalDistributed(hist, 2)._2.collect()
    Wordpiece.trainDistributed(hist, 2)._2.collect()
    withGate(0) {
      Bpe.train(hist, 2)._2.collect()
      Bpe.trainIncremental(hist, 2)._2.collect()
      Wordpiece.train(hist, 2)._2.collect()
    }
    assert(persisted, "a trainer released its caller's frame")
    assert(hist.count() === 3)
  }
}
