package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.llm.Wordpiece

/** WordPiece training + encode, checked against driver-side SEQUENTIAL
  * implementations of the textbook algorithms (the BpePropSpec
  * discipline): likelihood-gain pair scoring with exact-rational
  * comparison, `##` continuation marking, greedy left-to-right merge
  * scan, and max-munch encoding with the whole-word-[UNK] rule. Scores
  * in the model compare as cross-multiplied BigInts so the reference
  * never touches a float — if the engine's single-division doubles
  * disagreed with exact rational order anywhere, these seeds would
  * catch it.
  */
class WordpieceSpec extends SparkSpec {
  import spark.implicits._

  /** Textbook sequential WordPiece trainer. */
  private def model(words: Map[String, Long], steps: Int)
      : (List[(Int, String, String, Long, Long, Long)], Map[String, List[String]]) = {
    var vocab: Map[String, List[String]] = words.map { case (w, _) =>
      w -> w.zipWithIndex.map { case (c, i) =>
        if (i == 0) c.toString else "##" + c }.toList
    }
    val merges = List.newBuilder[(Int, String, String, Long, Long, Long)]
    var done = false
    for (i <- 1 to steps if !done) {
      val pairs = scala.collection.mutable.Map[(String, String), Long]()
      val units = scala.collection.mutable.Map[String, Long]()
      vocab.foreach { case (w, syms) =>
        syms.foreach(s => units(s) = units.getOrElse(s, 0L) + words(w))
        syms.zip(syms.drop(1)).foreach { p =>
          pairs(p) = pairs.getOrElse(p, 0L) + words(w)
        }
      }
      if (pairs.isEmpty) done = true
      else {
        // score = c/(cx*cy); compare a/b > c/d as a*d > c*b in BigInt
        val best = pairs.toSeq.map { case ((x, y), c) =>
          (x, y, c, units(x), units(y))
        }.sortWith { case ((ax, ay, ac, al, ar), (bx, by, bc, bl, br)) =>
          val cmp = (BigInt(ac) * BigInt(bl) * BigInt(br))
            .compare(BigInt(bc) * BigInt(al) * BigInt(ar))
          if (cmp != 0) cmp > 0
          else if (ax != bx) ax < bx
          else ay < by
        }.head
        val (x, y, c, cx, cy) = best
        merges += ((i, x, y, c, cx, cy))
        val joined = x + y.stripPrefix("##")
        vocab = vocab.map { case (w, syms) =>
          val out = List.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == x && syms(j + 1) == y) {
              out += joined; j += 2
            } else { out += syms(j); j += 1 }
          }
          w -> out.result()
        }
      }
    }
    (merges.result(), vocab)
  }

  /** Textbook max-munch encode: longest matching unit at each position
    * (plain at word start, ##-form after); stuck → whole word [UNK]. */
  private def modelEncode(word: String, units: Set[String]): (Long, Boolean) = {
    var pos = 0
    var n = 0L
    while (pos < word.length) {
      val ls = (1 to (word.length - pos)).filter { l =>
        val piece = word.substring(pos, pos + l)
        units(if (pos == 0) piece else "##" + piece)
      }
      if (ls.isEmpty) return (0L, true)
      pos += ls.max
      n += 1
    }
    (n, false)
  }

  private def trainDistributed(words: Map[String, Long], steps: Int,
      trainer: (org.apache.spark.sql.DataFrame, Int) =>
        (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
        (df, s) => Wordpiece.train(df, s)) = {
    val (m, v) = trainer(words.toSeq.toDF("word", "cnt"), steps)
    val merges = m.orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toList
    val vocab = v.collect()
      .map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
    (merges, vocab)
  }

  test("both trainer paths equal the sequential algorithm on 10 seeded corpora") {
    // the gated PUBLIC entry dispatches to the driver loop at this scale;
    // trainDistributed is the loop real-corpus vocabularies keep — pin
    // both against the same model on the same seeded shapes
    for (trainer <- Seq[(org.apache.spark.sql.DataFrame, Int) =>
        (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)](
        (df, s) => Wordpiece.train(df, s),
        (df, s) => Wordpiece.trainDistributed(df, s))) {
      val rnd = new Random(4242)
      for (i <- 1 to 10) {
        val alphabet = "ab" + (if (rnd.nextBoolean()) "c" else "")
        val nWords = 3 + rnd.nextInt(8)
        val words = (1 to nWords).map { _ =>
          val len = 1 + rnd.nextInt(8)
          (List.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString,
            (1 + rnd.nextInt(20)).toLong)
        }.toMap
        val steps = 1 + rnd.nextInt(4)
        val got = trainDistributed(words, steps, trainer)
        val want = model(words, steps)
        assert(got === want, s"iteration $i: words=$words steps=$steps")
      }
    }
  }

  test("likelihood scoring differs from frequency scoring where it should") {
    // 'q' is rare but ALWAYS followed by 'u' (score 1/count(u));
    // 'a'-'##b' is frequent but both units are everywhere. WordPiece
    // must pick the deterministic pair, BPE the frequent one.
    val words = Map("qu" -> 3L, "ab" -> 50L, "ba" -> 40L, "aa" -> 30L)
    val (wp, _) = trainDistributed(words, 1)
    assert(wp.head._2 == "q" && wp.head._3 == "##u",
      s"expected the deterministic pair, got ${wp.head}")
    val (bpe, _) = graft.llm.Bpe.train(words.toSeq.toDF("word", "cnt"), 1)
    val b = bpe.collect().head
    assert(b.getString(1) == "a" && b.getString(2) == "b",
      "BPE control: most frequent pair")
  }

  test("encode is max-munch with whole-word [UNK], against the sequential model") {
    val units = Set("a", "ab", "abc", "##d", "##cd", "b", "##b", "##c")
    val words = Map("abcd" -> 2L, "abd" -> 1L, "ba" -> 1L, "abcdx" -> 1L,
      "aab" -> 1L, "b" -> 1L)
    val got = Wordpiece.encode(words.toSeq.toDF("word", "cnt"),
        units.toSeq.toDF("piece"), 16)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    words.keys.foreach { w =>
      assert(got(w) == modelEncode(w, units), s"word $w")
    }
    // the interesting cases really occurred: a greedy overshoot that
    // still lands ("abcd" -> abc + ##d, not ab + ##cd), an [UNK] from a
    // missing continuation ("ba" needs ##a), and an [UNK] tail ("abcdx")
    assert(got("abcd") == (2L, false))
    assert(got("ba") == (0L, true))
    assert(got("abcdx") == (0L, true))
  }

  test("trained corpus encode: no [UNK] and piece counts bounded by word length") {
    val hist = Map("hash" -> 5L, "shard" -> 4L, "share" -> 3L, "hard" -> 2L)
    val (_, vocab) = Wordpiece.train(hist.toSeq.toDF("word", "cnt"), 3)
    val units = vocab.select(explode(col("syms")).as("piece")).distinct()
    val out = Wordpiece.encode(hist.toSeq.toDF("word", "cnt"), units, 16)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getBoolean(3)))
    out.foreach { case (w, n, unk) =>
      assert(!unk && n >= 1 && n <= w.length, s"word $w -> ($n, $unk)")
    }
  }

  test("a unit-count product past Long.MaxValue fails on both trainer paths") {
    // every unit counts 4e9, so left_count * right_count ~ 1.6e19; two
    // pairs, so the distributed pick really compares (evaluates) a score
    val hist = Seq(("abc", 4000000000L)).toDF("word", "cnt")
    def overflows(f: => Any): Boolean =
      Iterator.iterate(intercept[Throwable](f))(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException])
    assert(overflows(Wordpiece.train(hist, 1)._1.collect()), "driver path")
    val gate = "spark.graft.tokenizer.driverTrainRows"
    spark.conf.set(gate, "0")
    try assert(overflows(Wordpiece.train(hist, 1)._1.collect()), "distributed path")
    finally spark.conf.unset(gate)
  }
}
