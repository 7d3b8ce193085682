package graft

import graft.llm.Pq

/** Proves PQ codebook TRAINING improves retrieval — on a fixture built so
  * recall measures the operator, not the fixture (the round-9 verdict's
  * ask: `LlmEmbed.scala`'s q94 notes document why the sf corpus can't).
  *
  * Planted product structure: each subspace has 8 well-separated
  * prototype subvectors; every corpus vector is a prototype tuple plus
  * tiny noise (noise << prototype spacing). A codebook that recovers the
  * prototypes makes ADC distances cluster-exact, so trained recall@5
  * should approach 1. The FIXED baseline (q94's scheme — slices of the
  * first k corpus vectors) duplicates some prototypes and misses others
  * (P[all 8 distinct] = 8!/8^8 ≈ 0.24%), so its quantization error is
  * prototype-spacing-sized for the missed tuples and its recall must be
  * visibly worse.
  */
class PqRecallSpec extends SparkSpec {

  private val m = 4
  private val subDim = 8
  private val k = 8
  private val dim = m * subDim
  private val perTuple = 6
  private val nTuples = 64
  private val nQueries = 20
  private val topK = 5

  // deterministic fixture (fixed seed; spec-local, not engine code)
  private lazy val fixture: (Seq[(Long, Seq[Float])], Seq[(Long, Seq[Float])],
      Map[Long, Set[Long]]) = {
    val rng = new scala.util.Random(1234)
    val protos = Array.fill(m, k, subDim)(rng.nextDouble() * 2 - 1)
    val tuples = Seq.fill(nTuples)(Array.fill(m)(rng.nextInt(k)))
    def vecOf(t: Array[Int], noise: Double): Seq[Float] =
      (0 until m).flatMap(s => protos(s)(t(s)).map(_ + (rng.nextDouble() * 2 - 1) * noise))
        .map(_.toFloat)
    val corpus = for {
      (t, ti) <- tuples.zipWithIndex
      j <- 0 until perTuple
    } yield ((ti * perTuple + j + 1).toLong, vecOf(t, 0.02))
    val queries = (0 until nQueries).map { qi =>
      ((10001 + qi).toLong, vecOf(tuples(qi * 3), 0.02))
    }
    // exact L2 ground truth, brute force (384 x 20 pairs — spec-local)
    def d2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val truth = queries.map { case (qid, qv) =>
      qid -> corpus.map { case (cid, cv) => (d2(qv, cv), cid) }
        .sorted.take(topK).map(_._2).toSet
    }.toMap
    (corpus, queries, truth)
  }

  private def df(rows: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def recallAt5(codebooks: org.apache.spark.sql.DataFrame): Double = {
    val (corpus, queries, truth) = fixture
    val codes = Pq.encode(df(corpus), codebooks, m, subDim)
    val got = Pq.adcTopK(df(queries), codes, codebooks, m, subDim, k, topK)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    truth.map { case (q, t) => (got(q) & t).size.toDouble / topK }.sum / truth.size
  }

  test("trained codebook recall@5 beats the fixed codebook on planted neighbors") {
    val (corpus, _, _) = fixture
    val fixed = Pq.fixedCodebooks(df(corpus), m, subDim, k)
    val trained = Pq.trainCodebooks(df(corpus), m, subDim, k, iters = 8)
    val rFixed = recallAt5(fixed)
    val rTrained = recallAt5(trained)
    info(f"recall@5 fixed=$rFixed%.3f trained=$rTrained%.3f")
    assert(rTrained > rFixed + 0.1,
      s"training should lift recall visibly: fixed=$rFixed trained=$rTrained")
    assert(rTrained >= 0.75, s"trained codebook should be cluster-exact-ish: $rTrained")
  }

  test("training is deterministic: identical codebooks across runs") {
    val (corpus, _, _) = fixture
    def snapshot() = Pq.trainCodebooks(df(corpus), m, subDim, k, iters = 3)
      .orderBy("sub", "cent_id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    assert(snapshot().toSeq === snapshot().toSeq)
  }

  test("m=1 training is plain k-means: lower full-space distortion than fixed seeds") {
    // the IVF-centroid trainer (q57's cell assignment) is the m=1 special
    // case of the PQ trainer — one subspace spanning the whole vector
    val (corpus, _, _) = fixture
    def distortion(cb: org.apache.spark.sql.DataFrame): Double = {
      val cents = cb.collect().map(_.getSeq[Double](2).toArray)
      assert(cents.forall(_.length === dim))
      corpus.map { case (_, v) =>
        cents.map(c => v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum).min
      }.sum / corpus.size
    }
    val dFixed = distortion(Pq.fixedCodebooks(df(corpus), m = 1, subDim = dim, k = k))
    val dTrained = distortion(Pq.trainCodebooks(df(corpus), m = 1, subDim = dim, k = k, iters = 8))
    info(f"full-space distortion fixed=$dFixed%.3f trained=$dTrained%.3f")
    assert(dTrained < dFixed,
      s"Lloyd iterations must reduce quantization distortion: $dTrained vs $dFixed")
  }

  test("empty clusters keep their previous centroid (codebook stays m*k)") {
    val (corpus, _, _) = fixture
    val trained = Pq.trainCodebooks(df(corpus), m, subDim, k, iters = 8)
    val rows = trained.collect()
    assert(rows.length === m * k)
    rows.foreach(r => assert(r.getSeq[Double](2).length === subDim))
  }
}
