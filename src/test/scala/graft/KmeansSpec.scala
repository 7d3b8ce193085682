package graft

import org.apache.spark.sql.functions._

import graft.llm.Kmeans

/** Pins the full-space topic-clustering trainer (llm/Kmeans) — the
  * oracle-replayable variant whose per-iteration 6 dp centroid rounding
  * makes q99 a driver-verified TRAINED model. PqRecallSpec already proves
  * the unrounded trainer's retrieval value; this spec proves the rounded
  * twin recovers planted structure, is bitwise deterministic, and keeps
  * empty clusters alive.
  */
class KmeansSpec extends SparkSpec {

  private val dim = 16
  private val k = 4
  private val perCluster = 30

  // well-separated planted clusters: prototype spacing >> noise
  private lazy val fixture: Seq[(Long, Int, Seq[Float])] = {
    val rng = new scala.util.Random(42)
    val protos = Array.fill(k, dim)(rng.nextDouble() * 10 - 5)
    for {
      c <- 0 until k
      j <- 0 until perCluster
    } yield ((c * perCluster + j + 1).toLong, c,
      protos(c).map(x => (x + rng.nextDouble() * 0.2 - 0.1).toFloat).toSeq)
  }

  private def df(rows: Seq[(Long, Int, Seq[Float])]) = {
    import spark.implicits._
    rows.map { case (id, lbl, v) => (id, lbl, v) }
      .toDF("vec_id", "label", "embedding")
  }

  test("topics recover planted clusters (label purity = 1 on separated data)") {
    val topics = Kmeans.topics(df(fixture), k, iters = 3)
      .join(df(fixture).select("vec_id", "label"), Seq("vec_id"))
      .collect().map(r => (r.getAs[Int]("label"), r.getAs[Int]("topic")))
    // every planted label maps to exactly one topic and vice versa
    val byLabel = topics.groupBy(_._1).map { case (_, g) => g.map(_._2).toSet }
    assert(byLabel.forall(_.size === 1), s"labels split across topics: $byLabel")
    assert(byLabel.flatten.toSet.size === k, "topics collapsed together")
  }

  test("training is bitwise deterministic across runs") {
    def snapshot() = Kmeans.train(df(fixture), k, iters = 3)
      .orderBy("cent_id").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    assert(snapshot().toSeq === snapshot().toSeq)
  }

  test("centroid means are rounded to 6 dp (the oracle-replay invariant)") {
    Kmeans.train(df(fixture), k, iters = 2).collect().foreach { r =>
      r.getSeq[Double](1).foreach { x =>
        assert(math.abs(x * 1e6 - math.round(x * 1e6)) < 1e-3,
          s"centroid component not 6 dp-rounded: $x")
      }
    }
  }

  test("an empty cluster keeps its previous centroid (k rows survive)") {
    // exactly k vectors, two identical: every vector seeds a centroid,
    // the duplicate pair ties and both members land on the lower
    // cent_id, so the other duplicate's cluster is empty from
    // iteration 1 — its centroid must persist, not NaN out or vanish
    val v0 = fixture.head._3
    val tiny = Seq((1L, 0, v0), (2L, 0, v0),
      (3L, 1, fixture(perCluster)._3), (4L, 2, fixture(2 * perCluster)._3))
    val cb = Kmeans.train(df(tiny), k = 4, iters = 3).collect()
    assert(cb.length === 4)
    cb.foreach { r =>
      val v = r.getSeq[Double](1)
      assert(v.length === dim)
      assert(v.forall(x => !x.isNaN))
    }
    // the starved centroid kept the duplicate seed: some pair of
    // centroids agrees to rounding precision (seed is unrounded, the
    // winning twin's mean is the same vector rounded to 6 dp)
    val cents = cb.map(_.getSeq[Double](1))
    val closePair = cents.toSeq.combinations(2).exists { case Seq(a, b) =>
      a.zip(b).forall { case (x, y) => math.abs(x - y) <= 1e-6 }
    }
    assert(closePair, "expected the starved cluster to keep its duplicate seed")
  }

  test("assignment collapses candidates map-side — no corpus-fanout shuffle") {
    val cb = Kmeans.train(df(fixture), k, iters = 1)
    val plan = Kmeans.assign(df(fixture), cb).queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"assignment should partial-aggregate before the shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct"), "centroid join must broadcast")
  }

  test("trained centroids bound IVF cell occupancy where sampled centroids collapse") {
    // q57's scaladoc line — "production would refine them with Lloyd
    // iterations" — measured on the axis that actually degrades:
    // occupancy. Adversarial sampled scheme: the first k corpus vectors
    // all come from ONE planted cluster, so the k centroids are
    // near-identical; the centroid DIFFERENCES then dominate every
    // point's tie (same winner for nearly all points) and the whole
    // corpus piles into one cell — probe cost degenerates to brute
    // force (recall stays high precisely BECAUSE the probe now scans
    // everything). Trained centroids recover the planted prototypes, so
    // every cell holds ~N/k and the probe touches a bounded candidate
    // list.
    def maxOccupancy(cb: org.apache.spark.sql.DataFrame): Long =
      Kmeans.assign(df(fixture), cb)
        .groupBy("cent_id").count()
        .agg(max("count")).collect().head.getLong(0)
    val sampled = df(fixture).filter(col("vec_id") <= k)
      .select((col("vec_id") - 1).cast("int").as("cent_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cv"))
    val occSampled = maxOccupancy(sampled)
    val occTrained = maxOccupancy(Kmeans.train(df(fixture), k, iters = 3))
    info(s"IVF max cell occupancy sampled=$occSampled trained=$occTrained " +
      s"(corpus ${fixture.size}, ideal ${fixture.size / k})")
    assert(occTrained === perCluster.toLong,
      s"trained cells must hold exactly one planted cluster: $occTrained")
    assert(occSampled >= occTrained * 2,
      s"same-cluster seeds should visibly collapse occupancy: $occSampled vs $occTrained")
  }

  test("the mean update partial-aggregates map-side (k*d-row shuffle)") {
    val cb = Kmeans.train(df(fixture), k, iters = 1)
    val plan = Kmeans.meansOf(Kmeans.assign(df(fixture), cb))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_avg"),
      s"per-(cent, dim) means must combine before the shuffle:\n$plan")
  }
}
