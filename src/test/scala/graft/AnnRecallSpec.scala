package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Recall of the approximate ANN paths against exact brute force.
  *
  * q53 (random-projection buckets + Hamming≤2 multi-probe) and q57
  * (IVF cells, nprobe=2) verify against a FIXED oracle in CORRECTNESS,
  * but that only pins determinism — it says nothing about how much of
  * the true neighborhood the index finds. This spec quantifies it:
  * recall@5 averaged over the query vectors, floored — at BOTH sf0.01
  * (500 vectors) and sf0.1 (5 000 vectors), because the plane knob is
  * corpus-size-derived (occupancy ≈ N/2^planes): a floor measured at
  * one scale says nothing about the re-parameterized index at the next.
  */
class AnnRecallSpec extends SparkSpec {

  // sf0.001 (50 vectors) is excluded: its 4 buckets are almost all
  // singletons and recall would measure fixture sparsity, not index
  // quality. 500 and 5 000 vectors exercise the occupancy the knob
  // targets, one octave of corpus growth apart.
  private val dirs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")

  /** Exact cosine top-5 per query vector (vec_id < 5, self excluded). */
  private def truth(dir: String): Map[Long, Set[Long]] = {
    graft.plans.VectorDot.register(spark)
    val emb = Tables.load(spark, dir, "embeddings")
      .withColumn("norm", sqrt(expr("vector_dot(embedding, embedding)")))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("norm").as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score",
        expr("vector_dot(embedding, qv)") / (col("norm") * col("qn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("query_id", "vec_id")
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
  }

  private def recallAt5(queryName: String, dir: String, exact: Map[Long, Set[Long]]): Double = {
    val found = SparkEntry.queries(queryName)(spark, dir)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val perQuery = exact.map { case (qid, trueSet) =>
      found.getOrElse(qid, Set.empty).intersect(trueSet).size.toDouble / trueSet.size
    }
    perQuery.sum / perQuery.size
  }

  test("plane knob resolves to the documented constant at the oracle scale factor") {
    // the q53/q54 oracle SQL now derives the plane count with the same
    // formula (annSqlCte's np CTE), so bit-equality holds at any SF; this
    // canary pins the formula itself — if the knob drifts from 4 at
    // sf0.01, every recall floor below was measured on a different index
    assert(graft.queries.LlmEmbed.annPlanesFor(spark, "/root/testdata/sf0.01") === 4)
  }

  dirs.foreach { dir =>
    test(s"bucketed multi-probe ANN (q53) recall@5 >= 0.8 at $dir") {
      val r = recallAt5("q53_ann_topk", dir, truth(dir))
      assert(r >= 0.8, s"q53 recall@5 = $r at $dir, needs >= 0.8")
    }

    test(s"IVF nprobe=2 ANN (q57) recall@5 >= 0.8 at $dir") {
      val r = recallAt5("q57_ivf_topk", dir, truth(dir))
      assert(r >= 0.8, s"q57 recall@5 = $r at $dir, needs >= 0.8")
    }

    // q54's multi-probe trade-off needs its own floor: top-k recall (q53)
    // and PAIR recall measure different misses — a pair both of whose
    // endpoints sit just outside each other's probed buckets never
    // surfaces, yet never dents recall@5 if other neighbors fill the k.
    test(s"embedding near-dup (q54) pair recall >= 0.8 vs exact cosine pairs at $dir") {
      graft.plans.VectorDot.register(spark)
      val emb = Tables.load(spark, dir, "embeddings")
        .withColumn("norm", sqrt(expr("vector_dot(embedding, embedding)")))
      val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
        col("norm").as("na"))
      val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
        col("norm").as("nb"))
      val exact = a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
        .withColumn("score", expr("vector_dot(va, vb)") / (col("na") * col("nb")))
        .filter(col("score") >= 0.35)
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.nonEmpty, s"fixture must contain near-dup pairs at $dir")

      val found = SparkEntry.queries("q54_embed_neardup")(spark, dir)
        .select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = found.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.8,
        s"q54 pair recall = $recall over ${exact.size} true pairs at $dir, needs >= 0.8")
      // candidates are scored exactly, so anything emitted must be a true pair
      assert(found.subsetOf(exact),
        s"q54 must never emit a sub-threshold pair: ${(found -- exact).take(5)}")
    }
  }
}
