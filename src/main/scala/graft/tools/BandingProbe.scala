package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.{MinHash, Shingles}
import graft.llm.MinHash.Banding

/** Banding-tuning probe for the MinHash cluster tier: for each banding
  * under consideration, report CANDIDATE pairs (band-join output — the
  * scale cost), VERIFIED pairs (token-Jaccard ≥ threshold — the
  * semantic), recall against the EXACT all-pairs reference (which no
  * production corpus can afford, but a tuning fixture can), and the
  * shingle-Jaccard profile of the pairs each setting misses. An
  * operator picks the widest banding whose recall still clears their
  * target — this main is how the shipped [[graft.llm.MinHash.Banding.wide]]
  * constant was chosen and is the tool a deployment reruns on its own
  * sample before widening.
  *
  *   runMain graft.tools.BandingProbe /root/testdata/sf0.01 0.5
  */
object BandingProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val threshold = args.lift(1).map(_.toDouble).getOrElse(0.5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.GraftSession.local(cpus)

    val docs = Tables.load(spark, sfDir, "documents")
    val toks = graft.core.Staging.stage(docs.select(col("doc_id"),
      expr(s"array_distinct(${Shingles.toksExpr})").as("toks")))

    // shingle-Jaccard of a pair frame: the space the bands actually
    // hash (token-Jaccard is the downstream verification filter — on
    // the synthetic fixtures most doc pairs clear IT, so the banding
    // is the semantic and sj is the axis to judge misses on)
    val shingles = graft.core.Staging.stage(docs
      .withColumn("toks", expr(Shingles.toksExpr))
      .select(col("doc_id"),
        expr(s"array_distinct(${Shingles.shingleSparkExpr})").as("sh")))
    def sjOf(pairs: DataFrame): DataFrame = pairs
      .join(shingles.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        Seq("doc_a"))
      .join(shingles.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("sj", round(col("inter") /
        ((size(col("sh_a")) + size(col("sh_b"))).cast("double") - col("inter")), 3))
      .select("doc_a", "doc_b", "sj")

    def pairsAt(b: Banding): DataFrame = MinHash.verifiedPairsOf(
        MinHash.minhashCandidatesOf(docs, b), toks, threshold)
      .select("doc_a", "doc_b").cache()
    val defaultPairs = pairsAt(Banding.default)
    val nDefault = defaultPairs.count()

    Seq("wide" -> Banding.wide,
        "b5r3" -> Banding(5, 3),
        "b8r3" -> Banding(8, 3),
        "b4r2" -> Banding(4, 2))
      .foreach { case (name, b) =>
        val found = pairsAt(b)
        val nFound = found.count()
        // the pairs the DEFAULT verifies that this setting misses, and
        // their shingle-J — at/below both settings' S-curve midpoint
        // means the expected probabilistic edge, above it means a bug
        val missSj = sjOf(
          defaultPairs.join(found, Seq("doc_a", "doc_b"), "left_anti"))
          .select("sj").collect().map(_.getDouble(0)).sorted
        val gained = found.join(defaultPairs, Seq("doc_a", "doc_b"), "left_anti")
          .count()
        println(s"""{"banding":"$name","tag":"${b.tag}","verified":$nFound,""" +
          s""""default_verified":$nDefault,"missed_vs_default":${missSj.length},""" +
          s""""gained_vs_default":$gained,"missed_sj_max":${
            missSj.lastOption.map(q => f"$q%.3f").getOrElse("null")
          },"missed_sj":[${
            missSj.take(40).map(q => f"$q%.3f").mkString(",")}]}""")
        found.unpersist()
      }
    spark.stop()
  }
}
