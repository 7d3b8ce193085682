package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Staging
import graft.functions.F
import graft.llm.{MinHash, Shingles}
import graft.operators.Components

/** End-to-end training-corpus preparation: the LLM-data stages the engine
  * verifies individually (q60–q77) composed into ONE pipeline, the way a
  * production pretraining-data run strings them together.
  *
  * Stage order mirrors practice and the cost model:
  *  1. quality gate + PII scrub — map-only, fused into the scan; shrink
  *     the corpus before anything shuffles;
  *  2. exact dedup — one hash window; removes the cheap mass before the
  *     (more expensive) shingling;
  *  3. near-dup collapse — MinHash bands → verified Jaccard edges →
  *     connected components → one survivor per cluster;
  *  4. decontamination — drop docs sharing ≥ `contaminationShared`
  *     distinct shingle hashes with the (broadcast) benchmark set;
  *  5. temperature sampling — q_i ∝ p_i^α per-source rates, realized as
  *     a deterministic per-doc md5-threshold (reproducible, no RNG
  *     state), budget pinned so the largest implied rate is 1;
  *  6. sequence packing — per-source running token sum at `packBudget`.
  *
  * Each stage boundary is staged (`Staging.stage`), so the per-stage
  * report counts read the materialized frame instead of recomputing the
  * prefix chain — the same staging-table discipline the LSH queries use,
  * and at cluster scale the natural checkpoint/audit boundary.
  */
object CorpusPipeline {

  final case class StageReport(stage: String, rowsOut: Long)

  /** Knobs, defaulted to the oracle-checked constants of q63/q65/q68/q77. */
  final case class Config(
      minChars: Int = 150,
      maxChars: Int = 450,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to"),
      stopwordDivisor: Int = 16,
      contaminationShared: Long = 2L,
      alpha: Double = 0.7,
      packBudget: Int = 512)

  /** Stage 1: map-only gate + scrub, fused into one projection over the
    * scan. Stopwords enter as literal Columns, never spliced into SQL
    * text — a quote-bearing stopword must not be a parser injection
    * point. Shared verbatim by the streaming fold
    * (`graft.streaming.CorpusStream`), so stream and batch gate
    * identically by construction. */
  private[graft] def gateScrub(docs: DataFrame, cfg: Config): DataFrame = {
    val stopGate =
      if (cfg.stopwords.isEmpty) lit(true)
      else {
        val stopArr = array(cfg.stopwords.map(lit): _*)
        size(filter(col("toks"), x => array_contains(stopArr, x))) *
          cfg.stopwordDivisor > size(col("toks"))
      }
    docs
      .withColumn("toks", expr(Shingles.toksExpr))
      .filter(col("n_chars").between(cfg.minChars, cfg.maxChars) && stopGate)
      .withColumn("text", F.redactPii(col("text")))
      .drop("toks")
  }

  /** Stage 2: exact dedup, deterministic first-wins per content hash. */
  private[graft] def exactDedup(gated: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    gated.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Stages 3–6 over an exact-deduped corpus — the tail shared by the
    * batch run (clusters computed in-plan) and the streaming finalize
    * (clusters read from the maintained labeling): near-dup collapse
    * from a (doc_id, cluster_id) frame, a pluggable decontamination
    * gate, temperature sampling, sequence packing. Stage ORDER is the
    * semantic contract: decontamination runs after the collapse (a
    * contaminated survivor takes its whole cluster out of the corpus),
    * so both callers inherit it from one definition. */
  private[graft] def finish(
      exact: DataFrame, clusters: DataFrame,
      decontaminate: DataFrame => DataFrame, cfg: Config,
      staged: (String, DataFrame) => DataFrame): DataFrame = {

    // 3. near-dup collapse: every clustered doc except its canonical goes
    val dominated = clusters
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    val collapsed = staged("neardup_collapse",
      exact.join(dominated, Seq("doc_id"), "left_anti"))

    // 4. decontamination (gate implementation is the caller's)
    val clean = staged("decontaminate", decontaminate(collapsed))

    // 5. temperature sampling: rates from the collapsed per-source
    // aggregate (a handful of rows — the whole-frame windows are
    // bounded), realized per doc by a deterministic md5 threshold
    val tot = Window.partitionBy()
    val rates = clean.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("p", col("n_docs").cast("double") / sum(col("n_docs")).over(tot))
      .withColumn("pa", pow(col("p"), lit(cfg.alpha)))
      .withColumn("q", col("pa") / sum(col("pa")).over(tot))
      // budget T = min(n_i/q_i): the largest implied per-doc rate is 1
      .withColumn("rate",
        least(lit(1.0), col("q") * min(col("n_docs").cast("double") / col("q")).over(tot) /
          col("n_docs")))
      .select("source", "rate")
    val sampled = staged("temperature_sample", clean
      .join(broadcast(rates), Seq("source"))
      .filter(conv(substring(md5(col("text")), 1, 6), 16, 10).cast("double") /
        lit((1 << 24).toDouble) < col("rate"))
      .drop("rate"))

    // 6. per-source sequence packing at the token budget
    val wp = Window.partitionBy("source").orderBy("doc_id")
    staged("seq_packing", sampled
      .withColumn("n_toks", expr(s"CAST(size(${Shingles.toksExpr}) AS BIGINT)"))
      .withColumn("seq_id",
        floor((sum(col("n_toks")).over(wp) - col("n_toks")) /
          lit(cfg.packBudget)).cast("long")))
  }

  /** @param docs      corpus with doc_id/text/lang/source/n_chars
    * @param benchmark  eval/benchmark docs (doc_id, text) to decontaminate
    *                   against — assumed small enough to broadcast its
    *                   distinct shingle-hash set (eval suites are)
    * @return (packed corpus, per-stage row counts) */
  def run(docs: DataFrame, benchmark: DataFrame, cfg: Config = Config())
      : (DataFrame, Seq[StageReport]) = {
    val report = Seq.newBuilder[StageReport]
    def staged(name: String, df: DataFrame): DataFrame = {
      val s = Staging.stage(df)
      report += StageReport(name, s.count())
      s
    }

    val gated = staged("gate_scrub", gateScrub(docs, cfg))
    val exact = staged("exact_dedup", exactDedup(gated))

    // near-dup clusters: verified edges → components, in-plan
    val clusters = Components.connected(
        MinHash.jaccardEdgesOf(exact), src = "doc_a", dst = "doc_b")
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))

    // decontamination via the broadcast benchmark shingle set (the q65
    // batch gate — right for any benchmark that fits a broadcast)
    val decontaminate: DataFrame => DataFrame = { corpus =>
      val benchSet = Shingles.shingleHashes(benchmark).select("h").distinct()
      val contaminated = Shingles.shingleHashes(corpus)
        .join(broadcast(benchSet), Seq("h"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= cfg.contaminationShared)
        .select("doc_id")
      corpus.join(contaminated, Seq("doc_id"), "left_anti")
    }

    (finish(exact, clusters, decontaminate, cfg, staged), report.result())
  }

  /** Terminal stage, kept OUT of run() so the pinned stage report stays
    * byte-stable: ship the packed corpus as exact-size training shards
    * in the reproducible seeded-hash order (q89's corpus shuffle through
    * [[graft.operators.Shards]]) — the file set a training loader
    * actually consumes. @return shard count */
  def export(packed: DataFrame, path: String, rowsPerShard: Long): Long =
    graft.operators.Shards.write(packed, path, rowsPerShard,
      order = md5(concat_ws("|", col("doc_id").cast("string"), col("text"))))
}
