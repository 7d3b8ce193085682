package graft.queries

/** The LLM-training-data query registry over `documents` / `embeddings`:
  * one `Seq[Q]` per family, whose operators live in `graft.llm`.
  *
  * Scale design notes (the 100 TB story):
  *  - near-dup detection is LSH-bucketed — MinHash band join for Jaccard
  *    (q46/q49), simhash segment banding for Hamming (q51/q56) — so
  *    candidate generation is always a hash-equi-join on a
  *    bounded-occupancy bucket key, never an all-pairs cross join and
  *    never a join on a low-cardinality natural key;
  *  - similarity search has a brute-force top-k baseline (one pass, no
  *    shuffle of the big side, TakeOrderedAndProject) and a
  *    random-projection bucketed variant with Hamming-distance multi-probe for
  *    the scale path; bucket assignment is a single scan against literal
  *    planes;
  *  - shared self-joined stages (signatures, bucketed embeddings) are
  *    staged via graft.core.Staging — computed once; eager localCheckpoint
  *    locally (blocks reclaimed by the ContextCleaner, no unbounded cache
  *    accumulation) or a recomputable parquet staging write under
  *    `spark.graft.staging=reliable` for executor-loss tolerance;
  *  - candidate pairs are emitted exactly once (lowest agreeing
  *    band/segment), so no dedup shuffle follows the pair joins;
  *  - all text functions are built-in Column compositions (codegen-friendly,
  *    zero UDFs).
  */
object Llm {
  val queries: Seq[Q] = LlmText.queries ++ LlmDedup.queries ++
    LlmEmbed.queries ++ LlmTokens.queries ++ LlmStats.queries
}
