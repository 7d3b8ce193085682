package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Staging

/** Tokens, word k-grams and shingle hashes over a `text` column — the
  * tokenizer every text operator shares (lowercase, whitespace split,
  * empties dropped) and the 3-word shingle unit of near-dup detection
  * and decontamination. Pure built-in expressions, zero UDFs. */
object Shingles {

  // Tokenization shared by the text operators: lowercase, split on
  // non-space runs, drop empties. Pure built-ins.
  private[graft] val toksExpr = "filter(split(lower(text), '\\\\s+'), x -> x <> '')"

  // `tk` is bound ONCE via the single-element transform(array(...)) —
  // referencing the tokenizer output directly inside the position lambda
  // would re-evaluate the whole split/filter per element_at once Catalyst
  // inlines the column (O(words²) per doc; measured 10× on the bench).
  // A lambda variable is an O(1) bound reference, immune to inlining.
  /** Space-joined word k-grams over a `toks` column, Spark side. The
    * bind-once idiom above lives ONLY here — shingles (k=3) and bigrams
    * (k=2) are instantiations, so a fix to the inlining-sensitive shape
    * cannot drift between them. `short` supplies the result for docs
    * with fewer than k tokens (`tk` is the bound token array). */
  private[graft] def kGramSparkExpr(k: Int, short: String, src: String = "toks"): String = {
    val parts = (0 until k).map(j => s"element_at(tk, i + $j)").mkString(", ")
    s"""flatten(transform(array($src), tk ->
          CASE WHEN size(tk) >= $k
            THEN transform(sequence(1, size(tk) - ${k - 1}),
                   i -> concat_ws(' ', $parts))
            ELSE $short END))"""
  }

  // shingles: short docs fall back to one whole-doc shingle (a 2-word
  // doc still near-dup-matches its copies)
  private[graft] val shingleSparkExpr = kGramSparkExpr(3, "array(array_join(tk, ' '))")

  /** (doc_id, h): one row per DISTINCT shingle md5 of each doc — the
    * contamination-detection unit shared by q65, the corpus pipeline,
    * and the streaming gates. One definition so shingle hashing cannot
    * drift between the batch and streaming contamination paths. */
  private[graft] def shingleHashes(docs: DataFrame): DataFrame =
    Staging.spread(docs)
      .withColumn("toks", expr(toksExpr))
      .select(col("doc_id"),
        explode(expr(s"array_distinct($shingleSparkExpr)")).as("sh"))
      .select(col("doc_id"), md5(col("sh")).as("h"))

  /** Self-contained per-row form of [[shingleHashes]] (distinct shingle
    * md5s as one array, computed straight off `text` with no helper
    * columns) — for streaming stages that must not clobber caller
    * columns. */
  private[graft] val shingleHashArrayExpr: String =
    s"""transform(array_distinct(${kGramSparkExpr(3,
        "array(array_join(tk, ' '))", src = toksExpr)}), sh -> md5(sh))"""
}
