package graft.queries

/** DuckDB-side snippets the LLM query families share: the tokenizer
  * and k-gram twins, the MinHash/Jaccard/cluster CTE chains and the
  * quality-signal CTE. Oracle text only; the Spark side lives in
  * `graft.llm`. */
private[queries] object LlmSql {

  val toksSql = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"

  /** DuckDB twin of [[graft.llm.Shingles.kGramSparkExpr]] — same k-gram
    * text, same short-doc fallback hook (over `toks`). */
  def kGramSql(k: Int, short: String): String = {
    val parts = (0 until k)
      .map(j => if (j == 0) "toks[i]" else s"toks[i + $j]").mkString(" || ' ' || ")
    s"""CASE WHEN len(toks) >= $k
          THEN list_transform(generate_series(1, len(toks) - ${k - 1}), i -> $parts)
          ELSE $short END"""
  }
  val shingleSql = kGramSql(3, "[array_to_string(toks, ' ')]")

  val minhashSigSqlCte =
    s"""b AS (SELECT doc_id, $toksSql AS toks FROM documents),
        shl AS (SELECT doc_id, $shingleSql AS shingles FROM b),
        shx AS (SELECT doc_id, unnest(shingles) AS sh FROM shl),
        hx AS (SELECT doc_id, md5(sh) AS h FROM shx),
        sig AS (SELECT doc_id,
          min(substr(h, 1, 8)) AS mh0,
          min(substr(h, 9, 8)) AS mh1,
          min(substr(h, 17, 8)) AS mh2,
          min(substr(h, 25, 8)) AS mh3
        FROM hx GROUP BY doc_id),
        sigb AS (SELECT doc_id, mh0, mh1, mh2, mh3,
          md5(mh0 || '|' || mh1) AS band0, md5(mh2 || '|' || mh3) AS band1
        FROM sig)"""

  val minhashBandsSqlCte =
    """bands AS (
         SELECT doc_id, 0 AS band, band0 AS bucket FROM sigb
         UNION ALL
         SELECT doc_id, 1 AS band, band1 AS bucket FROM sigb),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""

  /** CTEs `d`/`p`/`jp`: the oracle-side twin of [[LlmDedup.jaccardEdges]]
    * (composes after `$minhashSigSqlCte, $minhashBandsSqlCte`). */
  val jaccardEdgesSqlCte =
    s"""d AS (SELECT doc_id, list_distinct($toksSql) AS toks FROM documents),
        p AS (
          SELECT c.doc_a, c.doc_b,
            CAST(len(list_intersect(da.toks, db.toks)) AS DOUBLE) AS inter,
            CAST(len(da.toks) + len(db.toks) AS DOUBLE) AS tot
          FROM cand c
          JOIN d da ON c.doc_a = da.doc_id
          JOIN d db ON c.doc_b = db.doc_id),
        jp AS (
          SELECT doc_a, doc_b, round(inter / (tot - inter), 6) AS jaccard
          FROM p WHERE round(inter / (tot - inter), 6) >= 0.5)"""

  /** DuckDB twin of [[LlmText.qualityCols]]'s ratio stage (`qb`/`qm`
    * names — the minhash CTE chain owns `b`, so queries composing both
    * can share one WITH). Consumers compute/round `quality` at their
    * emission site. */
  val qualitySqlCte =
    s"""qb AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
        qm AS (SELECT doc_id,
          CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) /
            greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
          CASE WHEN len(toks) > 0
            THEN CAST(len(list_filter(toks, x -> list_contains(['the', 'a', 'of', 'and', 'to'], x))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS stop_ratio,
          CASE WHEN len(toks) > 0
            THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
            ELSE 0.0 END AS mean_word_len,
          CAST(len(toks) AS DOUBLE) AS tok_cnt
        FROM qb)"""

  // ---- near-dup clustering: pairs → connected components → survivors ---
  // The pair queries (q46/q49/q51) stop at edges, but dedup needs the
  // TRANSITIVE closure: A~B and B~C must collapse into one cluster even
  // when A and C never collide in any band. q73 labels every paired doc
  // with its cluster's canonical (minimum) doc_id via min-label
  // contraction (operators/Components.scala — the full edge list is
  // touched a constant number of times and each level runs on the
  // contracted residue; level count tracks cluster diameter, a handful
  // because near-dup clusters are shallow); q74 is the corpus a
  // training run actually reads: one
  // survivor per cluster plus every unpaired doc. The oracle walks the
  // same closure with a recursive CTE — both sides agree because "min
  // reachable id" is evaluation-order-free.
  val clusterSqlCte =
    """sym AS (SELECT doc_a AS src, doc_b AS dst FROM jp
               UNION ALL
               SELECT doc_b AS src, doc_a AS dst FROM jp),
       walk AS (
         SELECT src AS doc_id, src AS comp FROM sym
         UNION
         SELECT s.dst AS doc_id, w.comp AS comp
         FROM walk w JOIN sym s ON s.src = w.doc_id),
       clusters AS (
         SELECT doc_id, min(comp) AS cluster_id FROM walk GROUP BY doc_id)"""
}
