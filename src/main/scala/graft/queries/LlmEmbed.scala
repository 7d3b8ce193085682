package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Staging
import graft.operators.Components
import LlmSql.clusterSqlCte
import Q.{t, withTempState}

/** LLM embedding rows: brute-force and bucketed ANN, IVF/PQ, semantic
  * dedup, k-means topics and PCA. */
object LlmEmbed {

  // ---- brute-force cosine top-k (ANN baseline) -------------------------
  // Query vector broadcast (1 row); dot products fold left-to-right in
  // double on both engines, so scores are bit-identical. At cluster scale
  // this is one scan + TakeOrderedAndProject — no shuffle of the big side.
  // The dot product is the native codegen'd graft.plans.VectorDot — one
  // primitive loop per pair instead of interpreted zip_with/aggregate
  // lambdas (same fold order, bit-identical result).
  private val dotExpr = "vector_dot(%s, %s)"

  private val cosineTopK = Q(
    "q47_cosine_topk",
    (s, dir) => {
      graft.plans.VectorDot.register(s)
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .withColumn("dot", expr(dotExpr.format("embedding", "qvec")))
        .withColumn("na", sqrt(expr(dotExpr.format("embedding", "embedding"))))
        .withColumn("nb", sqrt(expr(dotExpr.format("qvec", "qvec"))))
        .withColumn("score", round(col("dot") / (col("na") * col("nb")), 6))
        .select("vec_id", "score")
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },
    Some("""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
                       FROM embeddings WHERE vec_id = 0),
            e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings WHERE vec_id <> 0)
            SELECT vec_id,
              round(list_dot_product(v, qvec) /
                    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec))), 6) AS score
            FROM e, q ORDER BY score DESC, vec_id LIMIT 10"""))

  // ---- random-projection LSH buckets (the ANN scale path) --------------
  // Data-derived hyperplanes -> sign bits -> bucket id. ANN lookups then
  // only scan the query bucket (and its near-Hamming neighbors), turning
  // top-k into a bucket-equi-join instead of a full scan.

  /** The nPlanes hyperplane vectors, read once driver-side. This is a
    * bounded scalar read (nPlanes rows of one 64-float column — the same
    * category as the cursor read, SURVEY §3.1), NOT a data collect; it
    * lets bucket assignment fold the planes into the projection as
    * literals so the bucket stage is ONE scan of embeddings with no
    * shuffle and no re-join on vec_id (round 2 went crossJoin → groupBy →
    * join-back; VERDICT "Next round" #7).
    */
  private def planeVectors(s: SparkSession, dir: String, nPlanes: Int): Seq[Array[Double]] =
    t(s, dir, "embeddings").filter(col("vec_id").between(1, nPlanes))
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq

  /** Sign-bit bucket of `embedding` against literal planes; plane i (row
    * vec_id = i+1) contributes bit 2^i, matching the oracle's
    * pow(2, plane_id - 1) weighting. Dot products go through the native
    * vector_dot expression — fold left-to-right in double, bit-identical
    * to DuckDB's list_dot_product. */
  private def bucketCol(planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val pl = array(p.toIndexedSeq.map(lit): _*)
      val dot = call_function("vector_dot", col("embedding"), pl)
      when(dot > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _).cast("long")

  /** Multi-probe masks: the vector's own bucket (mask 0) plus every
    * neighbor within Hamming distance 2 (sign flips on up to two
    * planes). Probing neighbors recovers the recall lost to
    * near-boundary sign flips, which is what makes a higher plane count
    * (finer buckets, smaller candidate sets) usable — the standard
    * multi-probe LSH trade. Depth 2 is what holds the measured
    * recall@5 ≥ 0.8 floor on this fixture (AnnRecallSpec; depth 1 gave
    * 0.6): probe count grows O(planes²) while candidate scoring stays
    * bounded by bucket occupancy × probes.
    */
  // masks generated directly — Σ_{d≤depth} C(planes, d) of them — so the
  // probe set grows polynomially in the plane count (which is log N),
  // never a 2^planes enumeration. Probe depth itself scales with the
  // plane count: finer buckets put more true neighbors one extra sign
  // flip away, and a fixed depth measurably loses them (recall@5 at
  // 7 planes: 0.68 with depth 2, ≥ 0.8 with depth 3 — AnnRecallSpec).
  // This is the standard multi-probe LSH trade: probe-sequence length
  // grows with signature bits while candidate count stays ≈ probes ×
  // target occupancy.
  // named so the oracle CTE interpolates the SAME constants — a tuned
  // breakpoint or depth must move engine and oracle together or the
  // correctness gate compares different indexes
  private val probeDepthBreak = 5
  private val probeDepthShallow = 2
  private val probeDepthDeep = 3
  private def probeDepth(nPlanes: Int): Int =
    if (nPlanes <= probeDepthBreak) probeDepthShallow else probeDepthDeep

  private def probeMasks(nPlanes: Int): Seq[Long] = {
    def subsets(from: Int, size: Int): Seq[Long] =
      if (size == 0) Seq(0L)
      else (from until nPlanes).flatMap(i =>
        subsets(i + 1, size - 1).map(m => m | (1L << i)))
    (0 to probeDepth(nPlanes)).flatMap(d => subsets(0, d))
  }

  private def probeArray(nPlanes: Int): Column =
    array(probeMasks(nPlanes).map(m => col("bucket").bitwiseXOR(lit(m))): _*)

  private val embedBuckets = Q(
    "q48_embed_buckets",
    (s, dir) => {
      graft.plans.VectorDot.register(s)
      t(s, dir, "embeddings")
        .select(col("vec_id"), bucketCol(planeVectors(s, dir, 8)).as("bucket"))
        .orderBy("vec_id")
    },
    Some("""WITH p AS (SELECT vec_id AS plane_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pvec
                       FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
            e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings)
            SELECT e.vec_id,
              CAST(SUM(CASE WHEN list_dot_product(v, pvec) > 0
                            THEN CAST(pow(2, plane_id - 1) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS bucket
            FROM e, p GROUP BY e.vec_id ORDER BY e.vec_id"""))

  // ---- ANN: bucket join + bounded top-k Aggregator (the scale path) ----
  // Plane count is the scale knob, derived from corpus size so bucket
  // occupancy ≈ N / 2^planes holds near a fixed target as the corpus
  // grows (multi-probe keeps recall as buckets get finer). The target is
  // set against MEASURED recall (AnnRecallSpec: recall@5 vs exact brute
  // force ≥ 0.8 at BOTH sf0.01 and sf0.1 — a fixed plane count can't do
  // that: 6 planes over 500 vectors left buckets too sparse, recall
  // 0.36, while 4 planes over 50 M vectors would mean 3 M-row buckets).
  // Selection still goes through the bounded-heap TopKAgg so a bucket
  // with millions of candidates only shuffles k rows per group.
  private val annOccupancyTarget = 32.0

  // one count per scale-factor dir, memoized: the plane knob must not
  // cost a scan per query invocation
  private val annPlaneCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Planes for this corpus: occupancy N/2^planes ≈ annOccupancyTarget,
    * floored at 2. The oracle SQL derives the SAME knob from the same
    * count (`annSqlCte`'s np/npd CTEs mirror this formula and
    * `probeDepth` in DuckDB), so q53/q54 bit-equality holds at every
    * scale factor the gate might run, not just sf0.01 — and
    * AnnRecallSpec separately pins the measured recall floor at both
    * sf0.01 and sf0.1. */
  private[graft] def annPlanesFor(s: SparkSession, dir: String): Int =
    annPlaneCache.computeIfAbsent(dir, _ => {
      val n = t(s, dir, "embeddings").count()
      math.max(2, math.round(math.log(n / annOccupancyTarget) / math.log(2)).toInt)
    }).intValue()

  // The staged frame carries each vector's norm so candidate scoring does
  // one dot product per pair instead of three (norms were recomputed
  // per-pair in round 2 — at bucket occupancy c that is 2c extra
  // 64-dim folds per candidate).
  private def bucketedEmbeddings(s: SparkSession, dir: String, nPlanes: Int): DataFrame = {
    graft.plans.VectorDot.register(s)
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        bucketCol(planeVectors(s, dir, nPlanes)).as("bucket"),
        sqrt(expr(dotExpr.format("embedding", "embedding"))).as("norm"))
  }

  /** Shared q53/q54 oracle CTE. Derives the plane count and probe depth
    * from the corpus count with the SAME formulas as `annPlanesFor` /
    * `probeDepth` (ln/ln(2) rather than log2, mirroring the Scala
    * arithmetic to the ulp), then enumerates the probe-mask set as all
    * bit patterns of popcount ≤ depth — so engine/oracle bit-equality
    * holds at any scale factor. The 2^planes mask enumeration is
    * oracle-only (planes is O(log N), a few thousand rows at most);
    * the engine generates the O(planes^depth) subsets directly. */
  private val annSqlCte: String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       np AS (SELECT GREATEST(2, CAST(round(ln(count(*) / $annOccupancyTarget) / ln(2)) AS INTEGER)) AS planes FROM e),
       npd AS (SELECT planes, CASE WHEN planes <= $probeDepthBreak THEN $probeDepthShallow ELSE $probeDepthDeep END AS depth FROM np),
       p AS (SELECT vec_id AS plane_id, v AS pvec FROM e, np WHERE vec_id BETWEEN 1 AND planes),
       b AS (SELECT e.vec_id,
               CAST(SUM(CASE WHEN list_dot_product(v, pvec) > 0
                             THEN CAST(pow(2, plane_id - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
             FROM e, p GROUP BY e.vec_id),
       eb AS (SELECT e.vec_id, e.v, sqrt(list_dot_product(e.v, e.v)) AS norm, b.bucket
              FROM e JOIN b ON e.vec_id = b.vec_id),
       masks AS (SELECT u.m FROM npd, unnest(range(0, CAST(pow(2, planes) AS BIGINT))) AS u(m)
                 WHERE bit_count(u.m) <= npd.depth),
       ebp AS (SELECT vec_id, v, norm, bucket, xor(bucket, masks.m) AS probe FROM eb, masks)"""

  private val annTopK = Q(
    "q53_ann_topk",
    (s, dir) => {
      val planes = annPlanesFor(s, dir)
      val e = Staging.stage(bucketedEmbeddings(s, dir, planes))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
          col("norm").as("qnorm"), explode(probeArray(planes)).as("bucket"))
      val scored = queries.join(e, Seq("bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("score",
          expr(dotExpr.format("embedding", "qvec")) / (col("norm") * col("qnorm")))
      val topk = graft.llm.TopK.topK(5)
      scored.groupBy("query_id")
        .agg(topk(col("vec_id"), col("score")).as("nn"))
        .select(col("query_id"), explode(col("nn")).as("n"))
        .select(col("query_id"), col("n.id").as("vec_id"),
          round(col("n.score"), 6).as("score"))
        .orderBy(col("query_id"), col("score").desc, col("vec_id"))
    },
    Some(s"""WITH ${annSqlCte},
            q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm, probe
                  FROM ebp WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, c.vec_id,
                list_dot_product(c.v, q.qv) / (c.norm * q.qnorm) AS score
              FROM q JOIN eb c ON q.probe = c.bucket AND c.vec_id <> q.query_id)
            SELECT query_id, vec_id, round(score, 6) AS score FROM scored
            QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) <= 5
            ORDER BY query_id, score DESC, vec_id"""))

  // ---- embedding-cosine near-dup pairs over LSH buckets ----------------
  // Same-bucket pairs plus Hamming-distance neighbor buckets (multi-probe): a
  // true near-dup straddling one hyperplane is still found. Each pair is
  // matched exactly once — XOR adjacency is symmetric and only side `a`
  // explodes its probe set.
  private val embedNearDup = Q(
    "q54_embed_neardup",
    (s, dir) => {
      val planes = annPlanesFor(s, dir)
      val e = Staging.stage(bucketedEmbeddings(s, dir, planes))
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
        col("norm").as("norm_a"), explode(probeArray(planes)).as("bucket"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
        col("norm").as("norm_b"), col("bucket"))
      a.join(b, Seq("bucket")).filter(col("vec_a") < col("vec_b"))
        .withColumn("score",
          expr(dotExpr.format("va", "vb")) / (col("norm_a") * col("norm_b")))
        .filter(col("score") >= 0.35)
        .select(col("vec_a"), col("vec_b"), round(col("score"), 6).as("score"))
        .orderBy("vec_a", "vec_b")
    },
    Some(s"""WITH ${annSqlCte},
            pr AS (
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                list_dot_product(a.v, b.v) / (a.norm * b.norm) AS score
              FROM ebp a JOIN eb b ON a.probe = b.bucket AND a.vec_id < b.vec_id)
            SELECT vec_a, vec_b, round(score, 6) AS score FROM pr
            WHERE score >= 0.35 ORDER BY vec_a, vec_b"""))

  // ---- IVF-style ANN: centroid cells + nprobe=2 ------------------------
  // The inverted-file layout: every vector assigns to its nearest
  // centroid (sampled centroids here — production would refine them with
  // Lloyd iterations, the assignment/probe machinery is identical), a
  // query probes its 2 nearest cells, and scoring touches only those
  // cells' vectors. Complements the random-projection path (q53): IVF
  // cells adapt to the data distribution where hyperplane buckets are
  // oblivious to it. Assignment is a broadcast of the tiny centroid set
  // against one scan; the probe join is a cell equi-join; selection is
  // the bounded-heap TopK — the same k-rows-per-group shuffle bound.
  /** The IVF probe oracle, shared VERBATIM by q57 (batch build) and
    * q126 (streamed index) - the q126 contract is that the streamed
    * index answers THIS query, so one constant keeps it true by
    * construction. */
  private val ivfOracleSql =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
            c AS (SELECT vec_id AS cent_id, v AS cv, norm AS cnorm
                  FROM en WHERE vec_id BETWEEN 1 AND 8),
            r AS (SELECT en.vec_id, en.v, en.norm, c.cent_id,
                    row_number() OVER (PARTITION BY en.vec_id
                      ORDER BY list_dot_product(en.v, c.cv) / (en.norm * c.cnorm) DESC,
                               c.cent_id) AS rk
                  FROM en, c),
            cells AS (SELECT vec_id, v, norm, cent_id AS cell FROM r WHERE rk = 1),
            q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm, cent_id AS cell
                  FROM r WHERE rk <= 2 AND vec_id < 5),
            scored AS (
              SELECT q.query_id, cand.vec_id,
                list_dot_product(cand.v, q.qv) / (cand.norm * q.qnorm) AS score
              FROM q JOIN cells cand ON q.cell = cand.cell AND cand.vec_id <> q.query_id)
            SELECT query_id, vec_id, round(score, 6) AS score FROM scored
            QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) <= 5
            ORDER BY query_id, score DESC, vec_id"""

  private val ivfTopK = Q(
    "q57_ivf_topk",
    (s, dir) => {
      graft.plans.VectorDot.register(s)
      val emb = t(s, dir, "embeddings")
        .withColumn("norm", sqrt(expr(dotExpr.format("embedding", "embedding"))))
      val cents = emb.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
          col("norm").as("cnorm"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cent_id"))
      val ranked = Staging.stage(emb.crossJoin(broadcast(cents))
        .withColumn("sim",
          expr(dotExpr.format("embedding", "cvec")) / (col("norm") * col("cnorm")))
        .select(col("vec_id"), col("embedding"), col("norm"), col("cent_id"),
          row_number().over(w).as("rk")))
      val cells = ranked.filter(col("rk") === 1)
        .select(col("vec_id"), col("embedding"), col("norm"), col("cent_id").as("cell"))
      val probes = ranked.filter(col("rk") <= 2 && col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
          col("norm").as("qnorm"), col("cent_id").as("cell"))
      val scored = probes.join(cells, Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("score",
          expr(dotExpr.format("embedding", "qvec")) / (col("norm") * col("qnorm")))
      val topk = graft.llm.TopK.topK(5)
      scored.groupBy("query_id")
        .agg(topk(col("vec_id"), col("score")).as("nn"))
        .select(col("query_id"), explode(col("nn")).as("n"))
        .select(col("query_id"), col("n.id").as("vec_id"),
          round(col("n.score"), 6).as("score"))
        .orderBy(col("query_id"), col("score").desc, col("vec_id"))
    },
    Some(ivfOracleSql))

  // ---- product-quantization ANN (ADC over packed codes) ----------------
  // The compression tier of similarity search at 100 TB (Jégou et al.,
  // "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
  // vectors are stored as m per-subspace codebook indices — here m=4
  // subspaces of 16 dims over the 64-dim embeddings, k=8 centroids per
  // subspace — and a query scans CODES, never raw floats, via
  // asymmetric distance computation (ADC): one lookup table of
  // query-to-centroid sub-distances per query, approx distance = sum of
  // m table entries. 256 bytes of floats become m small ints per vector;
  // the corpus pass reads the packed code table only.
  //
  // Codebook: the per-subspace slices of 8 fixed corpus vectors —
  // deterministic the same way q57's centroids and q48's planes are, so
  // the DuckDB oracle replays it exactly. Production trains codebooks
  // with k-means over a sample offline (k=256, m=d/8); the encode/ADC
  // machinery here is unchanged by where the codebook came from. No
  // AnnRecallSpec floor covers q94, deliberately: on this fixture
  // recall@5 sits at ~0.2 regardless of codebook size (k=8..128) or
  // k-means training (measured through 10 Lloyd iterations) — at m=4
  // codes the quantization error dominates the fixture's neighbor
  // gaps, so recall here measures the fixture, not the operator. The
  // oracle pins the encode/ADC machinery exactly instead.
  //
  // Scale shape: encoding is one keyed window over (vector, subspace)
  // groups of k rows against the BROADCAST codebook, paid once at index
  // build; the packed table (vec_id, m codes) is built by one groupBy.
  // At query time the per-query LUT (m*k entries each) broadcasts as a
  // map column, the scan is map-only (aggregate lambda over the m codes
  // — no join, no shuffle touches the corpus), and the N x Q candidate
  // stream collapses map-side in the bounded-heap TopK aggregator:
  // shuffle volume is queries x k rows, independent of corpus size.
  private val pqTopK = Q(
    "q94_pq_topk",
    (s, dir) => {
      graft.plans.VectorDot.register(s)
      val sub = t(s, dir, "embeddings")
        .select(col("vec_id"), explode(expr(
          "transform(sequence(0, 3), i -> struct(i AS s, slice(embedding, 16*i+1, 16) AS sv))"))
          .as("x"))
        .select(col("vec_id"), col("x.s").as("sub"), col("x.sv").as("sv"))
      val cb = sub.filter(col("vec_id").between(1, 8))
        .select(col("sub"), col("vec_id").as("cent_id"), col("sv").as("cv"))
      // ||a-b||^2 via dot products only — the identical float path the
      // oracle's list_dot_product takes
      val dists = Staging.stage(
        sub.join(broadcast(cb), Seq("sub"))
          .withColumn("d2",
            expr(dotExpr.format("sv", "sv"))
              - lit(2) * expr(dotExpr.format("sv", "cv"))
              + expr(dotExpr.format("cv", "cv")))
          .select(col("vec_id"), col("sub"), col("cent_id"), col("d2")))
      val wc = Window.partitionBy("vec_id", "sub").orderBy(col("d2"), col("cent_id"))
      val encoded = dists
        .withColumn("rk", row_number().over(wc)).filter(col("rk") === 1)
        .groupBy("vec_id")
        .agg(sort_array(collect_list(struct(col("sub"), col("cent_id").as("code"))))
          .as("codes"))
      val lut = dists.filter(col("vec_id") < 5)
        .groupBy(col("vec_id").as("query_id"))
        .agg(map_from_entries(collect_list(
          struct(col("sub") * lit(8) + col("cent_id"), col("d2")))).as("lutmap"))
      val topk = graft.llm.TopK.topK(5)
      // the rank cut runs on the ROUNDED distance: the 4-term double sum
      // has no specified accumulation order on the oracle side (hash-agg
      // arrival order), so two equal-code candidates can land 1 ULP
      // apart there while this side's sorted-array lambda makes them
      // bit-identical — rounding before the cut collapses ULP noise so
      // both engines break the tie on vec_id, not on summation order
      encoded.crossJoin(broadcast(lut))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("nscore", -round(expr(
          "aggregate(codes, 0D, (acc, c) -> acc + element_at(lutmap, c.sub * 8 + c.code))"), 6))
        .groupBy("query_id")
        .agg(topk(col("vec_id"), col("nscore")).as("nn"))
        .select(col("query_id"), explode(col("nn")).as("n"))
        .select(col("query_id"), col("n.id").as("vec_id"),
          (-col("n.score")).as("approx_dist"))
        .orderBy(col("query_id"), col("approx_dist"), col("vec_id"))
    },
    Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            st AS (SELECT unnest(generate_series(0, 3)) AS s),
            sub AS (SELECT vec_id, s, v[16*s+1 : 16*s+16] AS sv FROM e CROSS JOIN st),
            cb AS (SELECT s, vec_id AS cent_id, sv AS cv FROM sub
                   WHERE vec_id BETWEEN 1 AND 8),
            d AS (SELECT sub.vec_id, sub.s, cb.cent_id,
                    list_dot_product(sub.sv, sub.sv)
                      - 2 * list_dot_product(sub.sv, cb.cv)
                      + list_dot_product(cb.cv, cb.cv) AS d2
                  FROM sub JOIN cb ON sub.s = cb.s),
            codes AS (SELECT vec_id, s, cent_id AS code FROM d
                      QUALIFY row_number() OVER (PARTITION BY vec_id, s
                        ORDER BY d2, cent_id) = 1),
            adc AS (SELECT l.vec_id AS query_id, c.vec_id,
                      round(sum(l.d2), 6) AS approx_dist
                    FROM codes c JOIN d l
                      ON c.s = l.s AND c.code = l.cent_id AND l.vec_id < 5
                        AND c.vec_id <> l.vec_id
                    GROUP BY l.vec_id, c.vec_id)
            SELECT query_id, vec_id, approx_dist FROM adc
            QUALIFY row_number() OVER (PARTITION BY query_id
              ORDER BY approx_dist, vec_id) <= 5
            ORDER BY query_id, approx_dist, vec_id"""))

  // ---- SemDeDup: semantic dedup over centroid cells --------------------
  // Embedding-space deduplication in the published SemDeDup shape (Abbas
  // et al. 2023, arXiv:2303.09540): partition the corpus into centroid
  // cells (q57's IVF assignment — broadcast tiny centroids against one
  // scan), find cosine-≥-τ pairs WITHIN each cell, collapse them into
  // groups (transitive closure, the same Components machinery as q73),
  // and keep one representative per group — the member FARTHEST from its
  // cell centroid (the paper's choice: the least-typical exemplar
  // carries the most information; ties break on vec_id). Differs from
  // q54 (LSH-bucket near-dup) in both candidate generation — cells adapt
  // to the data distribution, buckets are oblivious — and in emitting a
  // per-group survivor decision, not just pairs. Scale shape: the
  // all-pairs term is CONFINED to a cell (occupancy ≈ N/k, the k knob
  // makes it bounded — production k grows with N), the pair join is a
  // cell equi-join, never corpus-wide all-pairs; clustering pays
  // contracted-residue costs only; survivor choice is one window over
  // group_id, partitioned by a high-cardinality key.
  private val semDedupTau = 0.4

  /** Cell assignment, staged: every vector labeled with its nearest
    * centroid cell and its similarity to that centroid. Exposed to
    * PlanSpec separately from q86 because staging truncates the final
    * frame's lineage — the pair join's plan shape is only assertable on
    * the sub-pipeline. */
  private[graft] def semDedupCells(s: SparkSession, dir: String): DataFrame = {
    graft.plans.VectorDot.register(s)
    val emb = t(s, dir, "embeddings")
      .withColumn("norm", sqrt(expr(dotExpr.format("embedding", "embedding"))))
    val cents = emb.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"),
        col("norm").as("cnorm"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cent_id"))
    Staging.stage(emb.crossJoin(broadcast(cents))
      .withColumn("sim",
        expr(dotExpr.format("embedding", "cvec")) / (col("norm") * col("cnorm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("embedding"), col("norm"),
        col("cent_id").as("cell"), col("sim").as("cent_sim")))
  }

  /** Within-cell cosine-≥-τ pairs off the staged cell table — a cell
    * equi-join, never corpus-wide all-pairs (PlanSpec pins it). */
  private[graft] def semDedupPairs(cells: DataFrame): DataFrame = {
    val a = cells.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
      col("norm").as("na"), col("cell"))
    val b = cells.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
      col("norm").as("nb"), col("cell"))
    a.join(b, Seq("cell")).filter(col("vec_a") < col("vec_b"))
      .withColumn("score", expr(dotExpr.format("va", "vb")) / (col("na") * col("nb")))
      .filter(col("score") >= semDedupTau)
      .select("vec_a", "vec_b")
  }

  private val semDedup = Q(
    "q86_semdedup",
    (s, dir) => {
      val cells = semDedupCells(s, dir)
      val comps = Components.connected(semDedupPairs(cells), src = "vec_a", dst = "vec_b")
        .select(col("id").as("vec_id"), col("comp"))
      val kw = Window.partitionBy(col("group_id")).orderBy(col("cent_sim").asc, col("vec_id"))
      cells.join(comps, Seq("vec_id"), "left")
        .withColumn("group_id", coalesce(col("comp"), col("vec_id")))
        .withColumn("rn", row_number().over(kw))
        .select(col("vec_id"), col("cell"), col("group_id"),
          (col("rn") === 1).as("kept"))
        .orderBy("vec_id")
    },
    Some(s"""WITH RECURSIVE
            e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings),
            en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM e),
            c AS (SELECT vec_id AS cent_id, v AS cv, norm AS cnorm
                  FROM en WHERE vec_id BETWEEN 1 AND 8),
            r AS (SELECT en.vec_id, en.v, en.norm, c.cent_id,
                    list_dot_product(en.v, c.cv) / (en.norm * c.cnorm) AS sim,
                    row_number() OVER (PARTITION BY en.vec_id
                      ORDER BY list_dot_product(en.v, c.cv) / (en.norm * c.cnorm) DESC,
                               c.cent_id) AS rk
                  FROM en, c),
            cells AS (SELECT vec_id, v, norm, cent_id AS cell, sim AS cent_sim
                      FROM r WHERE rk = 1),
            jp AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                   FROM cells a JOIN cells b
                     ON a.cell = b.cell AND a.vec_id < b.vec_id
                   WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm) >= $semDedupTau),
            $clusterSqlCte,
            g AS (SELECT cells.vec_id, cells.cell, cells.cent_sim,
                    COALESCE(clusters.cluster_id, cells.vec_id) AS group_id
                  FROM cells LEFT JOIN clusters ON cells.vec_id = clusters.doc_id)
            SELECT vec_id, cell, group_id,
              (row_number() OVER (PARTITION BY group_id
                 ORDER BY cent_sim, vec_id) = 1) AS kept
            FROM g ORDER BY vec_id"""))

  // ---- corpus topic clustering (deterministic k-means) -----------------
  // The embedding-space labeling cluster-conditioned pipelines consume
  // (SemDeDup's own first stage is corpus k-means — arXiv:2303.09540 §3;
  // cluster-balanced mixing and per-topic curriculum read the same
  // table). llm/Kmeans trains full-space Lloyd iterations with every
  // nondeterminism pinned (md5-order seeds, dot-identity distances,
  // (d2, cent_id) ties, empty clusters keep their centroid) and — the
  // step that makes a TRAINED model an oracle row at all — rounds each
  // iteration's centroid means to 6 dp, collapsing cross-engine
  // partial-sum order before it can drift an assignment. The oracle
  // replays the fixed iteration count as an unrolled CTE chain (Scala-
  // generated below), so the driver verifies training end-to-end, not
  // just a fixed-centroid assignment (q57/q86's weaker form). Scale per
  // iteration: broadcast k-row centroids, map-side-collapsed assignment
  // (shuffle <= one row per vector), k*d-row mean update — see Kmeans
  // scaladoc.
  private val kmeansK = 10 // fixture plants 10 label clusters
  private val kmeansIters = 3

  private def kmeansIterSql(i: Int): String =
    s"""a$i AS (SELECT e.vec_id, e.v, c.cent_id,
              list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
                + list_dot_product(c.cv, c.cv) AS d2
            FROM en e CROSS JOIN c${i - 1} c),
        w$i AS (SELECT vec_id, v, cent_id, d2,
              row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rk
            FROM a$i),
        m$i AS (SELECT cent_id, u.i AS pos, round(avg(v[u.i]), 6) AS mv
            FROM w$i, unnest(range(1, len(v) + 1)) AS u(i)
            WHERE rk = 1 GROUP BY cent_id, u.i),
        g$i AS (SELECT cent_id, list(mv ORDER BY pos) AS ncv FROM m$i GROUP BY cent_id),
        c$i AS (SELECT c.cent_id, COALESCE(g.ncv, c.cv) AS cv
            FROM c${i - 1} c LEFT JOIN g$i g USING (cent_id))"""

  /** The DuckDB twin of `Kmeans.train` + final assignment: CTEs `en`
    * (converted vectors), `c0..c$kmeansIters` (per-iteration trained
    * centroids), and `tf` — one row per vector with its final (cell,
    * d2). Shared by q99 (the labeling itself) and the trained-model
    * consumers (q102 SemDeDup, q103 balanced sampling). */
  private val kmeansChainSql: String =
    s"""en AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        sd AS (SELECT vec_id, v,
            CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
              vec_id) - 1 AS INT) AS cent_id
          FROM en QUALIFY cent_id < $kmeansK),
        c0 AS (SELECT cent_id, v AS cv FROM sd),
        ${(1 to kmeansIters).map(kmeansIterSql).mkString(",\n")},
        af AS (SELECT e.vec_id, e.v, c.cent_id,
            list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
              + list_dot_product(c.cv, c.cv) AS d2
          FROM en e CROSS JOIN c$kmeansIters c),
        wf AS (SELECT vec_id, v, cent_id, d2,
            row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rk
          FROM af),
        tf AS (SELECT vec_id, v, cent_id, d2 FROM wf WHERE rk = 1)"""

  private val kmeansTopics = Q(
    "q99_kmeans_topics",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.llm.Kmeans.topics(emb, kmeansK, kmeansIters)
        .join(emb.select("vec_id", "label"), Seq("vec_id"))
        .select("vec_id", "label", "topic", "dist2")
        .orderBy("vec_id")
    },
    Some(s"""WITH $kmeansChainSql
            SELECT t.vec_id, e.label, t.cent_id AS topic,
              round(t.d2, 6) AS dist2
            FROM tf t JOIN embeddings e USING (vec_id)
            ORDER BY t.vec_id"""))

  // ---- SemDeDup over TRAINED cells -------------------------------------
  // q86 proves the SemDeDup machinery against FIXED centroids (vec 1-8 —
  // the oracle-replay trick of q57). The published pipeline trains its
  // cells (Abbas et al. §3 run k-means first); with the q99 trainer now
  // oracle-replayable, the production composition becomes a driver-
  // verified row too: cells = trained k-means assignment (min-d2, the
  // clustering's own geometry, rather than q86's max-cosine), within-
  // cell cosine-≥-τ pairs, transitive-closure groups, survivor = the
  // member FARTHEST from its centroid (max d2 — the paper keeps the
  // least-typical exemplar; ties on vec_id). d2 needs no rounding for
  // the ranking: both engines derive it from exact float inputs and the
  // 6 dp-rounded trained centroids through the same left-to-right dot
  // fold, so the compared bits are identical. Scale shape is q86's
  // (bounded cell occupancy, cell equi-join pairs, keyed survivor
  // window) on top of the trainer's (broadcast centroids, map-side
  // collapses).
  private val semDedupTrained = Q(
    "q102_semdedup_trained",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.llm.Kmeans.train(emb, kmeansK, kmeansIters)
      val cells = Staging.stage(graft.llm.Kmeans.assign(emb, cb)
        .withColumn("norm", sqrt(expr(dotExpr.format("v", "v")))))
      val a = cells.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("norm").as("na"), col("cent_id").as("cell"))
      val b = cells.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("norm").as("nb"), col("cent_id").as("cell"))
      val pairs = a.join(b, Seq("cell")).filter(col("vec_a") < col("vec_b"))
        .filter(expr(dotExpr.format("va", "vb")) / (col("na") * col("nb"))
          >= semDedupTau)
        .select("vec_a", "vec_b")
      val comps = Components.connected(pairs, src = "vec_a", dst = "vec_b")
        .select(col("id").as("vec_id"), col("comp"))
      val kw = Window.partitionBy("group_id")
        .orderBy(col("d2").desc, col("vec_id"))
      cells.join(comps, Seq("vec_id"), "left")
        .withColumn("group_id", coalesce(col("comp"), col("vec_id")))
        .withColumn("rn", row_number().over(kw))
        .select(col("vec_id"), col("cent_id").as("cell"), col("group_id"),
          (col("rn") === 1).as("kept"))
        .orderBy("vec_id")
    },
    Some(s"""WITH RECURSIVE $kmeansChainSql,
            cells AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm,
                cent_id AS cell, d2 FROM tf),
            jp AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                FROM cells a JOIN cells b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm)
                  >= $semDedupTau),
            $clusterSqlCte,
            g AS (SELECT cells.vec_id, cells.cell, cells.d2,
                COALESCE(clusters.cluster_id, cells.vec_id) AS group_id
              FROM cells LEFT JOIN clusters ON cells.vec_id = clusters.doc_id)
            SELECT vec_id, cell, group_id,
              (row_number() OVER (PARTITION BY group_id
                 ORDER BY d2 DESC, vec_id) = 1) AS kept
            FROM g ORDER BY vec_id"""))

  // ---- cluster-balanced exact-count sampling ---------------------------
  // The selection step cluster-conditioned curation runs on a topic
  // labeling (DINOv2-style balanced curation, cluster-based pruning):
  // exactly N vectors PER TOPIC, uniformly and reproducibly — de-skewing
  // a corpus whose topics are power-law sized. Pure composition of the
  // engine's existing machinery on the q99 labeling: q90's hash-order
  // row_number, windowed per topic (one state counter per topic per
  // task, never a global collapse), deterministic because vec_id seeds
  // the hash.
  private val perTopicN = 25

  private val topicSample = Q(
    "q103_per_topic_sample",
    (s, dir) => {
      val w = Window.partitionBy("topic").orderBy("h")
      graft.llm.Kmeans.topics(t(s, dir, "embeddings"), kmeansK, kmeansIters)
        .withColumn("h",
          md5(concat(lit("topicsample|"), col("vec_id").cast("string"))))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= perTopicN)
        .select("vec_id", "topic", "h", "rk")
        .orderBy("vec_id")
    },
    Some(s"""WITH $kmeansChainSql,
            hx AS (SELECT vec_id, cent_id AS topic,
                md5('topicsample|' || CAST(vec_id AS VARCHAR)) AS h FROM tf),
            r AS (SELECT vec_id, topic, h,
                CAST(row_number() OVER (PARTITION BY topic ORDER BY h)
                  AS BIGINT) AS rk
              FROM hx)
            SELECT vec_id, topic, h, rk FROM r
            WHERE rk <= $perTopicN ORDER BY vec_id"""))

  // ---- trained-PQ ANN (train -> encode -> ADC, the q94/q99 composition) --
  // q94 pins the encode/ADC machinery against FIXED codebooks (the only
  // kind its oracle could replay at the time); PqRecallSpec proves
  // Pq.trainCodebooks beats that baseline on a planted fixture. This row
  // closes the gap between them: the PRODUCTION composition — per-subspace
  // Lloyd TRAINING, corpus encoding against the trained codebooks, ADC
  // top-k — verified end-to-end by the driver. Replayability is the q99
  // recipe applied per subspace: md5-order seeds, dot-identity distances
  // (bit-identical folds both engines), (d2, cent_id) ties, empty cells
  // keep their centroid, and each iteration's means ROUNDED to 6 dp so
  // partial-sum order can never drift an assignment. The oracle unrolls
  // the fixed iteration count as a CTE chain over the (vec, sub) slice
  // table — one chain trains all m subspaces at once, exactly like the
  // engine's own sub-keyed aggregation. Scale shape: per iteration the
  // m*k-row codebook broadcasts and the mean update shuffles m*k*subDim
  // rows; the ADC scan is q94's (broadcast LUT, map-only fold, bounded
  // heap) — PlanSpec pins it on the trained path too.
  private val pqTrainM = 4
  private val pqTrainSubDim = 16
  private val pqTrainK = 8
  private val pqTrainIters = 2

  private def pqIterSql(i: Int): String =
    s"""pa$i AS (SELECT s.vec_id, s.sub, s.sv, c.cent_id,
              list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
                + list_dot_product(c.cv, c.cv) AS d2
            FROM psv s JOIN pc${i - 1} c ON s.sub = c.sub),
        pw$i AS (SELECT vec_id, sub, sv, cent_id,
              row_number() OVER (PARTITION BY vec_id, sub
                ORDER BY d2, cent_id) AS rk
            FROM pa$i),
        pm$i AS (SELECT sub, cent_id, u.i AS pos, round(avg(sv[u.i]), 6) AS mv
            FROM pw$i, unnest(range(1, len(sv) + 1)) AS u(i)
            WHERE rk = 1 GROUP BY sub, cent_id, u.i),
        pg$i AS (SELECT sub, cent_id, list(mv ORDER BY pos) AS ncv
            FROM pm$i GROUP BY sub, cent_id),
        pc$i AS (SELECT c.sub, c.cent_id, COALESCE(g.ncv, c.cv) AS cv
            FROM pc${i - 1} c LEFT JOIN pg$i g USING (sub, cent_id))"""

  private val pqTrained = Q(
    "q111_pq_trained",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.llm.Pq.trainCodebooks(
        emb, pqTrainM, pqTrainSubDim, pqTrainK, pqTrainIters)
      val codes = graft.llm.Pq.encode(emb, cb, pqTrainM, pqTrainSubDim)
      graft.llm.Pq.adcTopK(emb.filter(col("vec_id") < 5), codes, cb,
        pqTrainM, pqTrainSubDim, pqTrainK, topK = 5)
        .orderBy(col("query_id"), col("approx_dist"), col("vec_id"))
    },
    Some(s"""WITH pen AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            pst AS (SELECT unnest(generate_series(0, ${pqTrainM - 1})) AS sub),
            psv AS (SELECT vec_id, sub,
                v[$pqTrainSubDim*sub+1 : $pqTrainSubDim*sub+$pqTrainSubDim] AS sv
              FROM pen CROSS JOIN pst),
            psd AS (SELECT vec_id,
                CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                  vec_id) - 1 AS INT) AS cent_id
              FROM pen QUALIFY cent_id < $pqTrainK),
            pc0 AS (SELECT s.sub, d.cent_id, s.sv AS cv
              FROM psv s JOIN psd d USING (vec_id)),
            ${(1 to pqTrainIters).map(pqIterSql).mkString(",\n")},
            pdf AS (SELECT s.vec_id, s.sub, c.cent_id,
                list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
                  + list_dot_product(c.cv, c.cv) AS d2
              FROM psv s JOIN pc$pqTrainIters c ON s.sub = c.sub),
            pcodes AS (SELECT vec_id, sub, cent_id AS code FROM pdf
              QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                ORDER BY d2, cent_id) = 1),
            padc AS (SELECT l.vec_id AS query_id, c.vec_id,
                round(sum(l.d2), 6) AS approx_dist
              FROM pcodes c JOIN pdf l
                ON c.sub = l.sub AND c.code = l.cent_id
                  AND l.vec_id < 5 AND c.vec_id <> l.vec_id
              GROUP BY l.vec_id, c.vec_id)
            SELECT query_id, vec_id, approx_dist FROM padc
            QUALIFY row_number() OVER (PARTITION BY query_id
              ORDER BY approx_dist, vec_id) <= 5
            ORDER BY query_id, approx_dist, vec_id"""))

  // ---- streaming ANN index maintenance as an oracle row ----------------
  // The q82/q112 discipline applied to similarity search: each
  // invocation folds the embedding table in two halves into a FRESH
  // persisted IVF index through streaming/AnnIndex (nearest-centroid
  // assignment, novelty-probed cell-partitioned appends), then answers
  // q57's exact probe from the persisted index — so the driver checks
  // the STREAMED index against the batch IVF oracle verbatim. Probe IO
  // is partition-pruned to the probed cells; no indexed row shuffles.
  private val annIncremental = Q(
    "q126_incremental_ann",
    (s, dir) => withTempState("graft_q126_state") { state =>
      graft.plans.VectorDot.register(s)
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("norm", sqrt(expr(dotExpr.format("v", "v"))))
      val cents = emb.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("cent_id"), col("v").as("cvec"),
          col("norm").as("cnorm"))
      graft.streaming.AnnIndex.foldBatch(
        emb.filter(col("vec_id") < 250), cents, state)
      graft.streaming.AnnIndex.foldBatch(
        emb.filter(col("vec_id") >= 250), cents, state)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("norm").as("qnorm"))
      Staging.stage(graft.streaming.AnnIndex.topK(s, state, cents, queries,
          nprobe = 2, k = 5))
        .orderBy(col("query_id"), col("score").desc, col("vec_id"))
    },
    Some(ivfOracleSql))

  // ---- PCA over the embedding corpus ----------------------------------
  // The dimensionality lens of the embedding family (llm/Pca): ONE
  // corpus pass accumulates the 64×64 Gram + mean moments through a
  // typed map-side-combining Aggregator (only ~33 KB buffers cross the
  // shuffle, whatever the corpus), then everything else is
  // DIMENSION-bounded driver math — covariance, 48 fixed power
  // iterations from the all-ones direction, sign pinned by the
  // largest-|loading| dimension. The oracle replays the training
  // end-to-end: moments via an unnest self-join, the covariance, and
  // the 48 iterations as an unrolled CTE chain (the q111 trained-model
  // discipline). Fixed iteration count, NOT convergence-tested — a
  // data-dependent stop could not be replayed; the 48-step iterate
  // from a pinned start IS the defined statistic, exactly like q99's
  // fixed k-means iterations.
  /** The 48-step power iteration over covariance CTE `mat`, with every
    * generated CTE name prefixed by `pfx` (so the deflation chain can
    * run it once per component): `<pfx>v0 … <pfx>v48`, the sign pin
    * `<pfx>sp`, and the pinned result `<pfx>vf`. */
  private def pcaIterChainSql(mat: String, pfx: String): String = {
    val d = graft.llm.Pca.dim
    val iters = (1 to graft.llm.Pca.powerIters).map { t =>
      s"""${pfx}w$t AS MATERIALIZED (SELECT m.i AS i, sum(m.c * p.v) AS w
              FROM $mat m JOIN ${pfx}v${t - 1} p ON p.i = m.j GROUP BY m.i),
            ${pfx}v$t AS MATERIALIZED (SELECT i,
                w / sqrt((SELECT sum(w * w) FROM ${pfx}w$t)) AS v
              FROM ${pfx}w$t)"""
    }.mkString(",\n            ")
    val T = graft.llm.Pca.powerIters
    s"""${pfx}v0 AS (SELECT CAST(t.r AS INT) AS i, 1.0 / sqrt($d.0) AS v
              FROM range($d) t(r)),
            $iters,
            ${pfx}sp AS (SELECT CASE WHEN (SELECT v FROM ${pfx}v$T
                  ORDER BY abs(v) DESC, i LIMIT 1) < 0
                THEN -1.0 ELSE 1.0 END AS s),
            ${pfx}vf AS MATERIALIZED (SELECT i,
                v * (SELECT s FROM ${pfx}sp) AS v FROM ${pfx}v$T)"""
  }

  /** The Rayleigh quotient λ = vᵀCv and the rank-1 deflation
    * C − λ v vᵀ as CTEs — one pair per extracted component. */
  private def pcaDeflateSql(mat: String, vf: String, lam: String,
                            next: String): String =
    s"""$lam AS (SELECT sum(va.v * c0.c * vb.v) AS l
              FROM $mat c0 JOIN $vf va ON va.i = c0.i
              JOIN $vf vb ON vb.i = c0.j),
            $next AS MATERIALIZED (SELECT c0.i AS i, c0.j AS j,
                c0.c - (SELECT l FROM $lam) * va.v * vb.v AS c
              FROM $mat c0 JOIN $vf va ON va.i = c0.i
              JOIN $vf vb ON vb.i = c0.j)"""

  private def pcaChainSql: String = {
    // MATERIALIZED: DuckDB inlines CTEs by default, and the iteration
    // chain references cv (→ the embeddings scan) once per step —
    // inlined, that is 48 re-scans and an open-file blowup.
    s"""el AS MATERIALIZED (SELECT vec_id,
              CAST(unnest(embedding) AS DOUBLE) AS x,
              generate_subscripts(embedding, 1) - 1 AS i FROM embeddings),
            nn AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
            mn AS MATERIALIZED (SELECT i, sum(x) / (SELECT n FROM nn) AS m
              FROM el GROUP BY i),
            gr AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
                sum(a.x * b.x) AS g
              FROM el a JOIN el b USING (vec_id) GROUP BY a.i, b.i),
            cv AS MATERIALIZED (SELECT g.i, g.j,
                g.g / (SELECT n FROM nn) - ma.m * mb.m AS c
              FROM gr g JOIN mn ma ON ma.i = g.i JOIN mn mb ON mb.i = g.j),
            ${pcaIterChainSql("cv", "")}"""
  }

  private def round6(c: Column): Column = round(c, 6)

  private val pcaLoadings = Q(
    "q132_pca_loadings",
    (s, dir) => {
      val m = graft.llm.Pca.moments(t(s, dir, "embeddings"), "embedding")
      val (_, v, lam, evr) = graft.llm.Pca.principal(m)
      // the fitted model IS the result — dimension-bounded (64 rows),
      // the same bounded-model materialization as trained centroids
      import s.implicits._
      v.toSeq.zipWithIndex
        .map { case (x, i) => (i.toLong, x) }
        .toDF("dim", "raw")
        .select(col("dim"), round6(col("raw")).as("loading"),
          round(lit(lam), 4).as("eigval"), round(lit(evr), 6).as("evr"))
        .orderBy("dim")
    },
    Some(s"""WITH $pcaChainSql,
            lam AS (SELECT sum(va.v * cv.c * vb.v) AS l
              FROM cv JOIN vf va ON va.i = cv.i JOIN vf vb ON vb.i = cv.j),
            tr AS (SELECT sum(c) AS t FROM cv WHERE i = j)
            SELECT CAST(i AS BIGINT) AS dim, round(v, 6) AS loading,
              round((SELECT l FROM lam), 4) AS eigval,
              round((SELECT l FROM lam) / (SELECT t FROM tr), 6) AS evr
            FROM vf ORDER BY dim"""))

  // PC1 projection — the trained direction APPLIED at corpus scale: the
  // mean and loadings ride into a single map-only scan as literal
  // arrays (no join, no shuffle before the top-k cut, which is
  // orderBy+limit = TakeOrderedAndProject). Scores are rounded BEFORE
  // the rank cut so the orderings agree cross-engine.
  private val pcaProject = Q(
    "q133_pca_project",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val m = graft.llm.Pca.moments(emb, "embedding")
      val (mean, v, _, _) = graft.llm.Pca.principal(m)
      val center = mean.zip(v).map { case (a, b) => a * b }.sum
      // Double.toString round-trips, so the literal array is exact
      val vsql = v.map(x => s"${x}D").mkString(", ")
      emb.select(col("vec_id"), col("label"),
          round6(expr(s"aggregate(zip_with(embedding, array($vsql), " +
              "(x, w) -> CAST(x AS DOUBLE) * w), 0D, (acc, y) -> acc + y)")
            - lit(center)).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(20)
    },
    Some(s"""WITH $pcaChainSql,
            ctr AS (SELECT sum(m.m * f.v) AS c
              FROM mn m JOIN vf f ON f.i = m.i),
            sc AS (SELECT e.vec_id,
                round(sum(e.x * f.v) - (SELECT c FROM ctr), 6) AS score
              FROM el e JOIN vf f ON f.i = e.i GROUP BY e.vec_id)
            SELECT s.vec_id, b.label, s.score
            FROM sc s JOIN embeddings b USING (vec_id)
            ORDER BY s.score DESC, s.vec_id LIMIT 20"""))

  // Streaming moments made driver-visible: two streamed folds into the
  // summary-sized moment state (streaming/PcaStream — d·d + d + 1
  // cells whatever the corpus, exactly-once via the in-frame batch
  // ledger) must answer the SAME loadings as the batch q132 over the
  // whole table, which is what the oracle retrains from scratch.
  private val pcaIncremental = Q(
    "q134_incremental_pca",
    (s, dir) => withTempState("graft_q134_state") { state =>
      val emb = t(s, dir, "embeddings")
      graft.streaming.PcaStream.foldBatch(
        emb.filter(col("vec_id") < 250), "embedding", "b0", state)
      graft.streaming.PcaStream.foldBatch(
        emb.filter(col("vec_id") >= 250), "embedding", "b1", state)
      // a redelivery must be absorbed by the ledger, not double-counted
      graft.streaming.PcaStream.foldBatch(
        emb.filter(col("vec_id") < 250), "embedding", "b0", state)
      graft.streaming.PcaStream.report(s, state)
    },
    pcaLoadings.oracle)

  // ---- multi-component PCA by deflation ---------------------------------
  // Real embedding curation (outlier maps, diversity sampling) wants
  // more than the dominant direction: the top 3 PCs by Hotelling
  // deflation — extract v₁ from C, subtract λ₁v₁v₁ᵀ, iterate again on
  // the residual. The corpus cost is UNCHANGED (the same one moments
  // pass as q132; deflation is d×d driver arithmetic), and the oracle
  // replays the whole thing: three 48-step iteration chains with the
  // rank-1 subtraction CTE between (the q132 unrolled-replay discipline
  // ×3). Explained-variance ratios are against the ORIGINAL trace, so
  // they sum toward 1 across components; eigenvalues descend up to the
  // fixed iterate's convergence slack (exact order is a convergence
  // property, and the replayable statistic is the 48-step iterate).
  private val pcaComponents = Q(
    "q143_pca_components",
    (s, dir) => {
      val m = graft.llm.Pca.moments(t(s, dir, "embeddings"), "embedding")
      val (_, comps) = graft.llm.Pca.principals(m, 3)
      import s.implicits._
      comps.zipWithIndex.flatMap { case ((v, lam, evr), c) =>
        v.zipWithIndex.map { case (x, i) =>
          ((c + 1).toLong, i.toLong, x, lam, evr)
        }
      }.toDF("pc", "dim", "raw", "lam", "ev")
        .select(col("pc"), col("dim"), round6(col("raw")).as("loading"),
          round(col("lam"), 4).as("eigval"), round(col("ev"), 6).as("evr"))
        .orderBy("pc", "dim")
    },
    Some(s"""WITH $pcaChainSql,
            tr AS (SELECT sum(c) AS t FROM cv WHERE i = j),
            ${pcaDeflateSql("cv", "vf", "l1", "cvd2")},
            ${pcaIterChainSql("cvd2", "p2")},
            ${pcaDeflateSql("cvd2", "p2vf", "l2", "cvd3")},
            ${pcaIterChainSql("cvd3", "p3")},
            l3 AS (SELECT sum(va.v * c0.c * vb.v) AS l
              FROM cvd3 c0 JOIN p3vf va ON va.i = c0.i
              JOIN p3vf vb ON vb.i = c0.j)
            SELECT * FROM (
              SELECT CAST(1 AS BIGINT) AS pc, CAST(i AS BIGINT) AS dim,
                round(v, 6) AS loading,
                round((SELECT l FROM l1), 4) AS eigval,
                round((SELECT l FROM l1) / (SELECT t FROM tr), 6) AS evr
              FROM vf
              UNION ALL
              SELECT CAST(2 AS BIGINT), CAST(i AS BIGINT), round(v, 6),
                round((SELECT l FROM l2), 4),
                round((SELECT l FROM l2) / (SELECT t FROM tr), 6)
              FROM p2vf
              UNION ALL
              SELECT CAST(3 AS BIGINT), CAST(i AS BIGINT), round(v, 6),
                round((SELECT l FROM l3), 4),
                round((SELECT l FROM l3) / (SELECT t FROM tr), 6)
              FROM p3vf)
            ORDER BY pc, dim"""))

  val queries: Seq[Q] = Seq(
    cosineTopK, embedBuckets, annTopK, embedNearDup, ivfTopK, semDedup,
    pqTopK, kmeansTopics, semDedupTrained, topicSample, pqTrained,
    annIncremental, pcaLoadings, pcaProject, pcaIncremental, pcaComponents)
}
