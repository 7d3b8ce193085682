package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Staging
import graft.llm.Simhash

/** Streaming PageRank maintenance — the dedup-state discipline applied
  * to the near-dup centrality graph (q131's semantics): documents
  * arrive in micro-batches, their simhash band entries fold into a
  * persisted band index, NEW edges are discovered by banding the batch
  * against that index (never all-pairs, never re-pairing the old
  * corpus), and a re-rank over the CURRENT edge state answers the batch
  * PageRank oracle verbatim through the shared [[graft.llm.PageRank]]
  * arithmetic.
  *
  * What is incremental and what is not: EDGE MAINTENANCE is ∝ delta —
  * the batch's band entries probe the (partition-pruned) band store,
  * the delta rides a broadcast, and only novel rows append. The RANK
  * itself is a global fixpoint — a per-cadence re-iteration over the
  * accumulated edge/node stores is the honest contract (ranks are cheap
  * relative to pair discovery: three keyed-join passes over edges vs a
  * banded candidate join + hamming verification per fold).
  *
  * State under `statePath` (all bucketed, all novelty-guarded, so
  * at-least-once redelivery converges per table):
  *  - `nodes/` (doc_id) by doc-hash — ALL ingested docs, including
  *    token-less ones that can never pair but still hold rank mass
  *    (exactly q131's node set);
  *  - `bands/` (doc_id, lang, seg, seg_val, simhash) by band-hash — the
  *    probe index; novelty on (doc_id, seg);
  *  - `edges/` (doc_a, doc_b) by doc_a-hash — verified candidate pairs,
  *    doc_a < doc_b; novelty on the pair.
  * Fold order is {edges ∥ bands} → nodes: the NODE store gates the fold
  * (only node-novel docs are signed and paired), so it lands strictly
  * last — a crash anywhere earlier replays the whole fold against
  * idempotent appends. The edge and band appends run CONCURRENTLY
  * (graft.core.Par): each is novelty-guarded, and candidate generation
  * excludes current-delta docs from its state-side probe slice, so
  * every half-fold shape a crash can leave — bands landed but edges
  * not, or the reverse — replays without emitting a pair twice into
  * one delta.
  */
object PageRankStream {

  private def nodesPath(state: String) = s"$state/nodes"
  private def bandsPath(state: String) = s"$state/bands"
  private def edgesPath(state: String) = s"$state/edges"

  /** Bucket modulus — the ClusterMaintenance layout contract. */
  private val stateBuckets = 32
  private def docBucket(id: Column): Column =
    pmod(xxhash64(id), lit(stateBuckets)).cast("int")
  private def bandBucket: Column =
    pmod(xxhash64(col("seg"), col("seg_val"), col("lang")),
      lit(stateBuckets)).cast("int")

  /** The LSH banding of the near-dup graph — a DEPLOYMENT parameter,
    * not a constant: candidate generation equi-joins on
    * `(seg, seg_val, lang)`, so each segment bucket holds
    * `2^segBits` distinct values and banded candidates stay
    * bounded-occupancy only while the corpus is small relative to the
    * band space. As the corpus grows, WIDEN the banding (more signature
    * bits per segment → exponentially more bucket values) exactly like
    * raising `stateBuckets` — the algorithmic shape (hash-equi-join,
    * never all-pairs) is unchanged, only the bucket fan-out grows.
    * Measured in BENCH_SF1.md's streaming-folds section: at the default
    * 8×4-bit banding a 10× corpus shuffles 11.4× (the 16-value band
    * space saturating); at [[Banding.wide]] the slope returns to
    * ~linear.
    *
    * Pigeonhole soundness: `maxHamming` differing bits touch at most
    * `maxHamming` segments, so with `numSegs > maxHamming` every
    * qualifying pair agrees on ≥ 1 segment and the equi-join finds it —
    * the `require` makes the recall guarantee a constructor invariant.
    * `simBits ≤ 63` keeps the signature sign-free in a BIGINT (the
    * cross-engine-exactness constraint the batch q50/q131 arithmetic
    * shares). */
  final case class Banding(simBits: Int, numSegs: Int, segBits: Int,
                           maxHamming: Int) {
    require(simBits >= 1 && simBits <= 63,
      s"simBits must be in [1, 63] (sign-free BIGINT), got $simBits")
    require(numSegs >= 1 && segBits >= 1 && numSegs * segBits <= simBits,
      s"segments must tile the signature: $numSegs × $segBits > $simBits bits")
    require(numSegs > maxHamming,
      s"pigeonhole recall needs numSegs > maxHamming ($numSegs ≤ $maxHamming)")
    val segMask: Long = (1L << segBits) - 1
    /** The state tag value — all four parameters, so a fold under ANY
      * changed setting is refused against existing band/edge state. */
    def tag: String = s"$simBits:$numSegs:$segBits:$maxHamming"
    /** Exactly-once pair emission: keep a candidate only at its LOWEST
      * agreeing segment (a zero segBits-wide slice of sim_a ^ sim_b) —
      * the batch path's literal-mask arithmetic verbatim. */
    def firstAgreeingSeg: String = (0 until numSegs)
      .map(j => s"WHEN ((sim_a ^ sim_b) & ${segMask << (j * segBits)}L) = 0 THEN $j")
      .mkString("CASE ", " ", " END")
  }

  object Banding {
    /** q131's oracle constants: 32-bit simhash, 8 segments × 4 bits,
      * Hamming ≤ 6 — the TEST-SCALE semantic (the batch q51/q131 rows
      * are pinned to it), and the default so q144 answers the batch
      * oracle verbatim. */
    val default: Banding = Banding(32, 8, 4, 6)
    /** The documented scale setting: 63-bit signature (the BIGINT
      * sign-free ceiling), 9 segments × 7 bits → 128 values per
      * (segment, lang) bucket — the banding a corpus that saturates
      * the default's 16-value band space moves to. */
    val wide: Banding = Banding(63, 9, 7, 6)
  }

  /** Fold one micro-batch of documents (`doc_id`, `lang`, `text`) into
    * the persisted graph. Per-fold cost: one signature pass over the
    * batch's NOVEL docs, one pruned band-store probe, one banded
    * self-join of the delta, novelty-guarded ≤`stateBuckets`-file
    * appends. No accumulated row ever shuffles.
    *
    * `banding` must be held fixed over a state's lifetime: band rows
    * and verified edges are meaningless under any other setting, so the
    * band store stamps a `_banding` tag BEFORE its first append lands
    * and later folds REFUSE a mismatch, and an existing store with no
    * tag (re-banding an existing graph is a batch rebuild, not a fold —
    * see [[rebandTo]]). */
  def foldBatch(batch: DataFrame, statePath: String,
                banding: Banding = Banding.default): Unit = {
    import banding.{simBits, numSegs, maxHamming, firstAgreeingSeg}
    val spark = batch.sparkSession
    val np = nodesPath(statePath)
    val bp = bandsPath(statePath)
    val ep = edgesPath(statePath)

    // the re-band marker lives on nodes/, the one store rebandTo never
    // swaps
    StateStore.checkBanding(spark, statePath, np, bp, banding.tag)

    // id-only delta for the novelty probe: staging the batch TEXT here
    // would checkpoint the corpus bytes twice per fold for a probe that
    // only reads keys — the text is joined back exactly once, for the
    // signature pass, whose output is what gets staged
    val (delta, dn) = Staging.stageCounted(
      batch.select(col("doc_id")).withColumn("nb", docBucket(col("doc_id"))))
    if (dn == 0) { Staging.release(delta); return }
    // a fresh node store means the whole delta is novel — novelAgainst
    // returns `delta` unchanged, and re-staging an already-staged frame
    // would pay one more checkpoint + count for nothing
    val (novel, nNew) =
      if (!StateStore.exists(spark, np)) (delta, dn)
      else Staging.stageCounted(StateStore.novelAgainst(np, delta,
        Seq("doc_id"), "nb", docBucket(col("doc_id")), stateBuckets,
        deltaRows = dn))
    if (nNew == 0) { Staging.release(delta, novel); return }

    // signatures + band entries of the novel docs (token-less docs
    // produce no signature, exactly as the batch pass)
    val sims = Simhash.simhashOf(
      batch.select(col("doc_id"), col("lang"), col("text"))
        .join(broadcast(novel.select("doc_id")), Seq("doc_id")), simBits)
    val bandsDelta = Staging.stage(
      segRows(sims, banding).withColumn("bb", bandBucket))
    StateStore.stampBanding(spark, bp, banding.tag)

    // candidates BEFORE the band append (else new-vs-new would double
    // through the state side), in ONE join: the left side is the pruned
    // state slice tagged is_new=false unioned with the delta tagged
    // is_new=true, the right side is the broadcast delta — so old-vs-new
    // (da ≠ db; the new doc only ever appears on the right) and
    // new-vs-new (da < db) pair in a single pass instead of two
    // materialized joins over the same inputs
    val newSide = bandsDelta.select(col("doc_id").as("db"), col("lang"),
      col("seg"), col("seg_val"), col("simhash").as("sim_b"))
    val deltaSide = bandsDelta
      .select(col("doc_id").as("da"), col("lang"), col("seg"),
        col("seg_val"), col("simhash").as("sim_a"), lit(true).as("is_new"))
    // the state-side slice EXCLUDES docs in the current delta: a crash
    // between the band append and the node append leaves a doc's bands
    // in state while the doc is still node-novel, so its replay would
    // otherwise pair once through the state side AND once through the
    // is_new side — emitting the pair twice into one edge delta, which
    // the novelty guard (state-vs-delta only) cannot absorb. The
    // exclusion is a broadcast anti over the pruned slice (delta-sized
    // build, slice-sized probe); it replaces a full edge-delta-sized
    // distinct() shuffle as the replay armor.
    val leftBands =
      if (!StateStore.exists(spark, bp)) deltaSide
      else StateStore.prunedByTouched(spark, bp, "bb", bandsDelta, col("bb"),
          stateBuckets, deltaRows = nNew * numSegs)
        .join(broadcast(novel.select("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id").as("da"), col("lang"), col("seg"),
          col("seg_val"), col("simhash").as("sim_a"), lit(false).as("is_new"))
        .unionByName(deltaSide)
    val cands = leftBands
      .join(broadcast(newSide), Seq("seg", "seg_val", "lang"))
      .filter(when(col("is_new"), col("da") < col("db"))
        .otherwise(col("da") =!= col("db")))
      .filter(col("seg") === expr(firstAgreeingSeg))
      .filter(expr("CAST(bit_count(sim_a ^ sim_b) AS INT)") <= maxHamming)
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))

    // the whole edge side and the whole band side are independent (each
    // novelty-guarded; the half-fold shapes either order can leave are
    // the ones the distinct + novelty guards already absorb — see the
    // fold-order note above), so they overlap END TO END: the banded
    // candidate join (the fold's one intrinsic cost) runs concurrently
    // with the band-side probe + append, not just the two appends. The
    // band append landing first cannot leak into the candidate join:
    // `cands` reads the band store through the listing prunedByTouched
    // pinned above, which a concurrent append does not extend. The NODE
    // append stays strictly AFTER both: it is the fold's gate.
    val edgeDeltaSlot = new java.util.concurrent.atomic.AtomicReference[DataFrame]
    graft.core.Par.awaitBoth(
      {
        // staged: the edge-novelty probe consumes its delta three times
        // and the append a fourth — unstaged, EACH re-runs the candidate
        // join (measured 4x the fold cost). No distinct: pairs are
        // emitted exactly once by construction (lowest agreeing segment
        // + the state-side delta exclusion above), so a dedup shuffle
        // over the edge delta would be a pure no-op exchange.
        val (edgeDelta, nEdges) = Staging.stageCounted(
          cands.withColumn("eb", docBucket(col("doc_a"))))
        edgeDeltaSlot.set(edgeDelta)
        val novelEdges = StateStore.novelAgainst(ep, edgeDelta,
          Seq("doc_a", "doc_b"), "eb", docBucket(col("doc_a")), stateBuckets,
          deltaRows = nEdges)
        StateStore.appendBucketed(novelEdges, ep, "eb", deltaRows = nEdges)
      },
      {
        val novelBands = StateStore.novelAgainst(bp, bandsDelta,
          Seq("doc_id", "seg"), "bb", bandBucket, stateBuckets,
          deltaRows = nNew * numSegs)
        StateStore.appendBucketed(novelBands, bp, "bb",
          deltaRows = nNew * numSegs)
      })

    StateStore.appendBucketed(novel.select("doc_id", "nb"), np, "nb",
      deltaRows = nNew)
    // the fold's staged intermediates are dead once the appends land —
    // dropping their blocks here keeps a fold-heavy session's executor
    // storage flat (the re-rank that follows two folds measured ~2 s of
    // pressure from dead fold blocks before this release)
    Staging.release(delta, novel, bandsDelta)
    Option(edgeDeltaSlot.get).foreach(Staging.release(_))
  }

  /** (doc_id, lang, seg, seg_val, simhash) band rows of a signature
    * frame under `banding` — the one definition of the segment
    * explode, shared by the fold and the re-band rebuild. */
  private def segRows(sims: DataFrame, banding: Banding): DataFrame = {
    import banding.{numSegs, segBits, segMask}
    sims.select(col("doc_id"), col("lang"), col("simhash"),
        explode(expr(s"transform(sequence(0, ${numSegs - 1}), i -> " +
          s"named_struct('seg', i, 'seg_val', " +
          s"shiftright(simhash, i * $segBits) & $segMask))")).as("sb"))
      .select(col("doc_id"), col("lang"), col("sb.seg").as("seg"),
        col("sb.seg_val").as("seg_val"), col("simhash"))
  }

  /** Re-band an existing graph to `newBanding` — the BATCH REBUILD the
    * fold guard's refusals point at, made operational: re-sign every
    * folded doc, rebuild the band store and the verified edge set under
    * the new setting, swap both atomically, restamp. The node store
    * (the ingest ledger) is untouched; `corpus` must carry
    * (`doc_id`, `lang`, `text`) for every folded doc — band state holds
    * signatures, not text, so re-signing needs the source of truth
    * (the same contract as an IVF retrain's vector re-read,
    * [[AnnIndex.rebalance]]). Corpus rows never folded are ignored
    * (this is a re-band, not a fold — fold them afterwards); folded
    * docs MISSING from the corpus lose their band rows and pairs, so
    * corpus completeness is the caller's contract. Cost ∝ corpus —
    * maintenance cadence, never per batch.
    *
    * Crash consistency: the rebuild runs inside `StateStore.reband`,
    * whose `_rebanding` marker lands FIRST, on the one store this
    * rebuild never swaps (nodes/), and refuses folds until the restamp.
    * Any crash leaves the marker, so the remedy is always "re-run
    * rebandTo" (idempotent: each swap publishes complete-old or
    * complete-new). */
  def rebandTo(corpus: DataFrame, statePath: String,
               newBanding: Banding): Unit = {
    val spark = corpus.sparkSession
    val np = nodesPath(statePath)
    val bp = bandsPath(statePath)
    val ep = edgesPath(statePath)
    require(StateStore.exists(spark, np),
      s"no folded state at $statePath to re-band")
    StateStore.reband(spark, np, bp, newBanding.tag) {
      val docs = corpus.select("doc_id", "lang", "text")
        .join(StateStore.readPacked(spark, np).select("doc_id"), Seq("doc_id"))
      val sims = Simhash.simhashOf(docs, newBanding.simBits)
      // staged: consumed by both self-join sides and the band swap write
      val bands = Staging.stage(
        segRows(sims, newBanding).withColumn("bb", bandBucket))
      val aSide = bands.select(col("doc_id").as("da"), col("lang"),
        col("seg"), col("seg_val"), col("simhash").as("sim_a"))
      val bSide = bands.select(col("doc_id").as("db"), col("lang"),
        col("seg"), col("seg_val"), col("simhash").as("sim_b"))
      val edges = aSide.join(bSide, Seq("seg", "seg_val", "lang"))
        .filter(col("da") < col("db"))
        .filter(col("seg") === expr(newBanding.firstAgreeingSeg))
        .filter(expr("CAST(bit_count(sim_a ^ sim_b) AS INT)")
          <= newBanding.maxHamming)
        .select(col("da").as("doc_a"), col("db").as("doc_b"))
        .withColumn("eb", docBucket(col("doc_a")))
      graft.sinks.Sinks.snapshotSwap(edges.repartition(col("eb")), ep, Seq("eb"))
      graft.sinks.Sinks.snapshotSwap(bands.repartition(col("bb")), bp, Seq("bb"))
      Staging.release(bands)
    }
  }

  /** Compact the append-only stores — callers wire it on a batch
    * cadence, like the cluster state's. */
  def compact(spark: SparkSession, statePath: String): Unit = {
    StateStore.compactBucketed(spark, edgesPath(statePath), "eb")
    // the band store's _banding tag and the node store's in-progress
    // _rebanding marker live on directories these swaps replace —
    // carry them across (compactBucketed's preserveTags), or a
    // compaction leaves an untagged store the banding guard refuses
    StateStore.compactBucketed(spark, bandsPath(statePath), "bb",
      preserveTags = Seq("_banding"))
    StateStore.compactBucketed(spark, nodesPath(statePath), "nb",
      preserveTags = Seq("_rebanding"))
  }

  /** Re-rank over the CURRENT edge/node state — q131's exact arithmetic
    * via the shared [[graft.llm.PageRank]]. A graph nobody has folded
    * yet answers EMPTY, not PATH_NOT_FOUND (the startup-race rule).
    * @return (doc_id, pr) — unordered */
  def ranks(spark: SparkSession, statePath: String): DataFrame = {
    if (!StateStore.exists(spark, nodesPath(statePath)))
      return spark.range(0).select(col("id").as("doc_id"),
        col("id").cast("double").as("pr"))
    val nodes = StateStore.readPacked(spark, nodesPath(statePath)).select("doc_id")
    val pairs =
      if (StateStore.exists(spark, edgesPath(statePath)))
        StateStore.readPacked(spark, edgesPath(statePath)).select("doc_a", "doc_b")
      else nodes.limit(0).select(col("doc_id").as("doc_a"),
        col("doc_id").as("doc_b"))
    // STAGED iterations with the invariant-join hoist: this frame is
    // always MATERIALIZED (the oracle row checkpoints it), and under
    // the node-count-gated broadcasts each staged iteration is one
    // map-side pass over the edge frame — measured at sf0.1: 2.4–2.9 s
    // staged vs 2.8–3.6 s one lazy plan vs ~5–6.5 s before the
    // broadcast gate (when every iteration paid an edge-sized shuffle
    // write the size gate now skips). Strategy notes and the
    // count()-pruning measurement trap: the PageRank.ranks scaladoc.
    graft.llm.PageRank.ranks(nodes, pairs, stageIterations = true)
  }
}
