package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Staging
import graft.llm.{MinHash, Splits}
import graft.operators.Components
import graft.sinks.Sinks

/** Streaming near-dup CLUSTER maintenance — the loop that was open
  * between `Components.merge` (batch incremental clustering) and the
  * streaming near-dup gate (`NearDup.flagAgainstIndex`): a `foreachBatch`
  * sink that folds each micro-batch's verified pairs into a persisted
  * labeling, so the cluster table stays current as documents arrive
  * instead of waiting for the next batch re-cluster.
  *
  * Persisted state under `statePath` (q76's persisted-index architecture,
  * extended with the labeling):
  *  - `bands/` — append-only MinHash band index (`MinHash.bandIndexOf`
  *    columns), hash-bucket-partitioned on (band, bucket) — see
  *    [[stateBuckets]]; the batch never re-shingles the corpus,
  *  - `toks/`  — append-only distinct-token table (the q49 shape) for
  *    exact-Jaccard verification, hash-bucket-partitioned on doc_id,
  *  - `labels/` — the (id, comp) labeling, id-bucket-partitioned; a
  *    fold rewrites ONLY the buckets holding members of the components
  *    the delta touches (see [[foldLabels]]) — per-batch label cost is
  *    affected-subgraph-sized, not labeling-sized.
  *
  * Per-batch cost scales with the delta: the batch's bands are computed
  * map-only (`NearDup.bands`, bit-parity with the batch index), candidate
  * generation is the delta-vs-index band equi-join plus the delta's
  * self-join (both keyed, never all-pairs), verification reuses the
  * shared `MinHash.jaccardScore` core, and the label fold is
  * `Components.merge` over ONLY the affected components (their old
  * labels enter as diameter-2 star edges, so convergence never
  * re-walks edge history — see [[foldLabels]]). The streamed
  * labeling is IDENTICAL to one batch re-cluster of the full corpus
  * (StreamingSpec pins it): band values, exactly-once emission, and the
  * Jaccard threshold are all the batch code paths, and merge == full
  * re-cluster is pinned by ComponentsSpec.
  *
  * Replay safety: `foreachBatch` redelivers a batch after a crash. The
  * appends and the label publish run concurrently within a fold, but
  * foldBatch returns — and the stream checkpoint advances — only after
  * ALL state writes complete, so any crash mid-fold replays the whole
  * batch. A replayed append duplicates index/token rows, which
  * duplicates candidate EDGES but cannot change connectivity
  * (Components is a fixpoint over the edge SET), a replayed label fold
  * re-merges idempotently, and the self-pair filter below keeps a
  * replayed delta (now visible in the index) from emitting doc==doc
  * edges. Duplicated state rows are storage, not correctness — the next
  * compaction/re-cluster reclaims them.
  */
object ClusterMaintenance {

  private def bandsPath(state: String) = s"$state/bands"
  private def toksPath(state: String) = s"$state/toks"
  private def labelsPath(state: String) = s"$state/labels"

  /** Hash-prefix bucket count for the persisted band/token stores. The
    * state tables are PARTITIONED by a stable hash of their probe key,
    * so a micro-batch reads only the buckets its delta touches (the
    * `Upsert.partitioned` touched-partition discipline applied to
    * streaming state) — per-batch probe IO is bounded by
    * touched-buckets x bucket-size instead of the whole table, and the
    * probes below never SHUFFLE a state row at all (the delta rides a
    * broadcast). 32 buckets matches the session's shuffle-partition
    * count, so a fold appends at most one file per task at test scale; a
    * 100 TB deployment raises it (bucket count is a layout constant —
    * changing it means a state rewrite, detected and performed by
    * `StateStore.ensureBucketed` via the persisted `_buckets` marker). */
  private val stateBuckets = 32

  /** Partition bucket of a band-index row: stable hash of the probe key
    * (band, bucket) — the delta's equi-join prunes to these. */
  private def bandBucket = pmod(xxhash64(col("band"), col("bucket")),
    lit(stateBuckets)).cast("int").as("pb")

  /** Partition bucket of a token row: stable hash of doc_id — candidate
    * verification fetches corpus token sets by id. */
  private[streaming] def tokBucket(id: Column) =
    pmod(xxhash64(id), lit(stateBuckets)).cast("int")

  /** Partition bucket of a label row: stable hash of the member id. The
    * id (unlike the comp) never changes, so a row never moves buckets —
    * a label update rewrites exactly the buckets its members live in.
    * Same function as [[tokBucket]] by design (one id-bucketing
    * contract across the id-keyed state tables). */
  private def labelsBucketOf(id: Column) = tokBucket(id)

  /** Partition bucket of a comp-projection row: same hash family,
    * applied to the COMPONENT key — the projection exists so the member
    * lookup can partition-prune by comp (see [[foldLabels]]). A row here
    * DOES move buckets when its comp changes; the fold handles that by
    * swapping both the old comp's bucket (known from the affected set)
    * and the new one's. */
  private def compBucketOf(c: Column) = tokBucket(c)

  /** Generation tag syncing the labeling with its comp projection: each
    * label publish advances `_gen` on `labels/` BEFORE touching data, and
    * the projection is stamped with the same value only AFTER its own
    * swap completes — so any crash between the two, and any bulk fold
    * (which skips the projection on purpose), leaves a mismatch, and the
    * next delta fold rebuilds the projection wholesale from the labeling
    * before trusting it. */
  private val GenTag = "_gen"
  private def newGen() = java.util.UUID.randomUUID().toString

  // independent-action overlap: graft.core.Par (shared with the other
  // streaming folds — the fixed-cost analysis lives on its scaladoc)
  private def awaitBoth[A, B](a: => A, b: => B): (A, B) =
    graft.core.Par.awaitBoth(a, b)

  /** Fold one micro-batch of documents (`doc_id`, `text`) into the
    * persisted clustering state. Callable directly for batch ingests;
    * [[sink]] wires it as the foreachBatch of a stream.
    *
    * `banding` must be held fixed over a state's lifetime (the
    * [[PageRankStream.foldBatch]] contract applied to the cluster
    * tier): band rows are meaningless under any other setting, so the
    * band store stamps a `_banding` tag BEFORE its first append lands
    * and later folds REFUSE a mismatch. An UNTAGGED store that already
    * exists was necessarily written by a pre-tag engine version whose
    * constants were inlined — i.e. under [[NearDup.Banding.default]] —
    * so only a default fold may adopt (and stamp) it; re-banding an
    * existing clustering is a batch rebuild ([[rebandTo]] in place, or
    * a new statePath), not a fold. The default answers the q46/q73/q82
    * oracles verbatim. */
  def foldBatch(batch: DataFrame, statePath: String,
                threshold: Double = 0.5,
                banding: NearDup.Banding = NearDup.Banding.default): Unit = {
    // a ProcessingTime trigger delivers an EMPTY micro-batch every idle
    // interval; folding one would append a zero-row file set to bands/
    // and toks/ each time — a small-file leak no compaction cadence can
    // outrun on a mostly-idle stream. Nothing to index, nothing to pair:
    // skip entirely (the isEmpty probe is a LocalLimit(1) scan).
    if (batch.isEmpty) return
    val spark = batch.sparkSession

    // an interrupted [[rebandTo]] leaves the band store and labeling in
    // a mixed-generation shape its marker records; folding into it
    // would mix bandings however the tag reads — refuse until it
    // completes (the marker lives on toks/, the one store the rebuild
    // never swaps)
    StateStore.readTag(spark, toksPath(statePath), "_rebanding").foreach { t =>
      require(requirement = false,
        s"state at $statePath has an interrupted re-band to $t; " +
          "re-run rebandTo to complete it before folding")
    }

    // banding-consistency guard (see the scaladoc): refuse a mismatch
    // BEFORE any append can mix settings in one store; an untagged
    // existing store is pre-tag state = default-banded, adoptable only
    // by a default fold (stamping the CALLER's setting on it would be
    // the silent mixed-banding corruption the tag refuses)
    val bp = bandsPath(statePath)
    StateStore.readTag(spark, bp, "_banding") match {
      case Some(t) =>
        require(t == banding.tag,
          s"band state at $bp was built under banding $t; refusing to " +
            s"fold under ${banding.tag} — re-banding an existing " +
            "clustering is a batch rebuild (rebandTo / new statePath), " +
            "not a fold")
      case None if StateStore.exists(spark, bp) =>
        require(banding == NearDup.Banding.default,
          s"band state at $bp predates the _banding tag, so it was built " +
            s"under the default ${NearDup.Banding.default.tag}; refusing " +
            s"to fold under ${banding.tag} — re-banding an existing " +
            "clustering is a batch rebuild (rebandTo / new statePath), " +
            "not a fold")
      case None => () // fresh state: stamped below, before any append
    }

    // the delta's own artifacts, staged once as ONE combined frame —
    // the tokenizer and the band expression run a single time over the
    // batch (they share the tokenize/shingle prefix, so staging them
    // separately would pay that prefix twice); the band explode and the
    // per-artifact bucket columns are narrow post-staging projections
    // of the checkpointed rows, re-derived per consumer at in-memory
    // scan cost
    val delta = Staging.stageLazy(NearDup.bandsAndToks(batch, banding))
    val deltaBands = NearDup.explodeBands(delta).drop("toks")
      .withColumn("pb", bandBucket)
    val deltaToks = delta.select(col("doc_id"), col("toks"))
      .withColumn("tb", tokBucket(col("doc_id")))
    // counted once off the staged delta: feeds the pruning hints AND
    // the small-delta single-task append path. The count is ALSO the
    // lazy staging's materializing action (one job for both).
    // (A co-partitioned re-staging of the band rows was measured and
    // REJECTED here: localCheckpoint does not carry outputPartitioning
    // into the LogicalRDD, so the self-join re-planned both exchanges
    // anyway — ScaleSanity k=100 read +1.0M records over the status
    // quo, in which AQE already converts one join side to a broadcast
    // off the first materialized exchange.)
    val nBands = deltaBands.count()
    // one-time migration for pre-upgrade state: unbucketed layouts and
    // stale (larger) bucket moduli both rewrite in place
    StateStore.ensureBucketed(spark, bandsPath(statePath), "pb", bandBucket,
      stateBuckets)
    StateStore.ensureBucketed(spark, toksPath(statePath), "tb",
      tokBucket(col("doc_id")), stateBuckets)
    // stamp the banding BEFORE any append can land (creation, pre-tag
    // adoption, or a modulus-migration rewrite that replaced the
    // directory carrying the tag): the guard above proved this fold's
    // setting is the store's, so a crash between stamp and appends
    // replays against a correctly-tagged store — stamping AFTER the
    // appends would leave a window where a replay under a different
    // banding reads as adoptable pre-tag state. The tag file is hidden
    // (underscore), so a tag-only dir still reads as "no state".
    if (StateStore.readTag(spark, bp, "_banding").isEmpty)
      StateStore.writeTag(spark, bp, "_banding", banding.tag)

    // which side of the verification joins broadcasts: the batch's
    // token table is micro-batch-bounded in the steady state (ride the
    // broadcast, zero shuffle), but a BULK ingest's token table is
    // corpus-sized — an unbounded broadcast, the same hazard shape the
    // state-broadcast policy exists for — so past the policy bound the
    // joins fall back to keyed shuffles, the honest bulk cost.
    // ~512 B per doc of in-memory token array vs the shared on-disk
    // policy × its documented ~8× decompression.
    val toksBroadcastable = (nBands / banding.numBands.max(1)) * 512L <=
      StateStore.stateBroadcastBytes * 8
    def toksSide(df: DataFrame) = if (toksBroadcastable) broadcast(df) else df

    // delta-vs-delta candidates: the batch's internal band self-join,
    // same exactly-once lowest-colliding-band emission as batch q46
    // (NearDup.lowestBandOnly — at the default banding it is literally
    // q46's band-0-or-b0-differs rule). The join's strategy is left to
    // the planner: micro-batch sides broadcast off source stats, and a
    // bulk ingest pays one materialized exchange that AQE then turns
    // into the other side's broadcast — the q73-class plan transition,
    // measured at ScaleSanity k=100 as the whole decade-2 step (the
    // candidates themselves stay linear: 49k rows at 500k docs).
    val a = deltaBands.select(col("doc_id").as("doc_a"), col("band"),
      col("bucket"), col("bpre").as("bpre_a"))
    val b = deltaBands.select(col("doc_id").as("doc_b"), col("band"),
      col("bucket"), col("bpre").as("bpre_b"))
    val ddCand = a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(NearDup.lowestBandOnly(col("bpre_a"), col("bpre_b")))
      .select("doc_a", "doc_b")
    val ddScored = ddCand
      .join(toksSide(deltaToks.select(col("doc_id").as("doc_a"),
        col("toks").as("toks_a"))), Seq("doc_a"))
      .join(toksSide(deltaToks.select(col("doc_id").as("doc_b"),
        col("toks").as("toks_b"))), Seq("doc_b"))
    val dd = MinHash.jaccardScore(ddScored, "toks_a", "toks_b", threshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))

    // delta-vs-corpus candidates: band equi-join against the persisted
    // index, verified against the persisted token table (q76's join).
    // Per-batch cost ∝ delta, NOT ∝ corpus: both state reads are
    // partition-pruned to the delta's touched buckets, and the state
    // side of each join is only SCANNED — the (bounded) delta rides a
    // broadcast, so no accumulated-state row is ever shuffled. The
    // touched-bucket collects are bounded scalars (≤ stateBuckets ints,
    // the Upsert.partitioned touched-partition category).
    val dc =
      if (!StateStore.exists(spark, bandsPath(statePath))) dd.limit(0)
      else {
        // withBpre: a store persisted by a pre-banding engine version
        // lacks the prefix column; the guard proved such state is
        // default-banded, where the prefix derives from the legacy b0
        val idx = NearDup.withBpre(
          StateStore.prunedByTouched(spark, bandsPath(statePath),
            "pb", deltaBands, col("pb"), stateBuckets, nBands))
        val (cand, nCand) = Staging.stageCounted(idx
          .select(col("doc_id").as("corpus_id"), col("band"),
            col("bucket"), col("bpre").as("bpre_c"))
          .join(broadcast(deltaBands.select(col("doc_id").as("delta_id"),
            col("band"), col("bucket"), col("bpre").as("bpre_d"))),
            Seq("band", "bucket"))
          .filter(NearDup.lowestBandOnly(col("bpre_d"), col("bpre_c")))
          // a replayed batch is already in the index; never self-pair
          .filter(col("delta_id") =!= col("corpus_id"))
          .select("delta_id", "corpus_id"))
        val corpusToks = StateStore.prunedByTouched(spark,
          toksPath(statePath), "tb", cand, tokBucket(col("corpus_id")),
          stateBuckets, nCand)
        val scored = corpusToks
          .select(col("doc_id").as("corpus_id"), col("toks").as("toks_c"))
          .join(broadcast(cand), Seq("corpus_id"))
          .join(toksSide(deltaToks.select(col("doc_id").as("delta_id"),
            col("toks").as("toks_d"))), Seq("delta_id"))
        MinHash.jaccardScore(scored, "toks_d", "toks_c", threshold)
          .select(col("delta_id").as("src"), col("corpus_id").as("dst"))
      }

    // the label chain (edge staging → label fold) and the index/token
    // appends run CONCURRENTLY: they touch disjoint directories (labels/
    // vs bands/+toks/), edge verification's state reads were listed
    // when `dc` was built (a pinned file index — the in-flight appends'
    // files are invisible to it, the same property the previous
    // edges∥appends overlap already relied on), and replay safety needs
    // no ordering between them — foldBatch returns (and the stream
    // checkpoint advances) only after BOTH complete, so any crash
    // before that replays the whole batch: replayed appends duplicate
    // index rows (absorbed — connectivity is a fixpoint over the edge
    // SET), and a replayed label fold re-merges idempotently
    awaitBoth(
      {
        // staged WITH the count in one job (stageCounted): the count is
        // the empty-gate, so the separate isEmpty probe job is gone
        val (edges, nEdges) = Staging.stageCounted(dd.unionByName(dc))
        if (nEdges > 0) foldLabels(spark, edges, labelsPath(statePath))
      },
      awaitBoth(
        // at the DEFAULT banding the persisted schema stays the legacy
        // (doc_id, band, bucket, b0, pb) — bpre is derivable there
        // (withBpre) and dropping it lets new appends land in pre-tag
        // stores without a mixed-schema directory; a non-default store
        // is tag-fresh by the guard and persists the prefix column
        StateStore.appendBucketed(
          if (banding == NearDup.Banding.default) deltaBands.drop("bpre")
          else deltaBands,
          bandsPath(statePath), "pb", stateBuckets, deltaRows = nBands),
        StateStore.appendBucketed(deltaToks, toksPath(statePath), "tb",
          stateBuckets, deltaRows = nBands)))
    ()
  }

  /** Fold verified delta edges into the persisted labeling — touching
    * only the AFFECTED components, never republishing the whole table.
    *
    * The labeling is id-bucket-partitioned (`ib`, [[labelsBucketOf]]),
    * and a second, comp-bucketed PROJECTION of the same rows
    * (`labels_comp/`, `cb` = [[compBucketOf]]) exists so the member
    * lookup can partition-prune by component. Per fold: the incident
    * ids' components come from an id-bucket-pruned scan of `labels/`
    * (delta-bounded); their members come from comp-bucket-pruned scans
    * of the projection (plus id-bucket-pruned scans of `labels/` for
    * crash-era pointer chains) with the key set pushed into the parquet
    * scan as an IN filter when small — member IO is
    * touched-buckets-sized, and within a bucket the comp-sorted row
    * groups let the pushed filter skip non-matching groups at real
    * scale. `Components.merge` then runs over the affected subgraph
    * alone, and the rewrite swaps only the id-buckets (and
    * comp-buckets of the projection) holding updated rows
    * (`Sinks.swapPartitions` — per-dir atomic, crash-repaired on the
    * next fold). Per-batch shuffle is affected-subgraph-sized, not
    * labeling-sized — measured in ShuffleGrowthSpec, and the member
    * pass's input BYTES are measured flat under labeling growth outside
    * the touched buckets in LabelFoldIoSpec.
    *
    * The projection is maintained lazily: bulk folds and the creation
    * path skip it (they never run a member pass) and just advance the
    * labeling's generation, invalidating it; the next fold that
    * actually NEEDS a member lookup (its delta strikes existing
    * components) rebuilds it wholesale from the labeling (∝ labeling,
    * amortized across the delta folds in between — see [[GenTag]]),
    * and while it is valid every fold maintains it with the same
    * touched-bucket swap discipline as the labeling itself. All-novel
    * batches neither read nor write it.
    *
    * Crash consistency: a fold interrupted mid-swap leaves MIXED
    * generations across buckets, where a member's comp can point at a
    * row that was itself relabeled (a pointer chain). A clean fold
    * needs one member pass (comp values are canonical); after a
    * detected unclean start (repaired retirees or orphaned stage dirs)
    * the member pass iterates to a fixpoint so chained rows join the
    * affected set, and the replayed batch converges to the labeling a
    * crash-free run would have produced. The projection needs no repair
    * pass of its own: any crash around its swap leaves its generation
    * behind the labeling's, which is the rebuild trigger.
    *
    * Under the object-store marker protocol (`spark.graft.swap=marker`)
    * the per-dir renames this layout commits through are non-atomic
    * copies, so the fold degrades to the pre-delta WHOLE-SNAPSHOT
    * labeling: one full `Components.merge` published via
    * `Sinks.snapshotPublish` (single atomic pointer flip). Correct on
    * any storage, at whole-table rewrite cost per fold — rename-capable
    * state storage is what makes the delta layout available. */
  private[streaming] def foldLabels(spark: SparkSession, edges: DataFrame,
                                    lp: String): Unit = {
    val fs = new Path(lp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (spark.conf.get("spark.graft.swap", "rename") == "marker") {
      // existing labels under the READER's precedence (see [[labels]]):
      // marker pointer first, then a pre-switch rename-era layout. A
      // deployment that built partitioned state under rename and then
      // switched to marker must ABSORB the old labeling into the first
      // marker publish — and retire the old layout afterwards, or the
      // reader would shadow every marker publish with the frozen
      // pre-switch rows forever
      val bucketed = StateStore.isBucketed(spark, lp, "ib")
      val existing =
        if (Sinks.versionPointerExists(spark, lp))
          Some(Sinks.readSnapshot(spark, lp).select("id", "comp"))
        else if (bucketed) Some(StateStore.readPacked(spark, lp).select("id", "comp"))
        else if (Sinks.snapshotExists(spark, lp))
          Some(Sinks.readSnapshot(spark, lp).select("id", "comp"))
        else None
      val full = existing match {
        case Some(old) => Components.merge(Staging.stage(old), edges)
        case None => Components.connected(edges)
      }
      Sinks.snapshotPublish(Staging.stage(full).select("id", "comp"), lp)
      // retire the rename-era remnants AFTER the publish: a crash in
      // between leaves both, and the next fold re-absorbs the (frozen,
      // subset) layout idempotently before retiring it again
      if (bucketed) fs.delete(new Path(lp), true)
      fs.delete(new Path(lp + "_comp"), true)
      return
    }
    migrateLegacyLabels(spark, lp)
    val cp = lp + "_comp"
    if (!fs.exists(new Path(lp))) {
      Components.connected(edges)
        .withColumn("ib", labelsBucketOf(col("id")))
        .repartition(col("ib")).sortWithinPartitions("id")
        .write.partitionBy("ib").mode("overwrite").parquet(lp)
      StateStore.writeTag(spark, lp, GenTag, newGen())
      StateStore.writeModulus(spark, lp, stateBuckets)
      // no projection yet — the first delta fold builds it on demand
    } else {
      // the labeling participates in the same modulus discipline as the
      // band/token stores: a bucket-count change re-buckets it here
      // (the rewrite drops the _gen tag with the directory, which
      // correctly invalidates the projection below)
      StateStore.ensureBucketed(spark, lp, "ib",
        labelsBucketOf(col("id")), stateBuckets)
      val restored = Sinks.recoverPartitionSwaps(spark, lp)
      val orphans = fs.globStatus(new Path(lp + "__stage-*"))
      val unclean = restored.nonEmpty || orphans.nonEmpty
      orphans.foreach(st => fs.delete(st.getPath, true))
      fs.globStatus(new Path(cp + "__stage-*"))
        .foreach(st => fs.delete(st.getPath, true))

      val incidentRaw = edges.select(col("src").as("id"))
        .unionByName(edges.select(col("dst").as("id"))).distinct()
        .withColumn("ib", labelsBucketOf(col("id")))
      // BULK-ingest escape: when the delta's node set rivals the whole
      // labeling (a backfill folding a large corpus slice — q82's
      // half-corpus folds), the affected subgraph would be most of the
      // table and the delta machinery's extra passes cost more than
      // they save. One full merge + full swap instead — chain-safe
      // without the closure loop, because the merge sees every row and
      // star edges connect any crash-era pointer chains. Both counts
      // are cheap (one job off the staged edges; driver-side parquet
      // footer walk), and the escape is decided BEFORE staging the
      // incident set — a bulk fold never uses it, so checkpointing it
      // first would be a wasted materialization per bulk fold.
      val incidentN = incidentRaw.count()
      val labelsN = StateStore.parquetRowCount(spark, lp)
      def fullMergeSwap(): Unit = {
        val full = Components.merge(
          StateStore.readPacked(spark, lp).select("id", "comp"), edges)
          .withColumn("ib", labelsBucketOf(col("id")))
        // advance the generation FIRST: the projection is not rewritten
        // on this path, and the mismatch is what invalidates it
        StateStore.writeTag(spark, lp, GenTag, newGen())
        val stagedPath = s"${lp}__stage-${java.util.UUID.randomUUID()}"
        full.repartition(col("ib")).sortWithinPartitions("id")
          .write.partitionBy("ib").mode("error").parquet(stagedPath)
        Sinks.swapPartitions(spark, stagedPath, lp)
      }
      if (incidentN * 5 >= labelsN) { fullMergeSwap(); return }
      // delta path from here on: the incident set has three consumers
      // (bucket pruning, the c0 probe, the closure loop) — stage it now
      val incident = Staging.stage(incidentRaw)

      // components the delta touches: id-bucket-pruned lookup
      val c0 = Staging.stage(
        StateStore.prunedByTouched(spark, lp, "ib", incident, col("ib"))
          .join(broadcast(incident.select("id")), Seq("id"))
          .select(col("comp").as("k")).distinct())
      // a member lookup only runs when the delta strikes EXISTING
      // components (or a crash left pointer chains to chase); an
      // all-novel batch skips the projection entirely
      val needMembers = c0.count() > 0 || unclean

      // the member lookup's comp-bucketed projection: valid only while
      // its generation matches the labeling's. A bulk fold, crash,
      // legacy migration, or pre-projection labeling leaves it behind —
      // rebuild wholesale from the labeling, but ONLY when this fold
      // actually needs a lookup (∝ labeling once, amortized across the
      // delta folds in between; an invalid projection otherwise just
      // stays invalid and unmaintained)
      val lpGen = StateStore.readTag(spark, lp, GenTag).getOrElse {
        val g = newGen(); StateStore.writeTag(spark, lp, GenTag, g); g
      }
      var cpValid = fs.exists(new Path(cp)) &&
        StateStore.readTag(spark, cp, GenTag).contains(lpGen) &&
        StateStore.readModulus(spark, cp).contains(stateBuckets)
      if (needMembers && !cpValid) {
        StateStore.readPacked(spark, lp).select("id", "comp")
          .withColumn("cb", compBucketOf(col("comp")))
          .repartition(col("cb")).sortWithinPartitions("comp")
          .write.partitionBy("cb").mode("overwrite").parquet(cp)
        StateStore.writeTag(spark, cp, GenTag, lpGen)
        StateStore.writeModulus(spark, cp, stateBuckets)
        cpValid = true
      }
      // members of a key set, matched by comp (the normal linkage — the
      // comp-bucket-pruned projection) or by id (a chained row's comp
      // points at a member's ID mid-crash — the id-bucket-pruned
      // labeling). Both scans prune to the keys' buckets; a small key
      // set additionally rides INTO the scan as a pushed IN filter, so
      // sorted row groups skip. The fallback for a huge key set keeps
      // the broadcast-semi-join shape (state scanned, never shuffled).
      val maxPushdown = 4096
      def members(keys0: DataFrame): DataFrame = {
        val keys = Staging.stage(keys0) // three consumers below
        val byComp = StateStore.prunedByTouched(spark, cp, "cb", keys,
          tokBucket(col("k")), stateBuckets)
        val byId = StateStore.prunedByTouched(spark, lp, "ib", keys,
          tokBucket(col("k")), stateBuckets)
        val kv = keys.limit(maxPushdown + 1).collect()
        val matched =
          if (kv.length <= maxPushdown) {
            val ks = kv.map(_.getLong(0)).toIndexedSeq
            byComp.filter(col("comp").isin(ks: _*)).select("id", "comp")
              .unionByName(
                byId.filter(col("id").isin(ks: _*)).select("id", "comp"))
          } else {
            byComp.join(broadcast(keys), col("comp") === col("k"), "left_semi")
              .select("id", "comp")
              .unionByName(
                byId.join(broadcast(keys), col("id") === col("k"), "left_semi")
                  .select("id", "comp"))
          }
        matched.distinct()
      }
      var affected =
        if (needMembers) Staging.stage(members(c0))
        else spark.range(0).select(col("id"), col("id").as("comp"))
      if (unclean) {
        var n = affected.count()
        var grew = true
        while (grew) {
          val keys = affected.select(col("id").as("k"))
            .unionByName(affected.select(col("comp").as("k"))).distinct()
          val next = Staging.stage(members(keys))
          val n2 = next.count()
          grew = n2 > n
          n = n2
          affected = next
        }
      }
      // a tiny delta can still strike a GIANT component (the dense
      // template-spam regime): the delta machinery below broadcasts
      // affected-subgraph-sized frames, so when the affected set rivals
      // the labeling, the full-merge path is both safer and cheaper
      if (affected.count() * 5 >= labelsN) { fullMergeSwap(); return }
      val updated = Staging.stage(
        Components.merge(affected, edges)
          .withColumn("ib", labelsBucketOf(col("id"))))
      // labeling first (authoritative), projection second; the
      // generation write up front makes any crash in between rebuild
      // the projection rather than trust it
      val gNew = newGen()
      StateStore.writeTag(spark, lp, GenTag, gNew)
      val touched = updated.select("ib").distinct()
        .collect().map(_.getInt(0)).toIndexedSeq
      val keep = StateStore.readPacked(spark, lp)
        .filter(col("ib").isin(touched: _*))
        .join(broadcast(updated.select("id")), Seq("id"), "left_anti")
      val stagedPath = s"${lp}__stage-${java.util.UUID.randomUUID()}"
      keep.select("id", "comp", "ib")
        .unionByName(updated.select("id", "comp", "ib"))
        .repartition(col("ib")).sortWithinPartitions("id")
        .write.partitionBy("ib").mode("error").parquet(stagedPath)
      Sinks.swapPartitions(spark, stagedPath, lp)
      // projection delta — only while the projection is live: rows LEAVE
      // via their old comp's bucket (known from the affected set) and
      // ENTER via their new comp's; swap exactly those comp-buckets. An
      // invalid projection stays invalid (gNew above keeps it behind)
      // until the next fold that needs a lookup rebuilds it.
      if (cpValid) {
        val updatedC = Staging.stage(
          updated.select("id", "comp")
            .withColumn("cb", compBucketOf(col("comp"))))
        val touchedC = updatedC.select("cb")
          .unionByName(affected.select(compBucketOf(col("comp")).as("cb")))
          .distinct().collect().map(_.getInt(0)).toIndexedSeq
        val keepC = StateStore.readPacked(spark, cp)
          .filter(col("cb").isin(touchedC: _*))
          .join(broadcast(updated.select("id")), Seq("id"), "left_anti")
        val stagedC = s"${cp}__stage-${java.util.UUID.randomUUID()}"
        keepC.select("id", "comp", "cb")
          .unionByName(updatedC.select("id", "comp", "cb"))
          .repartition(col("cb")).sortWithinPartitions("comp")
          .write.partitionBy("cb").mode("error").parquet(stagedC)
        // a comp-bucket can EMPTY OUT entirely (every member moved to a
        // merged comp in another bucket): the staged write then produces
        // no dir for it and swapPartitions would leave the stale one —
        // capture which touched buckets the stage actually wrote, and
        // drop the rest after the swap. A crash in between leaves the
        // generation tag unwritten, so the stale projection rebuilds.
        val stagedDirs = fs.listStatus(new Path(stagedC))
          .filter(_.isDirectory).map(_.getPath.getName).toSet
        Sinks.swapPartitions(spark, stagedC, cp)
        touchedC.foreach { b =>
          if (!stagedDirs.contains(s"cb=$b"))
            fs.delete(new Path(cp, s"cb=$b"), true)
        }
        StateStore.writeTag(spark, cp, GenTag, gNew)
      }
    }
  }

  /** One-time migration of a labeling published by the pre-delta code
    * (whole-table snapshot, rename or marker protocol) into the
    * id-bucket-partitioned layout. */
  private def migrateLegacyLabels(spark: SparkSession, lp: String): Unit = {
    val fs = new Path(lp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partitioned = StateStore.isBucketed(spark, lp, "ib")
    if (!partitioned && Sinks.snapshotExists(spark, lp)) {
      // through the atomic swap, never a live-path overwrite: a
      // mid-migration crash must leave the complete legacy labeling,
      // not a half-written bucketed one that isBucketed would adopt
      Sinks.snapshotSwap(
        Staging.stage(Sinks.readSnapshot(spark, lp).select("id", "comp"))
          .withColumn("ib", labelsBucketOf(col("id")))
          .repartition(col("ib")),
        lp, Seq("ib"))
      fs.delete(new Path(lp + "__current"), false)
      fs.delete(new Path(lp + "__versions"), true)
    }
  }

  /** Wire [[foldBatch]] as the foreachBatch sink of a streaming document
    * frame. AvailableNow by default — drain what's there and stop — the
    * same trigger discipline as the partitioned streaming sync.
    *
    * Every `compactEvery`-th micro-batch also runs [[compactState]]
    * (cadenced on the checkpointed batchId, so the schedule survives
    * restarts): without it a long-lived stream accretes one small file
    * set per batch until an operator intervenes. The compaction runs
    * INSIDE the foreachBatch callback — micro-batches execute serially,
    * so no fold ever races the swap, and the next fold reads the
    * compacted state through the atomic snapshot pointer. Pass 0 to
    * disable (an external maintenance schedule owns it instead). */
  def sink(stream: DataFrame, statePath: String, checkpointDir: String,
           threshold: Double = 0.5,
           trigger: Trigger = Trigger.AvailableNow(),
           compactEvery: Int = 8,
           banding: NearDup.Banding = NearDup.Banding.default): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, statePath, threshold, banding)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactState(batch.sparkSession, statePath)
      }
      .start()

  /** Compact the append-only state tables. Each micro-batch appends one
    * small file set to `bands/` and `toks/`, so a long-lived stream
    * accrues the classic small-file problem, and an at-least-once
    * redelivery leaves duplicate rows. Rewrite both through the atomic
    * snapshot swap ([[Sinks.snapshotSwap]]: readers see complete-old or
    * complete-new), deduplicating exact rows — duplicates arise ONLY
    * from replay (band/token rows are deterministic per doc), so
    * `distinct` restores the exactly-once state. The labels table needs
    * no compaction for a different reason: each fold rewrites its
    * touched id-buckets WHOLE (swap, not append), so labels/ never
    * accretes per-batch file sets. [[sink]]
    * schedules this every `compactEvery` micro-batches; it can also run
    * between drains (AvailableNow) or on an external maintenance
    * schedule, like the snapshot compaction. */
  def compactState(spark: SparkSession, statePath: String,
                   targetFileBytes: Long = 128L << 20): Unit =
    // bucket-partitioned rewrite: repartitioning BY the bucket column
    // lands each bucket whole in one task, so the compacted state is
    // one file per bucket (the bucket is the compaction granule — at
    // 100 TB the bucket count, not this routine, sizes the files)
    // the band store's _banding tag and the token store's _rebanding
    // marker (the one store rebandTo never swaps carries it) must
    // survive the compaction swap — see compactBucketed's preserveTags
    Seq((bandsPath(statePath), "pb", Seq("_banding")),
        (toksPath(statePath), "tb", Seq("_rebanding")))
      .foreach { case (p, bcol, tags) =>
        StateStore.compactBucketed(spark, p, bcol, stateBuckets,
          targetFileBytes, preserveTags = tags)
      }

  /** Re-band an existing clustering to `newBanding` — the batch rebuild
    * the fold guard's refusals point at, made operational for the
    * cluster tier (the [[PageRankStream.rebandTo]] pattern): re-sign
    * every folded doc from the caller's corpus, rebuild the band index
    * under the new setting, re-derive the verified edge set and the
    * labeling from scratch (old labels are connectivity over the OLD
    * banding's candidates — meaningless under the new one), swap
    * atomically, restamp. The token store — banding-independent, it
    * holds the verification token sets — is the one store this rebuild
    * never swaps, so the crash marker lives there. `corpus` must carry
    * (`doc_id`, `text`) for every folded doc: band state holds buckets,
    * not text, so re-signing needs the source of truth. Corpus rows
    * never folded are ignored (this is a re-band, not a fold — fold
    * them afterwards); folded docs MISSING from the corpus lose their
    * band rows and pairs, so corpus completeness is the caller's
    * contract. Cost ∝ corpus — maintenance cadence, never per batch.
    *
    * Crash consistency: the `_rebanding` marker lands FIRST, on toks/,
    * and folds refuse while it exists — without it, the instant between
    * the band swap (which necessarily drops the `_banding` tag with the
    * directory it replaces) and the restamp would read as adoptable
    * pre-tag state. Any crash leaves the marker, so the remedy is
    * always "re-run rebandTo" (idempotent: each swap publishes
    * complete-old or complete-new, and the labeling rebuild is a pure
    * function of (corpus, newBanding, threshold)). */
  def rebandTo(corpus: DataFrame, statePath: String,
               newBanding: NearDup.Banding,
               threshold: Double = 0.5): Unit = {
    val spark = corpus.sparkSession
    val tp = toksPath(statePath)
    val bp = bandsPath(statePath)
    val lp = labelsPath(statePath)
    require(StateStore.exists(spark, tp),
      s"no folded state at $statePath to re-band")
    StateStore.writeTag(spark, tp, "_rebanding", newBanding.tag)
    // the folded ledger is the token store's id set; re-sign those docs
    // from the caller's corpus text under the new setting
    val foldedIds = StateStore.readPacked(spark, tp).select("doc_id").distinct()
    val docs = corpus.select("doc_id", "text").join(foldedIds, Seq("doc_id"))
    val delta = Staging.stage(NearDup.bandsAndToks(docs, newBanding))
    val bandRows = NearDup.explodeBands(delta).drop("toks")
      .withColumn("pb", bandBucket)
    val toks = delta.select(col("doc_id"), col("toks"))
    // the full candidate self-join under the new setting — foldBatch's
    // delta-vs-delta path at corpus scale (one materialized exchange;
    // AQE converts the other side to a broadcast when it fits, the
    // q73-class transition otherwise) — then the shared verification
    val a = bandRows.select(col("doc_id").as("doc_a"), col("band"),
      col("bucket"), col("bpre").as("bpre_a"))
    val b = bandRows.select(col("doc_id").as("doc_b"), col("band"),
      col("bucket"), col("bpre").as("bpre_b"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(NearDup.lowestBandOnly(col("bpre_a"), col("bpre_b")))
      .select("doc_a", "doc_b")
    val scored = cand
      .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")),
        Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")),
        Seq("doc_b"))
    val edges = MinHash.jaccardScore(scored, "toks_a", "toks_b", threshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    // labeling: a from-scratch connectivity under the new banding,
    // published per the store's swap protocol; the comp projection is
    // dropped (its generation could not match the fresh labeling — the
    // next fold that needs a member lookup rebuilds it on demand)
    val labeling = Staging.stage(
      Components.connected(edges).select("id", "comp"))
    val fs = new Path(lp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (spark.conf.get("spark.graft.swap", "rename") == "marker")
      Sinks.snapshotPublish(labeling, lp)
    else if (labeling.isEmpty) {
      // an empty labeling is "no state" — a zero-row partitioned write
      // leaves a dir with no part files, which readers can't infer a
      // schema from; absence answers empty through labels()
      fs.delete(new Path(lp), true)
    } else {
      Sinks.snapshotSwap(
        labeling.withColumn("ib", labelsBucketOf(col("id")))
          .repartition(col("ib")).sortWithinPartitions("id"),
        lp, Seq("ib"))
      StateStore.writeTag(spark, lp, GenTag, newGen())
      StateStore.writeModulus(spark, lp, stateBuckets)
    }
    fs.delete(new Path(lp + "_comp"), true)
    // band store last, then restamp and clear — mirrors foldBatch's
    // legacy-schema rule: a default store persists without bpre so
    // pre-tag-era appends still land schema-consistent
    Sinks.snapshotSwap(
      (if (newBanding == NearDup.Banding.default) bandRows.drop("bpre")
       else bandRows).repartition(col("pb")),
      bp, Seq("pb"))
    StateStore.writeModulus(spark, bp, stateBuckets)
    StateStore.writeTag(spark, bp, "_banding", newBanding.tag)
    StateStore.deleteTag(spark, tp, "_rebanding")
    Staging.release(delta)
    Staging.release(labeling)
  }

  /** Production leakage-safe split assignment (the q91 transformation
    * consuming the PERSISTED labeling instead of re-clustering): split =
    * hash of the doc's near-dup cluster id, so near-twins can never
    * straddle train/test, and the cluster table this reads is the one
    * the streaming fold maintains — assignment cost is one left join
    * against `labels/`, with no shingling or contraction in the plan.
    * Parity with q91's self-contained output (after folding the same
    * corpus) is pinned by SplitsFromLabelsSpec. */
  def splitsFromLabels(docs: DataFrame, statePath: String): DataFrame =
    Splits.splitAssign(docs,
      labels(docs.sparkSession, statePath)
        .select(col("id").as("doc_id"), col("comp").as("cluster_id")))

  /** The current labeling (empty if no pairs have been verified yet).
    * Precedence: a marker-protocol version POINTER wins — it only
    * exists when marker-mode folds have published, and a pre-switch
    * rename-era partitioned layout awaiting retirement must not shadow
    * it; then the id-bucket-partitioned layout; then a labeling
    * published by the pre-delta code (migrates on the next fold). */
  def labels(spark: SparkSession, statePath: String): DataFrame = {
    val lp = labelsPath(statePath)
    if (Sinks.versionPointerExists(spark, lp))
      Sinks.readSnapshot(spark, lp).select("id", "comp")
    else if (StateStore.isBucketed(spark, lp, "ib"))
      StateStore.readPacked(spark, lp).select("id", "comp")
    else if (Sinks.snapshotExists(spark, lp))
      Sinks.readSnapshot(spark, lp)
    else {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("id", "comp")
    }
  }
}
