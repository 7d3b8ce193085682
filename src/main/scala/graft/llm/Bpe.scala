package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Staging

/** Distributed BPE merge training (Sennrich et al. 2016, arXiv:1508.07909)
  * — TOKENIZER training as an engine operator, the canonical
  * LLM-pipeline step the text tier was still missing. Classic BPE over
  * the corpus word histogram: start from character symbols, repeatedly
  * (1) count adjacent symbol pairs weighted by word frequency, (2) pick
  * the most frequent pair (ties: lexicographic on the pair — the
  * determinism knob reference implementations leave to dict order), and
  * (3) merge its occurrences greedily left-to-right within every word.
  *
  * The merge application is the part naive ports get wrong in SQL: the
  * greedy scan looks inherently sequential. It isn't — overlapping
  * matches only happen on runs of one repeated symbol (a match at p and
  * p+1 forces x = y), and within such a run the greedy scan keeps
  * exactly the matches at even offsets from the run start. So one pass
  * of window functions reproduces the scan exactly:
  *   lead(s)           -> pair at each position;
  *   running match count -> run id (p - mrn is constant per run);
  *   min(p) per run    -> keep = even offset;
  *   lag(keep)         -> the position consumed by the previous merge.
  * Every window is keyed on `word`, every aggregate has map-side
  * partials, and the best-pair cut is TakeOrdered(1) riding a broadcast
  * back into the rewrite — nothing collapses the vocabulary to one task
  * and nothing touches the corpus at all after the histogram: per-merge
  * cost is VOCABULARY-sized (Heaps' law: ~10^6-10^7 types at 100 TB —
  * a keyed-window Spark job per merge, the same shape production BPE
  * trainers distribute), corpus-sized work happens exactly once.
  *
  * Everything is integer/string arithmetic — no floats anywhere — so the
  * DuckDB oracle replays training bit-exactly as an unrolled CTE chain
  * (q104/q105).
  */
object Bpe {

  /** Initial symbols for a (word, cnt) histogram: one per code point,
    * each after a word's first prefixed with `marker` (WordPiece's `##`).
    * An empty word has none, so no vocab row (bare `sequence(1, 0)` would
    * count DOWN to [1, 0]). [[charSymsLocal]] is the driver form. */
  def withCharSyms(words: DataFrame, marker: String = ""): DataFrame =
    words.filter(length(col("word")) > 0).withColumn("syms", expr(
      s"""transform(sequence(1, length(word)), i ->
            IF(i = 1, substring(word, 1, 1), concat('$marker', substring(word, i, 1))))"""))

  /** One merge step over a (word, cnt, syms) table.
    * @return (bestPair: 1-row (x, y, pair_count) frame — staged,
    *         rewritten: (word, cnt, syms) with the pair merged) */
  def step(words: DataFrame): (DataFrame, DataFrame) = {
    val pos = Staging.stage(positionsOf(words))
    val bp = Staging.stage(bestPairOf(pos))
    (bp, applyMerge(pos, bp))
  }

  /** The windowed greedy-merge rewrite of a positions table against a
    * 1-row best-pair frame — the scan-equivalence machinery of [[step]],
    * shared with the incremental trainer (which applies it to the
    * matched subset only) and with [[Wordpiece]] (whose merged symbol
    * strips the continuation marker — `joinSym` is that seam; the
    * greedy-scan/window equivalence itself is marker-agnostic). */
  private[graft] def applyMerge(pos: DataFrame, bp: DataFrame,
      joinSym: (Column, Column) => Column = concat(_, _)): DataFrame = {
    val wp = Window.partitionBy("word").orderBy("p")
    pos.crossJoin(broadcast(bp))
      .withColumn("mt",
        coalesce(col("s") === col("x") && col("ns") === col("y"), lit(false)))
      .withColumn("mrn", sum(when(col("mt"), 1).otherwise(0)).over(wp))
      // p - mrn is constant across a maximal run of consecutive matches
      .withColumn("run", when(col("mt"), col("p") - col("mrn")))
      .withColumn("rs", min(col("p")).over(Window.partitionBy("word", "run")))
      .withColumn("keep", col("mt") && (col("p") - col("rs")) % 2 === 0)
      .withColumn("consumed", coalesce(lag(col("keep"), 1).over(wp), lit(false)))
      .filter(!col("consumed"))
      .withColumn("s2",
        when(col("keep"), joinSym(col("s"), col("ns"))).otherwise(col("s")))
      .groupBy("word", "cnt")
      // in-row sort by position (q92's trick): collect order is
      // partition-dependent, the array_sort makes it deterministic
      .agg(expr("transform(array_sort(collect_list(struct(p, s2))), q -> q.s2)")
        .as("syms"))
  }

  /** The per-position symbol table with its lead pair — the unstaged
    * form (step() stages it; exposed so plan-shape specs can see through
    * the staging truncation). */
  private[graft] def positionsOf(words: DataFrame): DataFrame = {
    val wp = Window.partitionBy("word").orderBy("p")
    words
      .select(col("word"), col("cnt"), posexplode(col("syms")).as(Seq("p0", "s")))
      .select(col("word"), col("cnt"), (col("p0") + 1).as("p"), col("s"))
      .withColumn("ns", lead(col("s"), 1).over(wp))
  }

  /** Weighted adjacent-pair histogram of a positions table:
    * (x, y, pair_count). Map-side partial aggregation; row count is the
    * number of DISTINCT adjacent pairs, not positions. */
  private[graft] def pairCountsOf(pos: DataFrame): DataFrame =
    pos.filter(col("ns").isNotNull)
      .groupBy(col("s").as("x"), col("ns").as("y"))
      .agg(sum(col("cnt")).as("pair_count"))

  /** Most frequent adjacent pair, ties lexicographic — TakeOrdered(1),
    * never a global sort (unstaged; step() stages it). */
  private[graft] def bestPairOf(pos: DataFrame): DataFrame =
    pairCountsOf(pos)
      .orderBy(col("pair_count").desc, col("x"), col("y"))
      .limit(1)

  // ---- the shared merge loops (the bounded-table discipline) -----------
  //
  // The merge LOOP's working set is the word HISTOGRAM — vocabulary-
  // sized, NOT corpus-sized. When that histogram is bounded (the same
  // judgment under which PageRank's rank vector goes driver-resident and
  // the k-means/unigram iteration tables ride bounded collects), every
  // per-step distributed job — the positions checkpoint, the best-pair
  // TakeOrdered, the rewrite checkpoint, the count-table fold — is a
  // scheduling round trip spent on a table that already fits one JVM:
  // measured at sf0.1, the 4-step trainers pay 40-65 jobs of ~20 ms work
  // under 0.05 s gaps each (q114 3.8 s wall / 0.96 s task-CPU). Below
  // [[driverTrainGate]] ONE driver loop serves `train`, `trainIncremental`
  // and `Wordpiece.train` over the collected histogram — one distributed
  // job total (the histogram stage+count) — replicating the distributed
  // semantics exactly (integer pair sums, UTF-8 binary tie-breaks, the
  // greedy even-offset scan, code-point symbols). Above it ONE recount
  // loop serves `train` and `Wordpiece.train`; `trainIncremental` keeps
  // its delta loop. A [[Scheme]] supplies what the tokenizers differ in,
  // and every loop starts from the same split and ends in the same
  // merges table. Real-corpus vocabularies (Heaps' law: 10^6-10^7 types
  // at 100 TB) stay far above the gate; BpePropSpec and WordpieceSpec pin
  // driver == distributed == the sequential model.

  /** Histogram-rows gate for the driver-resident loop. 2^17 rows is a
    * few MB of driver heap (words + symbol arrays) — conservative next
    * to PageRank's 2^20-node gate because these rows carry strings, not
    * longs. `spark.graft.tokenizer.driverTrainRows` overrides; 0
    * disables (every trainer then runs distributed, the A/B knob). */
  private[llm] def driverTrainGate(spark: SparkSession): Long =
    spark.conf.get("spark.graft.tokenizer.driverTrainRows",
      (1L << 17).toString).toLong

  /** The (word, cnt) histogram, collected when bounded: Right(rows)
    * below the gate (one stageCounted job, the collect reads its cached
    * blocks, released immediately), Left((histogram, owned)) above it —
    * staged, so the distributed loop's first checkpoint scans blocks,
    * and owned, so the loop releases it once its vocab is staged — or
    * the caller's frame verbatim, not owned, when the gate is disabled. */
  private[llm] def boundedHistogram(words: DataFrame)
      : Either[(DataFrame, Boolean), Array[(String, Long)]] = {
    val gate = driverTrainGate(words.sparkSession)
    if (gate <= 0L) Left((words, false))
    else {
      val (wh, n) = Staging.stageCounted(words)
      if (n > gate) Left((wh, true))
      else {
        val rows = wh.collect().map { r =>
          (r.getString(r.fieldIndex("word")),
            r.getAs[Number](r.fieldIndex("cnt")).longValue)
        }
        Staging.release(wh)
        Right(rows)
      }
    }
  }

  /** One learned merge; `extra` holds the scheme's `extraCols` values. */
  private[llm] final case class Merge(x: String, y: String, pairCount: Long,
      extra: Seq[Long])

  /** What a tokenizer supplies to the shared loops: its initial symbols'
    * `marker` (stripped from a merge's right symbol), the long
    * `extraCols` its pick adds after pair_count, and its best-pair pick
    * on the driver and as a ≤ 1-row frame over a positions table. */
  private[llm] final case class Scheme(marker: String, extraCols: Seq[String],
      pickLocal: (Array[(String, Long, Array[String])],
        collection.Map[(String, String), Long]) => Option[Merge],
      pick: DataFrame => DataFrame) {
    def joinCol(x: Column, y: Column): Column =
      if (marker.isEmpty) concat(x, y) else concat(x, regexp_replace(y, s"^$marker", ""))
  }

  /** BPE: plain symbols, most frequent pair. */
  private val Frequency = Scheme("", Nil,
    (_, pairs) => argmaxPair(pairs)((_, pc) => pc)(java.lang.Long.compare)
      .map { case ((x, y), pc) => Merge(x, y, pc, Nil) },
    bestPairOf)

  /** A best-pair row, (x, y, pair_count) then `extraCols`, as a merge. */
  private def mergeOf(r: Row, extraCols: Seq[String]): Merge =
    Merge(r.getString(0), r.getString(1), r.getLong(2),
      extraCols.map(c => r.getLong(r.fieldIndex(c))))

  /** The merges table every loop returns: (step, x, y, pair_count) and
    * then `extraCols`, one row per merge in step order. */
  private def mergesTable(spark: SparkSession, merges: Seq[Merge],
      extraCols: Seq[String]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex.map { case (m, i) => (i + 1, m.x, m.y, m.pairCount, m.extra) }
      .toDF("step", "x", "y", "pair_count", "extra")
      .select(Seq(col("step"), col("x"), col("y"), col("pair_count")) ++
        extraCols.indices.map(k => col("extra")(k).as(extraCols(k))): _*)
  }

  /** Spark's string order is UTF8String.binaryCompare — unsigned UTF-8
    * bytes, replicated verbatim (the emTrainPruned discipline). */
  private[llm] def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** [[withCharSyms]], driver form: `length`/`substring` count CODE
    * POINTS, so a surrogate pair is ONE symbol here too. */
  private[llm] def charSymsLocal(word: String, marker: String = ""): Array[String] =
    word.codePoints().toArray.zipWithIndex.map { case (cp, i) =>
      (if (i == 0) "" else marker) + new String(Character.toChars(cp))
    }

  /** The greedy left-to-right merge scan — the ground truth
    * [[applyMerge]]'s window formulation reproduces (BpePropSpec's
    * sequential model, verbatim); the merged symbol is `x` ++ `y`
    * without its leading `marker`. */
  private[llm] def mergeWordLocal(syms: Array[String], x: String, y: String,
      marker: String): Array[String] = {
    val out = Array.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j + 1 < syms.length && syms(j) == x && syms(j + 1) == y) {
        out += syms(j) + syms(j + 1).stripPrefix(marker); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** Weighted adjacent-pair histogram of a driver vocab — exact integer
    * sums, the [[pairCountsOf]] arithmetic. */
  private[llm] def pairCountsLocal(vocab: Array[(String, Long, Array[String])])
      : scala.collection.mutable.HashMap[(String, String), Long] = {
    val counts = new scala.collection.mutable.HashMap[(String, String), Long]()
    vocab.foreach { case (_, cnt, syms) =>
      var j = 0
      while (j + 1 < syms.length) {
        val k = (syms(j), syms(j + 1))
        counts.update(k, counts.getOrElse(k, 0L) + cnt)
        j += 1
      }
    }
    counts
  }

  /** The pair with the greatest `score` under `cmp`, ties on UTF-8
    * binary (x, y) — [[bestPairOf]]'s cut with the score left to the
    * scheme — picked by a fold over the map (iteration-order-free: the
    * comparison is a total order). */
  private[llm] def argmaxPair[S](pairs: collection.Map[(String, String), Long])
      (score: ((String, String), Long) => S)(cmp: (S, S) => Int)
      : Option[((String, String), Long)] = {
    var best: ((String, String), Long) = null
    var bestScore = null.asInstanceOf[S]
    pairs.foreach { e =>
      val s = score(e._1, e._2)
      val c = if (best == null) 1 else cmp(s, bestScore)
      val better = c > 0 || (c == 0 && {
        val cx = utf8Cmp(e._1._1, best._1._1)
        cx < 0 || (cx == 0 && utf8Cmp(e._1._2, best._1._2) < 0)
      })
      if (better) { best = e; bestScore = s }
    }
    Option(best)
  }

  /** The driver-resident merge loop. Full recount per step equals delta
    * maintenance by the exactly-once arithmetic BpePropSpec pins, so
    * `trainIncremental` runs here too; it differs only in telemetry —
    * `matched_words` where the full trainer reports `vocab_symbols`,
    * the values the distributed jobs report. */
  private def trainDriverLoop(spark: SparkSession, hist: Array[(String, Long)],
      steps: Int, scheme: Scheme, observe: Option[(String, Long) => Unit],
      reportSymbols: Boolean): (DataFrame, DataFrame) = {
    import spark.implicits._
    def report(stage: String)(rows: => Long): Unit = observe.foreach(_(stage, rows))
    var vocab = hist.collect { case (w, c) if w.nonEmpty =>
      (w, c, charSymsLocal(w, scheme.marker))
    }
    val merges = Seq.newBuilder[Merge]
    var exhausted = false
    for (i <- 1 to steps if !exhausted) {
      scheme.pickLocal(vocab, pairCountsLocal(vocab)) match {
        case None => exhausted = true
        case Some(m) =>
          merges += m
          var matched = 0L
          vocab = vocab.map { case (w, c, syms) =>
            val out = mergeWordLocal(syms, m.x, m.y, scheme.marker)
            if (out.length < syms.length) matched += 1
            (w, c, out)
          }
          report(s"bpe:step${i}_pair_count")(m.pairCount)
          if (reportSymbols)
            report(s"bpe:step${i}_vocab_symbols")(
              vocab.iterator.map(_._3.length.toLong).sum)
          else report(s"bpe:step${i}_matched_words")(matched)
      }
    }
    val vocabDf = vocab.toSeq.map { case (w, c, s) => (w, c, s.toSeq) }
      .toDF("word", "cnt", "syms")
    (mergesTable(spark, merges.result(), scheme.extraCols), vocabDf)
  }

  /** The distributed recount loop: per step, stage the positions,
    * collect the scheme's best pair, stage the rewrite. `owned` says
    * `words` is the gate's staged copy, released once the vocab is
    * staged — never a caller's frame. */
  private[llm] def trainRecount(words: DataFrame, steps: Int, scheme: Scheme,
      observe: Option[(String, Long) => Unit] = None, owned: Boolean = false)
      : (DataFrame, DataFrame) = {
    def report(stage: String)(rows: => Long): Unit = observe.foreach(_(stage, rows))
    val spark = words.sparkSession
    import spark.implicits._
    var vocab = Staging.stage(withCharSyms(words, scheme.marker))
    if (owned) Staging.release(words)
    val merges = Seq.newBuilder[Merge]
    var exhausted = false
    for (i <- 1 to steps if !exhausted) {
      val pos = Staging.stage(positionsOf(vocab))
      // the best pair is a bounded 1-row TakeOrdered result — COLLECT it
      // (one driver round trip) instead of staging + isEmpty-probing +
      // broadcast-building a 1-row frame: the merge rewrite then joins a
      // driver-local row (LocalTableScan broadcasts without a job), the
      // exhaustion check is free, and the merges table is assembled on
      // the driver instead of a k-way union of staged frames — measured
      // 3 scheduling round trips saved per merge step, exact same pair
      // by construction (same TakeOrdered(1), same tie-break).
      val bpRows = scheme.pick(pos).collect()
      // pair exhaustion (every word down to one symbol): stop — an
      // empty best pair would otherwise annihilate the vocab through
      // the cross join.
      if (bpRows.isEmpty) exhausted = true
      else {
        val m = mergeOf(bpRows.head, scheme.extraCols)
        merges += m
        val bp = Seq((m.x, m.y, m.pairCount)).toDF("x", "y", "pair_count")
        vocab = Staging.stage(applyMerge(pos, bp, scheme.joinCol))
        // merge-progress telemetry (the Components discipline — zero
        // cost when unobserved): the chosen pair's weighted count, and
        // the total symbols left in the vocabulary (the compression
        // curve a production training run watches for early stop)
        report(s"bpe:step${i}_pair_count")(m.pairCount)
        report(s"bpe:step${i}_vocab_symbols")(
          vocab.agg(sum(size(col("syms")))).collect().head.getLong(0))
      }
    }
    (mergesTable(spark, merges.result(), scheme.extraCols), vocab)
  }

  /** Gated training under `scheme`: the driver loop below the gate;
    * above it the recount loop, or the delta loop when `incremental`. */
  private[llm] def trainGated(words: DataFrame, steps: Int, scheme: Scheme,
      observe: Option[(String, Long) => Unit] = None,
      incremental: Boolean = false): (DataFrame, DataFrame) =
    boundedHistogram(words) match {
      case Right(hist) => trainDriverLoop(words.sparkSession, hist, steps,
        scheme, observe, reportSymbols = !incremental)
      case Left((wh, owned)) =>
        if (incremental) trainIncrementalDistributed(wh, steps, observe, owned)
        else trainRecount(wh, steps, scheme, observe, owned)
    }

  /** Learn `steps` merges from a (word, cnt) histogram.
    * @param observe training telemetry hook `(stage, rows) => Unit`,
    *   zero-cost when None: per step, the chosen pair's weighted count
    *   (`bpe:step{i}_pair_count`) and the vocabulary's remaining symbol
    *   total (`bpe:step{i}_vocab_symbols` — the compression curve).
    * @return (merges: (step, x, y, pair_count) — up to `steps` rows
    *         (fewer on pair exhaustion), vocab: (word, cnt, syms) after
    *         all merges) */
  def train(words: DataFrame, steps: Int,
            observe: Option[(String, Long) => Unit] = None): (DataFrame, DataFrame) =
    trainGated(words, steps, Frequency, observe)

  /** The distributed recount loop under BPE's scheme — [[train]]'s path
    * above the gate, and the formulation PlanSpec/ShuffleGrowthSpec pin
    * directly. */
  private[graft] def trainDistributed(words: DataFrame, steps: Int,
            observe: Option[(String, Long) => Unit] = None): (DataFrame, DataFrame) =
    trainRecount(words, steps, Frequency, observe)

  /** [[train]] with INCREMENTAL pair counts — the production shape for
    * real vocab scale (32k merges), where re-exploding every position of
    * every word per merge is the difference between hours and minutes.
    * The corpus-wide position explode happens exactly ONCE (the initial
    * histogram); from then on a persisted (x, y, pair_count) table is
    * maintained by delta: each step rewrites only the words that CONTAIN
    * the merged pair (a map-only in-row `exists` scan finds them — no
    * shuffle, no explode) and folds their before/after pair counts into
    * the table. Per-step shuffle is matched-positions + count-table
    * sized — the count table is DISTINCT adjacent pairs (alphabet-
    * bounded early, merge-bounded later), typically orders of magnitude
    * below the position count — measured in ShuffleGrowthSpec. The best
    * pair is TakeOrdered(1) straight off the count table.
    *
    * Identical output to [[train]] by construction (BpePropSpec pins
    * it): unmatched words keep their pair counts bit-for-bit, matched
    * words re-count through the same [[pairCountsOf]], and zero-count
    * pairs are dropped so exhaustion and tie-breaks agree.
    * @return (merges, vocab) exactly as [[train]] */
  def trainIncremental(words: DataFrame, steps: Int,
                       observe: Option[(String, Long) => Unit] = None)
      : (DataFrame, DataFrame) =
    // below the gate the incremental count table IS the driver loop's
    // recount (delta == recount is the operator's own invariant,
    // BpePropSpec-pinned); only the telemetry channel differs
    trainGated(words, steps, Frequency, observe, incremental = true)

  /** The distributed delta-maintained loop — [[trainIncremental]]'s
    * path above the gate (ShuffleGrowthSpec pins its delta-sized
    * per-step shuffle directly); `owned` as in [[trainRecount]]. */
  private[graft] def trainIncrementalDistributed(words: DataFrame, steps: Int,
                       observe: Option[(String, Long) => Unit] = None,
                       owned: Boolean = false)
      : (DataFrame, DataFrame) = {
    def report(stage: String)(rows: => Long): Unit = observe.foreach(_(stage, rows))
    val spark = words.sparkSession
    import spark.implicits._
    var vocab = Staging.stage(withCharSyms(words))
    if (owned) Staging.release(words)
    // the one corpus-sized pass: the full pair histogram
    var counts = Staging.stage(pairCountsOf(positionsOf(vocab)))
    val merges = Seq.newBuilder[Merge]
    var exhausted = false
    for (i <- 1 to steps if !exhausted) {
      // bounded 1-row driver collect, as in [[trainRecount]]: saves the
      // staged frame, the isEmpty probe, and the broadcast-build job
      val bpRows = counts
        .orderBy(col("pair_count").desc, col("x"), col("y")).limit(1)
        .collect()
      if (bpRows.isEmpty) exhausted = true
      else {
        val m = mergeOf(bpRows.head, Nil)
        merges += m
        val bp = Seq((m.x, m.y, m.pairCount)).toDF("x", "y", "pair_count")
        // matched = words containing the pair adjacently — map-only scan
        // the size guard short-circuits single-symbol words: without it
        // sequence(1, 0) DESCENDS under Spark's default step and the
        // element_at probes throw under ANSI. Staged ONCE so the
        // vocab-wide exists scan is paid once per step, not re-evaluated
        // by each of the matched/untouched consumers.
        val flagged = Staging.stage(vocab.crossJoin(broadcast(bp))
          .withColumn("mt", size(col("syms")) > 1 && expr(
            """exists(sequence(1, size(syms) - 1),
                 j -> element_at(syms, j) = x AND element_at(syms, j + 1) = y)"""))
          .select("word", "cnt", "syms", "mt"))
        val matched = flagged.filter(col("mt")).select("word", "cnt", "syms")
        val untouched = flagged.filter(!col("mt")).select("word", "cnt", "syms")
        val mpos = Staging.stage(positionsOf(matched))
        val rewritten = Staging.stage(applyMerge(mpos, bp))
        // count delta: retract the matched words' old pairs, add their
        // new ones; everything else is untouched by the rewrite
        val delta = pairCountsOf(mpos)
          .select(col("x"), col("y"), (-col("pair_count")).as("pair_count"))
          .unionByName(pairCountsOf(positionsOf(rewritten)))
        counts = Staging.stage(counts.unionByName(delta)
          .groupBy("x", "y").agg(sum(col("pair_count")).as("pair_count"))
          .filter(col("pair_count") > 0))
        vocab = Staging.stage(untouched.unionByName(rewritten))
        report(s"bpe:step${i}_pair_count")(m.pairCount)
        report(s"bpe:step${i}_matched_words")(matched.count())
      }
    }
    (mergesTable(spark, merges.result(), Nil), vocab)
  }
}
