package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Staging
import graft.functions.F
import graft.llm.Shingles.{kGramSparkExpr, toksExpr}
import graft.operators.GlobalRank
import LlmSql.{kGramSql, qualitySqlCte, toksSql}
import Q.t

/** LLM text statistics, quality signals and filters, sampling and
  * mixing, and the multimodal metadata rows. */
object LlmText {

  // ---- text statistics / quality scoring -------------------------------
  private val docStats = Q(
    "q40_doc_stats",
    (s, dir) =>
      t(s, dir, "documents")
        .withColumn("toks", expr(toksExpr))
        .select(col("doc_id"), col("n_chars"),
          length(col("text")).cast("long").as("char_len"),
          size(col("toks")).cast("long").as("word_cnt"),
          size(array_distinct(col("toks"))).cast("long").as("uniq_word_cnt"))
        .orderBy("doc_id"),
    Some(s"""WITH b AS (SELECT doc_id, n_chars, text, $toksSql AS toks FROM documents)
            SELECT doc_id, n_chars, CAST(length(text) AS BIGINT) AS char_len,
              CAST(len(toks) AS BIGINT) AS word_cnt,
              CAST(len(list_distinct(toks)) AS BIGINT) AS uniq_word_cnt
            FROM b ORDER BY doc_id"""))

  // ---- token counting (whitespace + BPE-ish regex) ---------------------
  private val tokenCount = Q(
    "q41_token_count",
    (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        expr(s"CAST(size($toksExpr) AS BIGINT)").as("n_ws_tokens"),
        expr("CAST(size(filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT)")
          .as("n_tokens"))
        .orderBy("doc_id"),
    Some(s"""SELECT doc_id,
              CAST(len($toksSql) AS BIGINT) AS n_ws_tokens,
              CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                x -> x <> '')) AS BIGINT) AS n_tokens
            FROM documents ORDER BY doc_id"""))

  // ---- language-ID heuristic (stopword-ratio n-gram stand-in) ----------
  private val langHeuristic = Q(
    "q42_lang_heuristic",
    (s, dir) =>
      t(s, dir, "documents")
        .withColumn("toks", expr(toksExpr))
        .select(col("doc_id"), col("lang"),
          expr("CAST(size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT)")
            .as("stop_cnt"),
          size(col("toks")).cast("long").as("tok_cnt"))
        .withColumn("is_en_like", col("stop_cnt") * 4 > col("tok_cnt"))
        .orderBy("doc_id"),
    Some(s"""WITH b AS (SELECT doc_id, lang, $toksSql AS toks FROM documents)
            SELECT doc_id, lang,
              CAST(len(list_filter(toks, x -> list_contains(['the', 'a', 'of', 'and', 'to'], x))) AS BIGINT) AS stop_cnt,
              CAST(len(toks) AS BIGINT) AS tok_cnt,
              CAST(len(list_filter(toks, x -> list_contains(['the', 'a', 'of', 'and', 'to'], x))) AS BIGINT) * 4
                > CAST(len(toks) AS BIGINT) AS is_en_like
            FROM b ORDER BY doc_id"""))

  // ---- document fingerprinting (normalized-content hash) ---------------
  private val fingerprint = Q(
    "q43_fingerprint",
    (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fingerprint"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
            FROM documents ORDER BY doc_id"""))

  // ---- native-Expression rolling-hash fingerprint ----------------------
  // Exercises graft.plans.RollingFingerprint — the codegen'd Catalyst
  // Expression — end to end through SQL function resolution.
  private val rollingFp = Q(
    "q55_rolling_fp",
    (s, dir) => {
      graft.plans.RollingFingerprint.register(s)
      t(s, dir, "documents")
        .select(col("doc_id"), expr("rolling_fingerprint(lower(text), 8)").as("fp"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, lower(text) AS s FROM documents)
            SELECT doc_id,
              CAST(CASE WHEN length(s) = 0 THEN 0
                   WHEN length(s) >= 8 THEN
                     list_min(list_transform(generate_series(1, length(s) - 7),
                       i -> list_sum(list_transform(generate_series(0, 7),
                         j -> ascii(substr(s, i + j, 1)) * CAST(pow(31, 7 - j) AS BIGINT)))))
                   ELSE
                     list_sum(list_transform(generate_series(0, length(s) - 1),
                       j -> ascii(substr(s, 1 + j, 1)) * CAST(pow(31, length(s) - 1 - j) AS BIGINT)))
              END AS BIGINT) AS fp
            FROM t ORDER BY doc_id"""))

  // ---- composite quality score (length/punct/stopword, brief §text) ----
  // The filter stage of a training-data pipeline: per-doc quality in
  // [0, 1] from punctuation density, stopword ratio, and mean word
  // length. Pure single-pass column arithmetic — at 100 TB this is a
  // map-only stage that fuses into the scan.
  /** Per-doc quality signals + composite score (map-only; the
    * ratio columns are UNROUNDED — consumers round at emission). The
    * `quality` column is rounded 6 dp so rankings over it tie-break
    * identically cross-engine. Shared by q60 (the report) and q101
    * (quality-ranked survivor selection). */
  private[queries] def qualityCols(docs: DataFrame): DataFrame =
    Staging.spread(docs)
      .withColumn("toks", expr(toksExpr))
      .withColumn("tok_cnt", size(col("toks")).cast("double"))
      .withColumn("punct_ratio",
        length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", "")).cast("double") /
          greatest(length(col("text")).cast("double"), lit(1.0)))
      .withColumn("stop_ratio",
        when(col("tok_cnt") > 0,
          expr("CAST(size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)")
            / col("tok_cnt")).otherwise(lit(0.0)))
      .withColumn("mean_word_len",
        when(col("tok_cnt") > 0,
          length(array_join(col("toks"), "")).cast("double") / col("tok_cnt"))
          .otherwise(lit(0.0)))
      .withColumn("quality",
        round(lit(0.4) * (lit(1.0) - col("punct_ratio")) +
          lit(0.3) * least(col("stop_ratio") * 4, lit(1.0)) +
          lit(0.3) * least(col("mean_word_len") / 8, lit(1.0)), 6))

  private val qualityScore = Q(
    "q60_quality_score",
    (s, dir) =>
      qualityCols(t(s, dir, "documents"))
        .select(col("doc_id"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("stop_ratio"), 6).as("stop_ratio"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          col("quality"))
        .orderBy("doc_id"),
    Some(s"""WITH $qualitySqlCte
            SELECT doc_id,
              round(punct_ratio, 6) AS punct_ratio,
              round(stop_ratio, 6) AS stop_ratio,
              round(mean_word_len, 6) AS mean_word_len,
              round(0.4 * (1.0 - punct_ratio) +
                    0.3 * least(stop_ratio * 4, 1.0) +
                    0.3 * least(mean_word_len / 8, 1.0), 6) AS quality
            FROM qm ORDER BY doc_id"""))

  // ---- PII scrubbing (map-only redaction pass) -------------------------
  // The redaction stage of a training-data pipeline: emails and long
  // digit runs are replaced with typed placeholder tokens (graft.
  // functions.F.redactPii — Column API only; `expr()` string literals
  // would unescape the regex). Output carries the redaction counts and a
  // fingerprint of the scrubbed text (not the text itself — the compare
  // stays small and the md5 proves byte-identical scrubbing). Map-only:
  // fuses into the scan at any scale. This fixture contains no PII-shaped
  // strings (the oracle pins the no-op path); the redaction semantics
  // themselves are pinned on synthetic text in FunctionsSpec.
  private val piiScrub = Q(
    "q62_pii_scrub",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          F.matchCount(col("text"), F.emailRe).as("n_emails"),
          F.matchCount(col("text"), F.longNumRe).as("n_long_nums"),
          md5(F.redactPii(col("text"))).as("clean_fp"))
        .orderBy("doc_id"),
    Some(s"""SELECT doc_id,
              CAST(len(regexp_extract_all(text, '${F.emailRe}')) AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(text, '${F.longNumRe}')) AS BIGINT) AS n_long_nums,
              md5(regexp_replace(regexp_replace(text, '${F.emailRe}', '<EMAIL>', 'g'),
                  '${F.longNumRe}', '<NUM>', 'g')) AS clean_fp
            FROM documents ORDER BY doc_id"""))

  // ---- composed corpus-cleaning chain ----------------------------------
  // The canonical training-data filter pipeline as ONE declarative plan:
  // exact dedup (first-doc-wins on content hash) -> length band ->
  // stopword-based language gate. Each stage is an operator proven
  // elsewhere (q44, q40, q42); composing them shows the stages fuse —
  // the dedup window is the only shuffle, the filters ride the same scan.
  private val corpusFilter = Q(
    "q63_corpus_filter",
    (s, dir) => {
      val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .withColumn("toks", expr(toksExpr))
        .withColumn("stop_cnt",
          expr("size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to')))"))
        .filter(col("n_chars").between(150, 450) &&
          col("stop_cnt") * 16 > size(col("toks")))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(s"""WITH d AS (
              SELECT doc_id, lang, n_chars, text FROM documents
              QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
            b AS (SELECT doc_id, lang, n_chars, $toksSql AS toks FROM d)
            SELECT doc_id, lang, n_chars FROM b
            WHERE n_chars BETWEEN 150 AND 450
              AND len(list_filter(toks, x -> list_contains(['the', 'a', 'of', 'and', 'to'], x))) * 16
                  > len(toks)
            ORDER BY doc_id"""))

  // ---- multimodal: opaque binary payload + typed metadata --------------
  // Image/audio decode itself is stubbed (no media libs in-container;
  // see graft.llm.Multimodal for the mapPartitions plumbing) — the
  // Spark-side schema/hash/metadata path is real and oracle-checked.
  private val multimodalMeta = Q(
    "q52_multimodal_meta",
    (s, dir) =>
      t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(col("doc_id"),
          octet_length(col("payload")).cast("long").as("byte_len"),
          md5(col("payload")).as("content_hash"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
              md5(text) AS content_hash
            FROM documents ORDER BY doc_id"""))

  // ---- multimodal: REAL header decode (PNG IHDR / JPEG SOF) ------------
  // Closes the round-9 stub: dimensions come out of the payload bytes
  // (graft.llm.Multimodal.parseDims — PNG's fixed-offset big-endian
  // IHDR fields, ITU T.81's marker walk to SOF for JPEG), not a
  // synthesized formula. The fixture ships no real media, so the query
  // manufactures it deterministically: each doc becomes a valid PNG
  // (even doc_id) or JPEG (odd) whose header encodes dimensions derived
  // from doc_id, with the doc's UTF-8 text as the body. The oracle
  // recomputes the expected dimensions arithmetically — any byte-level
  // disagreement between builder and parser breaks the round-trip and
  // the hash diverges. (A bug symmetric in builder AND parser is the
  // one thing this oracle can't see; MultimodalSpec's golden fixtures —
  // hand-written byte literals straight from the specs — pin byte order
  // and the marker walk against that.) The declared kind is a sentinel
  // ('media/raw'): the output kind comes from magic-byte DETECTION, so
  // a parse failure surfaces as a kind mismatch, not silence. Scale
  // shape: one typed mapPartitions over the corpus, map-only, no
  // shuffle before the presentation sort.
  private val multimodalDecode = Q(
    "q97_multimodal_decode",
    (s, dir) => {
      import s.implicits._
      import graft.llm.Multimodal
      val media = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val body = Option(text).getOrElse("").getBytes("UTF-8")
          val w = (id * 37 % 2000 + 16).toInt
          val h = (id * 59 % 1200 + 16).toInt
          if (id % 2 == 0)
            Multimodal.MediaRow(id, "media/raw", Multimodal.pngPayload(w, h, body))
          else
            Multimodal.MediaRow(id, "media/raw", Multimodal.jpegPayload(w, h, body))
        }
      Multimodal.decodeMeta(media)
        .select(col("media_id").as("doc_id"), col("kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("byte_len"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
              CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/jpeg' END AS kind,
              CAST(doc_id * 37 % 2000 + 16 AS BIGINT) AS width,
              CAST(doc_id * 59 % 1200 + 16 AS BIGINT) AS height,
              CAST(33 + COALESCE(octet_length(encode(text)), 0) AS BIGINT) AS byte_len
            FROM documents ORDER BY doc_id"""))

  // ---- multimodal: audio/video header decode (WAV fmt / MP4 mvhd) ------
  // q97's pattern for the time-based containers: each doc becomes a
  // complete PCM WAV (even doc_id — format fields and duration ride the
  // canonical 44-byte header, little-endian) or an ISO-BMFF header with
  // a spec-complete v0 mvhd (odd — movie duration via the box walk,
  // big-endian), parameters derived from doc_id so the oracle recomputes
  // them arithmetically; every derivation divides exactly, so no
  // floor-rounding seam exists between engines. Golden byte literals in
  // MultimodalSpec again cover the builder/parser-symmetric blind spot.
  // Scale shape: identical to q97 — one typed mapPartitions, map-only.
  private val multimodalAv = Q(
    "q98_multimodal_av",
    (s, dir) => {
      import s.implicits._
      import graft.llm.Multimodal
      val media = t(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          if (id % 2 == 0) {
            val k = (id % 3 + 1).toInt
            val ch = if (id % 4 == 0) 1 else 2
            val n = (8 * k * (id % 50 + 1)).toInt
            Multimodal.MediaRow(id, "media/raw",
              Multimodal.wavPayload(8000 * k, ch, 16, n))
          } else {
            val units = (id * 7) % 10000 + 600
            Multimodal.MediaRow(id, "media/raw", Multimodal.mp4Payload(500, units))
          }
        }
      Multimodal.decodeAvMeta(media)
        .select(col("media_id").as("doc_id"), col("kind"), col("byte_len"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("duration_ms"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
              CASE WHEN doc_id % 2 = 0 THEN 'audio/wav' ELSE 'video/mp4' END AS kind,
              CAST(CASE WHEN doc_id % 2 = 0
                THEN 44 + 8*(doc_id%3+1)*(doc_id%50+1)
                     * (CASE WHEN doc_id%4=0 THEN 1 ELSE 2 END) * 2
                ELSE 132 END AS BIGINT) AS byte_len,
              CAST(CASE WHEN doc_id % 2 = 0 THEN 8000*(doc_id%3+1)
                ELSE -1 END AS BIGINT) AS sample_rate,
              CAST(CASE WHEN doc_id % 2 = 0
                THEN (CASE WHEN doc_id%4=0 THEN 1 ELSE 2 END)
                ELSE -1 END AS BIGINT) AS channels,
              CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id%50+1
                ELSE ((doc_id*7)%10000+600)*2 END AS BIGINT) AS duration_ms
            FROM documents ORDER BY doc_id"""))

  // ---- vocabulary building: document frequency, top-N ------------------
  // The vocab/BPE-prep stage of a training-data pipeline: distinct tokens
  // per doc, document frequency across the corpus, top-N. The classic
  // map-reduce: explode is linear, the count aggregates map-side
  // (partial_count before the shuffle — one row per distinct token per
  // partition on the wire), and selection is TakeOrderedAndProject. At
  // 100 TB the shuffle is bounded by vocabulary size, not corpus size.
  private val vocabDf = Q(
    "q64_vocab_df",
    (s, dir) =>
      t(s, dir, "documents")
        .select(explode(expr(s"array_distinct($toksExpr)")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token"))
        .limit(200),
    Some(s"""WITH b AS (SELECT doc_id, list_distinct($toksSql) AS toks FROM documents),
            x AS (SELECT doc_id, unnest(toks) AS token FROM b)
            SELECT token, count(*) AS df FROM x GROUP BY token
            ORDER BY df DESC, token LIMIT 200"""))

  // ---- deterministic stratified sampling --------------------------------
  // Per-stratum downsampling at reproducible rates: keep a doc when the
  // first hex digit of md5(text) falls under the stratum's digit budget
  // (hex digits are uniform; ASCII order '0'-'9' < 'a'-'f' matches hex
  // value order, so a string compare IS the rate threshold). Here 'en'
  // keeps 8/16, everything else 4/16. Map-only — fuses into the scan,
  // no RNG state, and re-running selects the SAME rows: the property
  // that makes a 100 TB sample reproducible and joinable against
  // downstream artifacts built from it.
  private val stratifiedSample = Q(
    "q66_stratified_sample",
    (s, dir) =>
      t(s, dir, "documents")
        .filter(substring(md5(col("text")), 1, 1) <
          when(col("lang") === "en", lit("8")).otherwise(lit("4")))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, lang, source, n_chars FROM documents
            WHERE substr(md5(text), 1, 1) <
              (CASE WHEN lang = 'en' THEN '8' ELSE '4' END)
            ORDER BY doc_id"""))

  // Exact-COUNT sampling: q66 keeps a deterministic RATE; a training
  // run often needs exactly N examples ("take 100k docs, uniformly,
  // reproducibly"). Ordering by a per-row hash and taking N is a
  // uniform sample that re-selects the SAME rows on re-run (the hash
  // input includes the unique doc_id, so the order is a total order
  // with no ties) and is plan-cheap: hash-order + limit is
  // TakeOrderedAndProject — a bounded per-partition heap merged once
  // at the driver, never a global sort of the corpus.
  private val exactSample = Q(
    "q85_exact_sample",
    (s, dir) =>
      t(s, dir, "documents")
        .withColumn("h",
          md5(concat_ws("|", col("doc_id").cast("string"), col("text"))))
        .orderBy("h")
        .limit(120)
        .select("doc_id", "lang", "source", "h")
        .orderBy("doc_id"),
    Some("""WITH hx AS (
              SELECT doc_id, lang, source,
                md5(concat_ws('|', CAST(doc_id AS VARCHAR), text)) AS h
              FROM documents ORDER BY h LIMIT 120)
            SELECT doc_id, lang, source, h FROM hx ORDER BY doc_id"""))

  // ---- source-mix balancing: rates to hit a target distribution --------
  // The mixing stage: per-source doc counts and the per-source sampling
  // rate that equalizes the mix (rate = min_count / count). The aggregate
  // collapses 100 TB to one row per source BEFORE the whole-frame window,
  // so the window runs over a handful of rows; the emitted rates feed the
  // deterministic sampler (q66's predicate, parameterized per source).
  private val sourceMix = Q(
    "q67_source_mix",
    (s, dir) => {
      val counts = t(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      counts
        .withColumn("rate", round(
          min(col("n_docs")).over(Window.partitionBy()).cast("double") / col("n_docs"), 6))
        .orderBy("source")
    },
    Some("""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
            SELECT source, n_docs,
              round(CAST(min(n_docs) OVER () AS DOUBLE) / n_docs, 6) AS rate
            FROM c ORDER BY source"""))

  // ---- sequence packing: concat-and-chunk into training sequences ------
  // Pretraining packs documents back-to-back and chunks the stream at a
  // fixed token budget; `seq_id` is the chunk containing the document's
  // first token. Packing runs INSIDE each source partition (window
  // partitioned by source), so the running sum parallelizes across
  // sources and no global sort exists — the per-source order is the
  // deterministic doc_id order, which is what makes the packing
  // reproducible run-over-run at any scale.
  private val seqPacking = Q(
    "q68_seq_packing",
    (s, dir) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
      t(s, dir, "documents")
        .withColumn("n_toks", expr(s"CAST(size($toksExpr) AS BIGINT)"))
        .withColumn("seq_id",
          floor((sum(col("n_toks")).over(w) - col("n_toks")) / lit(512)).cast("long"))
        .select("doc_id", "source", "n_toks", "seq_id")
        .orderBy("doc_id")
    },
    Some(s"""WITH b AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_toks
                        FROM documents)
            SELECT doc_id, source, n_toks,
              CAST(floor((sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id) - n_toks)
                   / 512) AS BIGINT) AS seq_id
            FROM b ORDER BY doc_id"""))

  // ---- curriculum binning: per-language length deciles ------------------
  // Curriculum schedules order training data by difficulty proxies; the
  // canonical cheap proxy is length. percent_rank inside each language
  // (ties broken by doc_id — deterministic) maps to a decile bin. The
  // window partitions by language, so no global sort; at 100 TB exact
  // per-stratum ranks would come from approx_percentile thresholds +
  // a map-only bin assignment — the decile SEMANTICS pinned here are
  // the contract either implementation must meet.
  private val lengthCurriculum = Q(
    "q69_length_curriculum",
    (s, dir) => {
      val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .withColumn("bin",
          least(floor(percent_rank().over(w) * 10), lit(9)).cast("long"))
        .select("doc_id", "lang", "n_chars", "bin")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, n_chars,
              CAST(least(floor(percent_rank() OVER (
                PARTITION BY lang ORDER BY n_chars, doc_id) * 10), 9) AS BIGINT) AS bin
            FROM documents ORDER BY doc_id"""))

  // ---- TF-IDF keyword extraction ----------------------------------------
  // Top-3 tokens per document by tf·ln(N/df). The term-frequency table
  // aggregates map-side off one explode; document frequency reduces THAT
  // table (already one row per distinct doc-token pair). The df join back
  // onto tf is deliberately UNHINTED: vocabulary size follows Heaps' law,
  // so at web scale the distinct-token table runs to 10⁸–10⁹ rows and a
  // forced broadcast would OOM the driver — AQE broadcasts it exactly when
  // its measured size fits, and otherwise the join stays a shuffled hash
  // join keyed on token (both sides already token-clustered by their
  // aggregations). Only N, a 1-row aggregate, is hint-broadcast. Selection
  // is a per-doc window over ≤ |doc's vocab| rows; nothing is quadratic.
  private val tfidfTopTerms = Q(
    "q70_tfidf_terms",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("token"))
      tf.join(df_, Seq("token"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("tfidf"),
          col("rk").cast("long").as("rk"))
        .orderBy("doc_id", "rk")
    },
    Some(s"""WITH x AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM x GROUP BY doc_id, token),
            df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
            n AS (SELECT count(*) AS n_docs FROM documents),
            sc AS (SELECT tf.doc_id, tf.token, tf.tf,
                     round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
                   FROM tf JOIN df USING (token) CROSS JOIN n)
            SELECT doc_id, token, tf, tfidf,
              CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, token) AS BIGINT) AS rk
            FROM sc
            QUALIFY rk <= 3
            ORDER BY doc_id, rk"""))

  // ---- repetition signals (Gopher-style quality rules) ------------------
  // Excess repetition is the classic low-quality marker a corpus filter
  // gates on: the fraction of the doc occupied by its single most common
  // word bigram, and the duplicate-word fraction. Bigrams instantiate the
  // shared k-gram machinery (k=2, empty fallback — see kGramSparkExpr's
  // bind-once note); counting is one explode + hash aggregation keyed
  // (doc_id, gram) with map-side partials, and both per-doc windows share
  // the doc_id shuffle. Docs with fewer than two tokens have no bigram
  // and are absent by definition — both engines agree because unnesting
  // an empty list yields no rows.
  private val bigramFromToks = kGramSparkExpr(2, "array()")
  private val bigramSql = kGramSql(2, "CAST([] AS VARCHAR[])")

  private val repetition = Q(
    "q75_repetition",
    (s, dir) => {
      val grams = t(s, dir, "documents")
        .select(col("doc_id"), expr(toksExpr).as("toks"))
        .select(col("doc_id"),
          round(lit(1) - size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")), 6).as("dwf"),
          explode(expr(bigramFromToks)).as("gram"))
      // dwf is functionally determined by doc_id; max() carries it through
      // the gram aggregation without a second scan or a join-back
      val counts = grams.groupBy("doc_id", "gram")
        .agg(count(lit(1)).as("cnt"), max(col("dwf")).as("dup_word_frac"))
      val wTot = Window.partitionBy("doc_id")
      val wRk = Window.partitionBy("doc_id").orderBy(col("cnt").desc, col("gram"))
      counts
        .withColumn("n_bigrams", sum(col("cnt")).over(wTot))
        .withColumn("rk", row_number().over(wRk))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("gram").as("top_bigram"),
          col("cnt").as("top_cnt"), col("n_bigrams").cast("long").as("n_bigrams"),
          round(col("cnt").cast("double") / col("n_bigrams"), 6).as("top_bigram_frac"),
          col("dup_word_frac"))
        .orderBy("doc_id")
    },
    Some(s"""WITH b AS (SELECT doc_id, $toksSql AS toks FROM documents),
            g AS (SELECT doc_id,
                    round(1 - CAST(len(list_distinct(toks)) AS DOUBLE)/len(toks), 6) AS dwf,
                    unnest($bigramSql) AS gram
                  FROM b),
            c AS (SELECT doc_id, gram, count(*) AS cnt, max(dwf) AS dup_word_frac
                  FROM g GROUP BY 1, 2),
            t AS (SELECT doc_id, gram, cnt, dup_word_frac,
                    sum(cnt) OVER (PARTITION BY doc_id) AS n_bigrams,
                    row_number() OVER (PARTITION BY doc_id
                      ORDER BY cnt DESC, gram) AS rk
                  FROM c)
            SELECT doc_id, gram AS top_bigram, CAST(cnt AS BIGINT) AS top_cnt,
              CAST(n_bigrams AS BIGINT) AS n_bigrams,
              round(CAST(cnt AS DOUBLE)/n_bigrams, 6) AS top_bigram_frac,
              dup_word_frac
            FROM t WHERE rk = 1 ORDER BY doc_id"""))

  // ---- temperature-based source mixing ---------------------------------
  // The standard multilingual/multi-source sampling formula (q_i ∝ p_i^α,
  // α = 0.7): flattens the source distribution toward uniform without
  // inverting it — high-resource sources are down-weighted, low-resource
  // ones up-weighted. Like q67, the corpus collapses to one row per
  // source BEFORE the whole-frame windows, so they run over a handful of
  // rows; p/q stay unrounded through the arithmetic and round only at
  // emission (both engines compute the same IEEE-754 chain).
  private val temperatureMix = Q(
    "q77_temperature_mix",
    (s, dir) => {
      val tot = Window.partitionBy()
      t(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("p", col("n_docs").cast("double") / sum(col("n_docs")).over(tot))
        .withColumn("pa", pow(col("p"), lit(0.7)))
        .withColumn("q", col("pa") / sum(col("pa")).over(tot))
        .select(col("source"), col("n_docs"),
          round(col("p"), 6).as("p"), round(col("q"), 6).as("q"))
        .orderBy("source")
    },
    Some("""WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
            w AS (SELECT source, n_docs,
                    CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS p
                  FROM c),
            a AS (SELECT source, n_docs, p, power(p, 0.7) AS pa FROM w)
            SELECT source, n_docs, round(p, 6) AS p,
              round(pa / sum(pa) OVER (), 6) AS q
            FROM a ORDER BY source"""))

  // ---- token-budget epoch allocation -----------------------------------
  // The data-recipe step after q77's weights: given a training token
  // budget B, turn per-source token counts and temperature weights into
  // per-source REPEAT factors — epochs_i = (q_i * B) / tokens_i, capped
  // at 4 epochs (repeating data much past ~4 epochs stops buying loss:
  // Muennighoff et al., "Scaling Data-Constrained Language Models",
  // arXiv:2305.16264). This is the table a sampler actually consumes
  // when the budget exceeds low-resource sources: >1 means upsample by
  // repetition, the cap is where repetition is acknowledged exhausted,
  // and effective_tokens is the contribution after capping. Same scale
  // shape as q67/q77: the corpus collapses to one row per source BEFORE
  // the whole-frame windows, which then run over a handful of rows; the
  // p -> q arithmetic stays unrounded through the identical IEEE-754
  // chain in both engines and rounds only at emission.
  private val budgetTokens = 200000
  private val budgetEpochs = Q(
    "q95_budget_epochs",
    (s, dir) => {
      val tot = Window.partitionBy()
      t(s, dir, "documents")
        .withColumn("n_toks", expr(s"size($toksExpr)").cast("long"))
        .groupBy("source").agg(sum(col("n_toks")).as("n_tokens"))
        .withColumn("p", col("n_tokens").cast("double") / sum(col("n_tokens")).over(tot))
        .withColumn("pa", pow(col("p"), lit(0.7)))
        .withColumn("q", col("pa") / sum(col("pa")).over(tot))
        .withColumn("target_tokens", col("q") * lit(budgetTokens.toDouble))
        .withColumn("epochs",
          least(col("target_tokens") / col("n_tokens"), lit(4.0)))
        .select(col("source"), col("n_tokens"),
          round(col("q"), 6).as("q"),
          round(col("target_tokens"), 2).as("target_tokens"),
          round(col("epochs"), 6).as("epochs"),
          round(col("epochs") * col("n_tokens"), 2).as("effective_tokens"))
        .orderBy("source")
    },
    Some(s"""WITH d AS (SELECT source, $toksSql AS toks FROM documents),
            c AS (SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tokens
                  FROM d GROUP BY source),
            w AS (SELECT source, n_tokens,
                    CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS p
                  FROM c),
            a AS (SELECT source, n_tokens, power(p, 0.7) AS pa FROM w),
            qq AS (SELECT source, n_tokens, pa / sum(pa) OVER () AS q FROM a),
            tt AS (SELECT source, n_tokens, q, q * $budgetTokens AS target_tokens
                   FROM qq)
            SELECT source, n_tokens, round(q, 6) AS q,
              round(target_tokens, 2) AS target_tokens,
              round(least(target_tokens / n_tokens, 4.0), 6) AS epochs,
              round(least(target_tokens / n_tokens, 4.0) * n_tokens, 2)
                AS effective_tokens
            FROM tt ORDER BY source"""))

  // ---- Gopher quality-rule battery --------------------------------------
  // The published rule set behind large-corpus document filtering (Rae et
  // al., "Scaling Language Models: ... Gopher", arXiv:2112.11446 §A1.1),
  // reported per rule rather than as q60's blended score — production
  // pipelines tune and audit rules individually, so the per-rule flags
  // are the useful artifact: word count in [50, 100k], mean word length
  // in [3, 10], symbol-to-word ratio (# and ...) < 0.1, < 90% of lines
  // bullet-started, < 30% of lines ellipsis-ended, >= 80% of words with
  // an alphabetic character, and >= 2 distinct common-English stopwords
  // present. Map-only single-pass column arithmetic — at 100 TB this
  // fuses into the scan like q60/q62. Lines are non-empty newline splits
  // in BOTH engines (the engines disagree on trailing empty splits;
  // filtering empties pins one definition).
  private val gopherStops = "'the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'"
  private val gopherRules = Q(
    "q96_gopher_rules",
    (s, dir) =>
      t(s, dir, "documents")
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_words", size(col("toks")).cast("long"))
        .withColumn("mean_wl",
          when(col("n_words") > 0,
            length(array_join(col("toks"), "")).cast("double") / col("n_words"))
            .otherwise(lit(0.0)))
        .withColumn("n_sym",
          (length(col("text")) - length(replace(col("text"), lit("#"), lit("")))).cast("double")
            + (length(col("text")) - length(replace(col("text"), lit("..."), lit("")))) / lit(3.0))
        .withColumn("lines",
          expr("filter(split(text, '\\n'), x -> x <> '')"))
        .withColumn("n_lines", greatest(size(col("lines")).cast("double"), lit(1.0)))
        .withColumn("bullet_frac",
          expr("CAST(size(filter(lines, x -> x LIKE '-%' OR x LIKE '*%')) AS DOUBLE)")
            / col("n_lines"))
        .withColumn("ellipsis_frac",
          expr("CAST(size(filter(lines, x -> x LIKE '%...')) AS DOUBLE)") / col("n_lines"))
        .withColumn("alpha_frac",
          when(col("n_words") > 0,
            expr("CAST(size(filter(toks, x -> x rlike '[a-zA-Z]')) AS DOUBLE)")
              / col("n_words")).otherwise(lit(0.0)))
        .withColumn("n_stops",
          expr(s"size(filter(array($gopherStops), w -> array_contains(toks, w)))").cast("long"))
        .withColumn("g_word_count", col("n_words").between(50, 100000))
        .withColumn("g_mean_word_len", col("mean_wl") >= 3.0 && col("mean_wl") <= 10.0)
        .withColumn("g_symbol_ratio",
          when(col("n_words") > 0, col("n_sym") / col("n_words")).otherwise(lit(0.0)) < 0.1)
        .withColumn("g_bullet_lines", col("bullet_frac") < 0.9)
        .withColumn("g_ellipsis_lines", col("ellipsis_frac") < 0.3)
        .withColumn("g_alpha_words", col("alpha_frac") >= 0.8)
        .withColumn("g_stopwords", col("n_stops") >= 2)
        .select(col("doc_id"), col("n_words"),
          round(col("mean_wl"), 6).as("mean_word_len"),
          col("g_word_count"), col("g_mean_word_len"), col("g_symbol_ratio"),
          col("g_bullet_lines"), col("g_ellipsis_lines"), col("g_alpha_words"),
          col("g_stopwords"),
          (col("g_word_count") && col("g_mean_word_len") && col("g_symbol_ratio") &&
            col("g_bullet_lines") && col("g_ellipsis_lines") && col("g_alpha_words") &&
            col("g_stopwords")).as("gopher_pass"))
        .orderBy("doc_id"),
    Some(s"""WITH b AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
            m AS (SELECT doc_id,
                    CAST(len(toks) AS BIGINT) AS n_words,
                    CASE WHEN len(toks) > 0
                      THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks)
                      ELSE 0.0 END AS mean_wl,
                    CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                      + (length(text) - length(replace(text, '...', ''))) / 3.0 AS n_sym,
                    list_filter(string_split(text, chr(10)), x -> x <> '') AS lines,
                    list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')) AS alpha_toks,
                    len(list_filter([$gopherStops],
                      w -> list_contains(toks, w))) AS n_stops
                  FROM b),
            r AS (SELECT doc_id, n_words, mean_wl,
                    n_words BETWEEN 50 AND 100000 AS g_word_count,
                    mean_wl >= 3.0 AND mean_wl <= 10.0 AS g_mean_word_len,
                    (CASE WHEN n_words > 0 THEN n_sym / n_words ELSE 0.0 END) < 0.1
                      AS g_symbol_ratio,
                    CAST(len(list_filter(lines, x -> x LIKE '-%' OR x LIKE '*%'))
                        AS DOUBLE) / greatest(len(lines), 1) < 0.9 AS g_bullet_lines,
                    CAST(len(list_filter(lines, x -> x LIKE '%...')) AS DOUBLE)
                      / greatest(len(lines), 1) < 0.3 AS g_ellipsis_lines,
                    (CASE WHEN n_words > 0
                       THEN CAST(len(alpha_toks) AS DOUBLE) / n_words
                       ELSE 0.0 END) >= 0.8 AS g_alpha_words,
                    n_stops >= 2 AS g_stopwords
                  FROM m)
            SELECT doc_id, n_words, round(mean_wl, 6) AS mean_word_len,
              g_word_count, g_mean_word_len, g_symbol_ratio, g_bullet_lines,
              g_ellipsis_lines, g_alpha_words, g_stopwords,
              (g_word_count AND g_mean_word_len AND g_symbol_ratio AND
               g_bullet_lines AND g_ellipsis_lines AND g_alpha_words AND
               g_stopwords) AS gopher_pass
            FROM r ORDER BY doc_id"""))

  // ---- DSIR-style hashed-feature importance weights --------------------
  // Data selection by importance resampling (Xie et al. 2023,
  // arXiv:2302.03169): score each doc by how much more likely its
  // content is under a TARGET-domain n-gram model than under the raw
  // corpus model, estimated over HASHED bigram features. The hashing is
  // the scale move that separates this from q78/q84's open-vocabulary
  // LMs: both models live in a FIXED 256-bucket table regardless of
  // corpus size (web-scale bigram vocabularies are 10⁹+ rows and must
  // hash-join; these stay broadcastable forever — the explicit
  // broadcast below is safe by construction, not by measurement).
  // Target domain = the `lang = 'en'` slice; add-1 smoothing over the
  // bucket space keeps every log defined; docs with < 2 tokens have no
  // features and drop out, the same join semantics as q84. `selected`
  // thresholds the ROUNDED score at 0 (doc looks more target-like than
  // raw-like) so the boolean compares stably across engines.
  private val dsirBuckets = 256

  private val dsirWeights = Q(
    "q88_dsir_weights",
    (s, dir) => {
      val feats = Staging.stage(t(s, dir, "documents")
        .withColumn("toks", expr(toksExpr))
        .select(col("doc_id"), col("lang"), explode(expr(
          """zip_with(slice(toks, 1, greatest(size(toks)-1, 0)),
                      slice(toks, 2, greatest(size(toks)-1, 0)),
                      (a, b) -> concat(a, ' ', b))""")).as("bg"))
        .select(col("doc_id"), col("lang"),
          substring(md5(col("bg")), 1, 2).as("b")))
      val tgt = feats.filter(col("lang") === "en")
        .groupBy("b").agg(count(lit(1)).as("cnt_t"))
      val raw = feats.groupBy("b").agg(count(lit(1)).as("cnt_r"))
      val nt = tgt.agg(sum(col("cnt_t")).as("n_t"))
      val nr = raw.agg(sum(col("cnt_r")).as("n_r"))
      feats
        .join(broadcast(raw), Seq("b"))
        .join(broadcast(tgt), Seq("b"), "left")
        .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
        .withColumn("lr",
          log((coalesce(col("cnt_t"), lit(0L)) + lit(1.0)) /
              (col("n_t") + lit(dsirBuckets.toDouble))) -
          log((col("cnt_r") + lit(1.0)) / (col("n_r") + lit(dsirBuckets.toDouble))))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_feats"),
          round(avg(col("lr")), 6).as("avg_logratio"))
        .withColumn("selected", col("avg_logratio") > 0)
        .orderBy("doc_id")
    },
    Some(s"""WITH t0 AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
            x AS (SELECT doc_id, lang, unnest(toks) AS w,
                    generate_subscripts(toks, 1) AS i FROM t0),
            f AS (SELECT a.doc_id, a.lang,
                    substr(md5(a.w || ' ' || c.w), 1, 2) AS b
                  FROM x a JOIN x c ON a.doc_id = c.doc_id AND c.i = a.i + 1),
            tc AS (SELECT b, count(*) AS cnt_t FROM f WHERE lang = 'en' GROUP BY b),
            rc AS (SELECT b, count(*) AS cnt_r FROM f GROUP BY b),
            nt AS (SELECT sum(cnt_t) AS n_t FROM tc),
            nr AS (SELECT sum(cnt_r) AS n_r FROM rc),
            sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                     round(avg(
                       ln((COALESCE(cnt_t, 0) + 1.0) / (n_t + $dsirBuckets.0)) -
                       ln((cnt_r + 1.0) / (n_r + $dsirBuckets.0))), 6) AS avg_logratio
                   FROM f JOIN rc USING (b) LEFT JOIN tc USING (b)
                   CROSS JOIN nt CROSS JOIN nr
                   GROUP BY doc_id)
            SELECT doc_id, n_feats, avg_logratio, (avg_logratio > 0) AS selected
            FROM sc ORDER BY doc_id"""))

  // ---- reproducible corpus shuffle (contiguous global rank) ------------
  // Training reads the corpus in a shuffled-but-reproducible order: rank
  // every doc by a seeded hash (doc_id in the hash input makes the order
  // total, so re-runs rank identically) and emit a CONTIGUOUS global
  // position. The naive row_number() OVER (ORDER BY h) is a
  // single-partition window — the one shape this engine bans on data
  // rows — so the rank comes from operators/GlobalRank: distributed
  // range-partition sort + per-partition count offsets + a window keyed
  // on the range-partition id. The oracle IS the naive window (DuckDB
  // can afford it); both sides agree because offset + local position
  // reconstructs exactly the global order position.
  private val corpusShuffle = Q(
    "q89_corpus_shuffle",
    (s, dir) =>
      GlobalRank.withRank(
        t(s, dir, "documents").withColumn("h",
          md5(concat_ws("|", col("doc_id").cast("string"), col("text")))),
        col("h"), "rank")
        .select(col("doc_id"), col("h"), col("rank"))
        .orderBy("doc_id"),
    Some("""WITH hx AS (SELECT doc_id,
                md5(concat_ws('|', CAST(doc_id AS VARCHAR), text)) AS h
              FROM documents)
            SELECT doc_id, h,
              CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS rank
            FROM hx ORDER BY doc_id"""))

  // ---- per-stratum exact-count sampling --------------------------------
  // q85 takes exactly N docs corpus-wide; a training mixture more often
  // needs exactly N PER SOURCE ("10k docs from each feed, uniformly,
  // reproducibly"). Hash-order row_number per source — the window is
  // partitioned on a high-cardinality-enough key (one state counter per
  // source per task, never a global collapse), the sample is
  // deterministic for the same reason q85's is (doc_id seeds the hash),
  // and the filter discards everything past N before any further stage.
  private val perSourceN = 12

  private val perSourceSample = Q(
    "q90_per_source_sample",
    (s, dir) => {
      val w = Window.partitionBy("source").orderBy("h")
      t(s, dir, "documents")
        .withColumn("h",
          md5(concat_ws("|", col("doc_id").cast("string"), col("text"))))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= perSourceN)
        .select("doc_id", "source", "h", "rk")
        .orderBy("doc_id")
    },
    Some(s"""WITH hx AS (SELECT doc_id, source,
                md5(concat_ws('|', CAST(doc_id AS VARCHAR), text)) AS h
              FROM documents),
            r AS (SELECT doc_id, source, h,
                    CAST(row_number() OVER (PARTITION BY source ORDER BY h)
                      AS BIGINT) AS rk
                  FROM hx)
            SELECT doc_id, source, h, rk FROM r
            WHERE rk <= $perSourceN ORDER BY doc_id"""))

  // ---- corpus profiling -----------------------------------------------
  // The data-quality census a 100 TB ingest runs before anything else:
  // per-column null counts, exact distinct counts, numeric ranges and
  // string length means, in ONE aggregation pass (the multi-distinct
  // expands the scan k-ways inside a single shuffle — the standard
  // profile trade; swap count_distinct for approx_count_distinct when
  // the census is advisory). The single-row aggregate is then unpivoted
  // driver-free via a 5-way select over the 1-row frame.
  private val profileCensus = Q(
    "q135_profile",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
      val nums = Set("doc_id", "n_chars")
      val aggs = count(lit(1)).as("n") +: cols.flatMap { c =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nn"),
          count_distinct(col(c)).as(s"${c}_nd")) ++
          (if (nums(c)) Seq(
            min(col(c)).cast("double").as(s"${c}_mn"),
            max(col(c)).cast("double").as(s"${c}_mx"))
          else Seq(round(avg(length(col(c))), 6).as(s"${c}_al")))
      }
      val one = d.agg(aggs.head, aggs.tail: _*)
      cols.map { c =>
        one.select(lit(c).as("col_name"), col("n").as("n_rows"),
          col(s"${c}_nn").as("n_null"), col(s"${c}_nd").as("n_distinct"),
          (if (nums(c)) col(s"${c}_mn") else lit(null).cast("double"))
            .as("min_num"),
          (if (nums(c)) col(s"${c}_mx") else lit(null).cast("double"))
            .as("max_num"),
          (if (nums(c)) lit(null).cast("double") else col(s"${c}_al"))
            .as("avg_len"))
      }.reduce(_ unionByName _).orderBy("col_name")
    },
    Some(s"""WITH a AS (SELECT count(*) AS n,
              ${Seq("doc_id", "lang", "n_chars", "source", "text").map { c =>
      s"""CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_nn,
              count(DISTINCT $c) AS ${c}_nd,
              ${if (c == "doc_id" || c == "n_chars")
        s"CAST(min($c) AS DOUBLE) AS ${c}_mn, CAST(max($c) AS DOUBLE) AS ${c}_mx"
      else s"round(avg(length($c)), 6) AS ${c}_al"}"""
    }.mkString(",\n              ")}
            FROM documents)
            ${Seq("doc_id", "lang", "n_chars", "source", "text").map { c =>
      val (mn, mx, al) =
        if (c == "doc_id" || c == "n_chars")
          (s"${c}_mn", s"${c}_mx", "CAST(NULL AS DOUBLE)")
        else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)", s"${c}_al")
      s"""SELECT '$c' AS col_name, n AS n_rows, ${c}_nn AS n_null,
              ${c}_nd AS n_distinct, $mn AS min_num, $mx AS max_num,
              $al AS avg_len FROM a"""
    }.mkString("\n            UNION ALL\n            ")}
            ORDER BY col_name"""))

  // ---- Zipf slope fit ---------------------------------------------------
  // Does the corpus look like natural language? Least-squares slope of
  // log-frequency on log-rank over the top-100 terms (Zipf's law says
  // ≈ −1). The corpus-sized stage is one token count; the cut is
  // orderBy+limit (TakeOrderedAndProject), and the regression runs on
  // the 100-row frame via covar_pop/var_pop — no collect.
  private val zipfFit = Q(
    "q136_zipf_fit",
    (s, dir) => {
      val topN = 100
      val w = Window.orderBy(col("freq").desc, col("token"))
      val tf = t(s, dir, "documents")
        .select(explode(expr(toksExpr)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(topN)
        .withColumn("r", row_number().over(w))
        .select(log(col("r")).as("lr"), log(col("freq")).as("lf"))
      tf.agg(count(lit(1)).as("n_terms"),
          (covar_pop(col("lr"), col("lf")) / var_pop(col("lr"))).as("m"),
          avg(col("lf")).as("alf"), avg(col("lr")).as("alr"))
        .select(col("n_terms"), round(col("m"), 6).as("slope"),
          round(col("alf") - col("m") * col("alr"), 6).as("intercept"))
    },
    Some(s"""WITH x AS (SELECT unnest($toksSql) AS token FROM documents),
            tf AS (SELECT token, count(*) AS freq FROM x GROUP BY token),
            rk AS (SELECT freq,
                row_number() OVER (ORDER BY freq DESC, token) AS r
              FROM tf QUALIFY r <= 100),
            l AS (SELECT ln(r) AS lr, ln(freq) AS lf FROM rk)
            SELECT CAST(count(*) AS BIGINT) AS n_terms,
              round(covar_pop(lr, lf) / var_pop(lr), 6) AS slope,
              round(avg(lf) - covar_pop(lr, lf) / var_pop(lr) * avg(lr), 6)
                AS intercept
            FROM l"""))

  val queries: Seq[Q] = Seq(
    docStats, tokenCount, langHeuristic, fingerprint, rollingFp,
    multimodalMeta, multimodalDecode, multimodalAv, qualityScore, piiScrub,
    corpusFilter, vocabDf, stratifiedSample, exactSample, sourceMix,
    seqPacking, lengthCurriculum, tfidfTopTerms, repetition, temperatureMix,
    dsirWeights, corpusShuffle, perSourceSample, budgetEpochs, gopherRules,
    profileCensus, zipfFit)
}
