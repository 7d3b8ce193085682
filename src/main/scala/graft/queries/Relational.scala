package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.functions.F
import graft.operators.{Dedup, Skew, Upsert}
import graft.streaming.EventReports.{retentionReport, wauReport}
import Q.{t, withTempState}

/** The relational operator inventory (SURVEY.md §2), each entry an
  * oracle-checked query over the driver testdata. Determinism rules:
  * every query ends in a total ORDER BY; double aggregates go through
  * exact DECIMAL sums then cast to double so Spark and DuckDB agree
  * bit-for-bit; int-typed deriveds are cast to long to match DuckDB's
  * BIGINT defaults.
  */
object Relational {

  // ---- S4/P4/P1: incremental cursor scan -------------------------------
  // The extract step of every reference run: predicate pushed into the
  // scan (ref: config/hubspot/hubspotoop.py:140-163;
  // pipeline/hubspot_2_bigquery_migration/companies_pipeline.py:55-79).
  private val cursorScan = Q(
    "q01_cursor_scan",
    (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderdate") > lit("1999-06-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
            FROM orders WHERE o_orderdate > TIMESTAMP '1999-06-01 00:00:00'
            ORDER BY o_orderkey"""))

  // ---- S3: point lookup (pushed to parquet row-group stats) ------------
  private val pointLookup = Q(
    "q02_point_lookup",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") === 1)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")
        .orderBy("l_linenumber"),
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
            FROM lineitem WHERE l_orderkey = 1 ORDER BY l_linenumber"""))

  // ---- O1-O4: sort + limit (TakeOrderedAndProject, no full sort) -------
  private val topN = Q(
    "q03_topn",
    (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""))

  // ---- A2/A3: grouped aggregation (flagship bench query) ---------------
  private val groupAgg = Q(
    "q04_groupagg",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
              CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  // ---- J1: left enrichment join, small dim broadcast -------------------
  // (ref: pipeline/mautic_hubspot_email_log/mautic_hubspot_email_read_activities.py:183)
  private val joinEnrich = Q(
    "q05_join_enrich",
    (s, dir) =>
      t(s, dir, "orders")
        .join(
          broadcast(t(s, dir, "customer")
            .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_mktsegment"))),
          Seq("o_custkey"), "left")
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")
        .orderBy("o_orderkey"),
    Some("""SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name, c.c_mktsegment
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY o.o_orderkey"""))

  // ---- P6/J4: semi-join (customers that have orders) -------------------
  private val semiJoin = Q(
    "q06_semi_join",
    (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            ORDER BY c_custkey"""))

  // ---- J3/U3: anti-join set difference ---------------------------------
  // (ref: pipeline/hubspot_association_bigquery/hubspot_association_bigquery.py:81-85)
  private val antiJoin = Q(
    "q07_anti_join",
    (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            ORDER BY c_custkey"""))

  // ---- U1/S8: union of two scans (active + archived owners) ------------
  // (ref: config/hubspot/hubspotoop.py:418-434)
  private val unionScan = Q(
    "q08_union_scan",
    (s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_mktsegment") === "BUILDING")
        .unionByName(c.filter(col("c_mktsegment") === "AUTOMOBILE"))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
            WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
            ORDER BY c_custkey"""))

  // ---- W1/N5/F2: change-log versioning (CDC flow) ----------------------
  // Explode-order + row_number versioning + raw JSON audit column
  // (ref: pipeline/hubspot_deal_logs/hubspot_deal_log_pipeline.py:48-96).
  private val changeLog = Q(
    "q09_changelog",
    (s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_shipdate"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey").as("object_id"),
          col("l_linenumber"),
          col("l_shipdate").as("updated_at_date"),
          row_number().over(w).cast("long").as("version"))
        .withColumn("raw", to_json(struct(col("object_id"), col("version"))))
        .orderBy("object_id", "version")
    },
    Some("""SELECT object_id, l_linenumber, updated_at_date, version,
              to_json(struct_pack(object_id := object_id, version := version)) AS raw
            FROM (SELECT l_orderkey AS object_id, l_linenumber,
                    l_shipdate AS updated_at_date,
                    row_number() OVER (PARTITION BY l_orderkey
                      ORDER BY l_shipdate, l_linenumber) AS version
                  FROM lineitem)
            ORDER BY object_id, version"""))

  // ---- D1: deterministic first-wins dedup ------------------------------
  // (ref: pipeline/functions/functions.py:91-106)
  private val dedupFirst = Q(
    "q10_dedup_first",
    (s, dir) =>
      Dedup.firstWins(
        t(s, dir, "lineitem"),
        Seq("l_orderkey"),
        // full tiebreak: (shipdate, linenumber) pairs repeat in the data,
        // so the winner must be pinned down to the value level
        Seq(col("l_shipdate"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice")))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .orderBy("l_orderkey"),
    Some("""SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity FROM lineitem
            QUALIFY row_number() OVER (PARTITION BY l_orderkey
              ORDER BY l_shipdate, l_linenumber, l_quantity, l_extendedprice) = 1
            ORDER BY l_orderkey"""))

  // ---- A1/W2 + D3: grouped string-agg broadcast back to rows -----------
  // (ref: .../mautic_hubspot_email_read_activities.py:192, 112-115)
  private val stringAgg = Q(
    "q11_string_agg",
    (s, dir) => {
      // (l_orderkey, l_linenumber) is not unique in the data — order by
      // the flag value too so tied elements collect deterministically.
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_returnflag"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          array_join(collect_list(col("l_returnflag")).over(w), ",").as("flags"))
        .withColumn("flags_dedup", F.dedupList(col("flags")))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""WITH g AS (
              SELECT l_orderkey, l_linenumber,
                string_agg(l_returnflag, ',') OVER (PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_returnflag
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS flags
              FROM lineitem)
            SELECT l_orderkey, l_linenumber, flags,
              array_to_string(list_filter(string_split(flags, ','),
                (x, i) -> list_position(string_split(flags, ','), x) = i), ',') AS flags_dedup
            FROM g ORDER BY l_orderkey, l_linenumber"""))

  // ---- N1/F8/F10: association edges with md5 surrogate keys ------------
  // (ref: hubspot_association_bigquery.py:66-79)
  // The surrogate md5 and the constant edge type are FUNCTIONS of the
  // natural key (l_orderkey, l_partkey), so the dedup exchanges below
  // shuffle only the two longs (~16 B/row) and the derived columns are
  // stamped on after — hashing the 32-char md5 through the widest
  // shuffle would roughly triple its bytes for zero semantic gain.
  private def edgeKeys(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_shipdate"))

  private def stampEdge(df: DataFrame): DataFrame =
    df.withColumn("type", lit("contains"))
      .withColumn("association_id",
        F.surrogateKey(col("l_orderkey"), col("type"), col("l_partkey")))
      .select("association_id", "l_orderkey", "type", "l_partkey")

  private val md5Edges = Q(
    "q12_md5_edges",
    (s, dir) =>
      stampEdge(
        edgeKeys(s, dir).select("l_orderkey", "l_partkey").distinct())
        .orderBy("association_id"),
    Some("""SELECT DISTINCT
              md5(CAST(l_orderkey AS VARCHAR) || '|contains|' || CAST(l_partkey AS VARCHAR)) AS association_id,
              l_orderkey, 'contains' AS type, l_partkey
            FROM lineitem ORDER BY association_id"""))

  // ---- J3 composite: only-new-edges sync (anti-join vs warehouse set) --
  // (ref: hubspot_association_bigquery.py:53-58,81-85)
  private val edgesAnti = Q(
    "q13_edges_anti",
    (s, dir) => {
      // "id first seen at-or-after the cutoff" == min(shipdate) >= cutoff,
      // which folds the two-scan anti-join into one scan + one aggregation
      // (same result as the NOT EXISTS oracle, half the I/O)
      stampEdge(
        edgeKeys(s, dir)
          .groupBy("l_orderkey", "l_partkey")
          .agg(min(col("l_shipdate")).as("__first_seen"))
          .filter(col("__first_seen") >= lit("1999-01-01").cast("timestamp"))
          .drop("__first_seen"))
        .orderBy("association_id")
    },
    Some("""WITH e AS (
              SELECT md5(CAST(l_orderkey AS VARCHAR) || '|contains|' || CAST(l_partkey AS VARCHAR)) AS association_id,
                     l_orderkey, 'contains' AS type, l_partkey, l_shipdate
              FROM lineitem),
            newe AS (SELECT DISTINCT association_id, l_orderkey, type, l_partkey
                     FROM e WHERE l_shipdate >= TIMESTAMP '1999-01-01'),
            old AS (SELECT DISTINCT association_id FROM e
                    WHERE l_shipdate < TIMESTAMP '1999-01-01')
            SELECT n.* FROM newe n
            WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.association_id = n.association_id)
            ORDER BY association_id"""))

  // ---- K3/J5/F15: MERGE upsert (the centerpiece) -----------------------
  // target = snapshot to 1999; source = re-extracted 1998+ rows with a
  // changed cursor (+100 days) and doubled totalprice. Matched rows
  // update (cursor changed), unmatched insert; pre-1998 target survives.
  private val upsertOrders = Q(
    "q14_upsert_orders",
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val target = orders.filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      val source = orders.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 100 DAYS"))
      Upsert(target, source, Seq("o_orderkey"), "o_orderdate")
        .orderBy("o_orderkey")
    },
    Some("""WITH target AS (
              SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
            source AS (
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     o_totalprice * 2 AS o_totalprice,
                     o_orderdate + INTERVAL 100 DAY AS o_orderdate,
                     o_orderpriority
              FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
            SELECT t.* FROM target t
            WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
            UNION ALL
            SELECT s.* FROM source s
            ORDER BY o_orderkey"""))

  // ---- A2: max-aggregate cursor computation ----------------------------
  // (ref: pipeline/functions/functions.py:58-77)
  private val maxCursor = Q(
    "q15_max_cursor",
    (s, dir) => t(s, dir, "orders").agg(max(col("o_orderdate")).as("cursor_date")),
    Some("SELECT max(o_orderdate) AS cursor_date FROM orders"))

  // ---- A4: duplicate-key detection DQ check ----------------------------
  // (ref: config/bigquery/bigquery.py:227-229)
  private val dupCheck = Q(
    "q16_dup_check",
    (s, dir) =>
      Dedup.duplicateKeys(t(s, dir, "lineitem"), Seq("l_orderkey"))
        .select(col("l_orderkey").as("pk"), col("cnt"))
        .orderBy("pk"),
    Some("""SELECT l_orderkey AS pk, CAST(count(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1 ORDER BY pk"""))

  // ---- A3/A5/A6/A7: DQ summary aggregates ------------------------------
  // (ref: pipeline/functions/functions.py:108-121)
  private val dqSummary = Q(
    "q17_dq_summary",
    (s, dir) =>
      t(s, dir, "orders").agg(
        count(lit(1)).as("total_rows"),
        count(when(col("o_custkey").isNull, 1)).as("null_custkey"),
        countDistinct(col("o_orderstatus")).as("distinct_status")),
    Some("""SELECT CAST(count(*) AS BIGINT) AS total_rows,
              CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT) AS null_custkey,
              CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS distinct_status
            FROM orders"""))

  // ---- A6: distinct values of a column ---------------------------------
  private val distinctVals = Q(
    "q18_distinct",
    (s, dir) =>
      t(s, dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment"),
    Some("SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"))

  // ---- P1-P3/F10/F13/F14: projection, rename, recode, casts ------------
  // (ref: pipeline/email_read_log/email_read_log.py:30-44)
  private val projRename = Q(
    "q19_proj_rename",
    (s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        col("event_id").cast("string").as("e_id"),
        F.eventId(col("user_id"), col("event_id")).as("event_key"),
        (col("event_type") === "click").as("is_click"),
        floor(col("value")).cast("long").as("value_int"),
        col("user_id").as("contact_user_id"))
        .orderBy("event_id"),
    Some("""SELECT event_id, CAST(event_id AS VARCHAR) AS e_id,
              CAST(user_id AS VARCHAR) || '_' || CAST(event_id AS VARCHAR) AS event_key,
              event_type = 'click' AS is_click,
              CAST(floor(value) AS BIGINT) AS value_int,
              user_id AS contact_user_id
            FROM events ORDER BY event_id"""))

  // ---- P5/P8/P11/N7: filters + null-sentinel normalization -------------
  private val nullSentinel = Q(
    "q20_null_sentinel",
    (s, dir) =>
      t(s, dir, "events")
        .filter(!(col("event_type") === "purchase"))
        .select(col("event_id"),
          F.nullSentinel(col("event_type"), "error").as("et"),
          coalesce(F.nullSentinel(col("event_type"), "error"), lit("none")).as("et_filled"))
        .orderBy("event_id"),
    Some("""SELECT event_id, nullif(event_type, 'error') AS et,
              coalesce(nullif(event_type, 'error'), 'none') AS et_filled
            FROM events WHERE NOT (event_type = 'purchase') ORDER BY event_id"""))

  // ---- N3: JSON field extraction ---------------------------------------
  // (ref: pipeline/hubspot_engagement/hubspot_engagement_pipeline.py:52-53)
  private val jsonExtract = Q(
    "q21_json_extract",
    (s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id"),
    Some("""SELECT event_id, json_extract_string(props, '$.k') AS k_str,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events ORDER BY event_id"""))

  // ---- N4/N5: struct -> JSON serialization -----------------------------
  // (ref: hubspot_engagement_pipeline.py:56; hubspot_deal_log_pipeline.py:22-34)
  private val toJsonRaw = Q(
    "q22_to_json",
    (s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        to_json(struct(col("o_orderkey"), col("o_orderstatus"))).as("raw"))
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
              to_json(struct_pack(o_orderkey := o_orderkey, o_orderstatus := o_orderstatus)) AS raw
            FROM orders ORDER BY o_orderkey"""))

  // ---- F1: multi-format timestamp parse round-trip ---------------------
  // Three wire formats constructed deterministically, then parsed back by
  // parseHubTs (ref: hubspot_engagement_pipeline.py:16-27).
  private val multiformatTs = Q(
    "q23_multiformat_ts",
    (s, dir) => {
      val m = pmod(col("l_orderkey") + col("l_linenumber"), lit(3))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          when(m === 0, date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
            .when(m === 1, date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
            .otherwise(unix_millis(col("l_shipdate").cast("timestamp")).cast("string"))
            .as("rawts"))
        .withColumn("parsed", F.parseHubTs(col("rawts")).cast("timestamp_ntz"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""WITH b AS (
              SELECT l_orderkey, l_linenumber,
                (l_orderkey + l_linenumber) % 3 AS m, l_shipdate
              FROM lineitem),
            r AS (
              SELECT l_orderkey, l_linenumber,
                CASE WHEN m = 0 THEN strftime(l_shipdate, '%Y-%m-%dT%H:%M:%S.%gZ')
                     WHEN m = 1 THEN strftime(l_shipdate, '%Y-%m-%dT%H:%M:%SZ')
                     ELSE CAST(epoch_ms(l_shipdate) AS VARCHAR) END AS rawts
              FROM b)
            SELECT l_orderkey, l_linenumber, rawts,
              COALESCE(
                try_strptime(rawts, '%Y-%m-%dT%H:%M:%S.%gZ'),
                try_strptime(rawts, '%Y-%m-%dT%H:%M:%SZ'),
                CASE WHEN regexp_matches(rawts, '^\d{10,}$')
                     THEN epoch_ms(CAST(rawts AS BIGINT)) END) AS parsed
            FROM r ORDER BY l_orderkey, l_linenumber"""))

  // ---- F3/F4/F5: timezone shift, truncation, formatting ----------------
  private val tzShift = Q(
    "q24_tz_shift",
    (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        F.toGmt7(col("o_orderdate")).as("gmt7"),
        date_trunc("day", col("o_orderdate")).as("day_trunc"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("formatted"))
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_orderdate + INTERVAL 7 HOUR AS gmt7,
              date_trunc('day', o_orderdate) AS day_trunc,
              strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS formatted
            FROM orders ORDER BY o_orderkey"""))

  // ---- F7/U4: date-range window generator (sequence + explode) ---------
  // (ref: pipeline/hubspot_engagement/download_engagements.py:134-149)
  private val seqExplode = Q(
    "q25_seq_explode",
    (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"),
          explode(sequence(
            col("o_orderdate"),
            col("o_orderdate") + expr("INTERVAL 30 DAYS"),
            expr("INTERVAL 10 DAYS"))).as("win_start"))
        .orderBy("o_orderkey", "win_start"),
    Some("""SELECT o_orderkey,
              unnest(generate_series(o_orderdate, o_orderdate + INTERVAL 30 DAY,
                                     INTERVAL 10 DAY)) AS win_start
            FROM orders WHERE o_orderkey < 100
            ORDER BY o_orderkey, win_start"""))

  // ---- F11/F12: regex extract + string concat enrichment ---------------
  // (ref: pipeline/update_objects/update_note_companies.py:10-16,55)
  private val regexExtract = Q(
    "q26_regex",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        F.regexGroup(col("source"), "src(\\d+)").as("src_num"),
        concat(col("lang"), lit(", source: "), col("source")).as("note"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, regexp_extract(source, 'src(\d+)', 1) AS src_num,
              lang || ', source: ' || source AS note
            FROM documents ORDER BY doc_id"""))

  // ---- F16/F17/D3: list membership, null-safe append, list dedup -------
  private val arrayOps = Q(
    "q27_array_ops",
    (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          concat_ws(",", col("event_type"), lit("click"), col("event_type")).as("lst"))
        .withColumn("has_click", F.listContains(col("lst"), lit("click")))
        .withColumn("appended", F.listAppend(lit("top"), col("lst")))
        .withColumn("lst_dedup", F.dedupList(col("lst")))
        .orderBy("event_id"),
    Some("""WITH b AS (
              SELECT event_id, event_type,
                event_type || ',click,' || event_type AS lst
              FROM events)
            SELECT event_id, event_type, lst,
              coalesce(list_contains(string_split(lst, ','), 'click'), false) AS has_click,
              CASE WHEN lst IS NULL THEN 'top' ELSE 'top,' || lst END AS appended,
              array_to_string(list_filter(string_split(lst, ','),
                (x, i) -> list_position(string_split(lst, ','), x) = i), ',') AS lst_dedup
            FROM b ORDER BY event_id"""))

  // ---- Event-time tumbling window aggregate (idiomatic Spark extension;
  // batch equivalent of the streaming windowed agg, SURVEY.md §2.12) -----
  private val eventWindow = Q(
    "q28_event_window",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("win"), col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .orderBy("win", "event_type"),
    Some("""SELECT date_trunc('hour', ts) AS win, event_type,
              CAST(count(*) AS BIGINT) AS cnt,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY win, event_type"""))

  // ---- sliding event-time window (2h window, 1h slide) -----------------
  // SURVEY §2.12: the reference has no real windows; tumbling (q28),
  // sliding (here) and session (q38) are the idiomatic Spark extensions.
  private val slidingWindow = Q(
    "q37_sliding_window",
    (s, dir) =>
      t(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").cast("timestamp_ntz").as("win_start"),
          col("event_type"), col("cnt"))
        .orderBy("win_start", "event_type"),
    Some("""WITH w AS (
              SELECT event_type,
                unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start
              FROM events)
            SELECT CAST(win_start AS TIMESTAMP) AS win_start, event_type,
              CAST(count(*) AS BIGINT) AS cnt
            FROM w GROUP BY 1, 2 ORDER BY win_start, event_type"""))

  // ---- session window (5-minute inactivity gap) ------------------------
  private val sessionWindow = Q(
    "q38_session_window",
    (s, dir) =>
      t(s, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"),
          date_trunc("millisecond", col("session_window.start"))
            .cast("timestamp_ntz").as("session_start"),
          col("cnt"))
        .orderBy("user_id", "session_start"),
    Some("""WITH l AS (
              SELECT user_id, ts,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 5 MINUTE
                     THEN 1 ELSE 0 END AS brk
              FROM events),
            g AS (
              SELECT user_id, ts,
                sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM l)
            SELECT user_id,
              date_trunc('millisecond', min(ts)) AS session_start,
              CAST(count(*) AS BIGINT) AS cnt
            FROM g GROUP BY user_id, sid ORDER BY user_id, session_start"""))

  // ---- lead/lag SCD-2-style validity intervals -------------------------
  private val scd2 = Q(
    "q29_scd2",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        date_trunc("millisecond", col("ts")).as("valid_from"),
        lead(date_trunc("millisecond", col("ts")), 1).over(w).as("valid_to"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
        .orderBy("user_id", "event_id")
    },
    Some("""SELECT user_id, event_id,
              date_trunc('millisecond', ts) AS valid_from,
              lead(date_trunc('millisecond', ts), 1) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
              lag(event_type, 1) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
            FROM events ORDER BY user_id, event_id"""))

  // ---- S10: remote-SQL source (spark.sql over registered views) --------
  // (ref: config/redash/Redash.py:46-78)
  private val sqlSource = Q(
    "q30_sql_source",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT n.n_name, CAST(count(*) AS BIGINT) AS cnt
               FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
               GROUP BY n.n_name ORDER BY n.n_name""")
    },
    Some("""SELECT n.n_name, CAST(count(*) AS BIGINT) AS cnt
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name ORDER BY n.n_name"""))

  // ---- S11-S13: date-range + OR + IN-list filtered scans ---------------
  // (ref: config/mautic/mautic.py:47-70,260-285,291-333)
  private val rangeOrIn = Q(
    "q31_range_or_in",
    (s, dir) =>
      t(s, dir, "events")
        .filter(col("ts").between(
          lit("2024-01-05 00:00:00").cast("timestamp"),
          lit("2024-01-20 00:00:00").cast("timestamp")))
        .filter(col("event_type").isin("click", "purchase", "signup") ||
          col("value") > 900)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id"),
    Some("""SELECT event_id, user_id, event_type, value FROM events
            WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
              AND (event_type IN ('click', 'purchase', 'signup') OR value > 900)
            ORDER BY event_id"""))

  // ---- set operations beyond the reference (SURVEY §2.8: "include
  // Spark's built-in intersect anyway — free") -------------------------
  private def custkeysOfYear(s: SparkSession, dir: String, year: Int): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
      .select("o_custkey")

  private val intersectOp = Q(
    "q34_intersect",
    (s, dir) =>
      custkeysOfYear(s, dir, 1999).intersect(custkeysOfYear(s, dir, 2000))
        .orderBy("o_custkey"),
    Some("""SELECT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderdate < TIMESTAMP '2000-01-01'
            INTERSECT
            SELECT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2001-01-01'
            ORDER BY o_custkey"""))

  private val exceptOp = Q(
    "q35_except",
    (s, dir) =>
      custkeysOfYear(s, dir, 1999).except(custkeysOfYear(s, dir, 2000))
        .orderBy("o_custkey"),
    Some("""SELECT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderdate < TIMESTAMP '2000-01-01'
            EXCEPT
            SELECT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2001-01-01'
            ORDER BY o_custkey"""))

  // ---- rollup aggregate (beyond-reference breadth; null group keys are
  // sentinel-coalesced so both engines order identically) ----------------
  private val rollupAgg = Q(
    "q36_rollup",
    (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("cnt"))
        .orderBy("rf", "ls"),
    Some("""SELECT coalesce(l_returnflag, '(all)') AS rf,
              coalesce(l_linestatus, '(all)') AS ls,
              CAST(count(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
            ORDER BY rf, ls"""))

  // ---- pivot: long-to-wide conditional aggregation ---------------------
  // (beyond-reference breadth) Per-user event-type counts as columns. The
  // pivot domain is DECLARED (the five event types), so this is one
  // aggregation pass — Spark's pivot without an explicit value list runs
  // a distinct-values discovery job over the whole input first, which at
  // 100 TB is a full extra scan for something the schema owner already
  // knows. Missing cells are zero-filled to match the SQL FILTER form.
  private val pivotCounts = Q(
    "q71_pivot",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id"),
    Some("""SELECT user_id,
              CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
              CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
              CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
              CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
              CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
            FROM events GROUP BY user_id ORDER BY user_id"""))

  // ---- binned range join: points-in-intervals without an equi key ------
  // graft.operators.RangeJoin end to end: sampled lineitems (points, by
  // ship date) against sampled orders' 30-day windows — no shared key,
  // the non-equi shape Spark would otherwise plan as a nested-loop join.
  // The 7-day bin ≈ 1/4 of the interval span: each interval explodes
  // into ~5 bins, candidates stay bin-local. DuckDB evaluates the naive
  // BETWEEN join as the oracle.
  private val rangeJoin = Q(
    "q72_range_join",
    (s, dir) => {
      val pts = t(s, dir, "lineitem").filter(col("l_orderkey") % 97 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      val ivs = t(s, dir, "orders").filter(col("o_orderkey") % 101 === 0)
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("o_end"))
      graft.operators.RangeJoin
        .pointInInterval(pts, "l_shipdate", ivs, "o_orderdate", "o_end",
          binSeconds = 7L * 24 * 3600)
        .select("l_orderkey", "l_linenumber", "o_orderkey")
        .orderBy("l_orderkey", "l_linenumber", "o_orderkey")
    },
    Some("""SELECT l.l_orderkey, l.l_linenumber, o.o_orderkey
            FROM (SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
                  WHERE l_orderkey % 97 = 0) l
            JOIN (SELECT o_orderkey, o_orderdate,
                    o_orderdate + INTERVAL 30 DAY AS o_end
                  FROM orders WHERE o_orderkey % 101 = 0) o
              ON l.l_shipdate >= o.o_orderdate AND l.l_shipdate <= o.o_end
            ORDER BY l_orderkey, l_linenumber, o_orderkey"""))

  // ---- N6: map flatten with parent key (traverse_dict) -----------------
  // (ref: transformation/transformation.py:5-15) — JSON object column ->
  // one row per (key, value) pair via from_json + explode(map_entries).
  private val mapFlatten = Q(
    "q33_map_flatten",
    (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          explode(map_entries(from_json(col("props"), lit("map<string,bigint>")))).as("kv"))
        .select(col("event_id"), col("kv.key").as("key"), col("kv.value").as("value"))
        .orderBy("event_id", "key"),
    Some("""WITH k AS (
              SELECT event_id, props, unnest(json_keys(props)) AS key FROM events)
            SELECT event_id, key,
              CAST(json_extract_string(props, '$.' || key) AS BIGINT) AS value
            FROM k ORDER BY event_id, key"""))

  // ---- Reverse-ETL composite: join + flag + filter + group transform ---
  // The §3.3 lifecycle on testdata: log ⋈ dim, array-contains flag,
  // negation filter, windowed string-agg, order-preserving dedup
  // (ref: .../mautic_hubspot_email_read_activities.py:172-202).
  private val reverseEtl = Q(
    "q32_reverse_etl",
    (s, dir) => {
      val log = t(s, dir, "events")
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_name"), col("c_mktsegment"))
      val joined = log.join(broadcast(dim), Seq("user_id"), "left")
        .withColumn("is_logged",
          F.listContains(col("c_mktsegment"), col("event_type")))
        .filter(!col("is_logged"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      joined
        .select(col("user_id"), col("event_id"), col("c_name"),
          array_join(collect_list(col("event_type")).over(w), ",").as("campaigns"))
        .withColumn("campaigns_dedup", F.dedupList(col("campaigns")))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH joined AS (
              SELECT e.user_id, e.event_id, e.event_type, c.c_name, c.c_mktsegment
              FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
              WHERE NOT coalesce(list_contains(string_split(c.c_mktsegment, ','), e.event_type), false)),
            g AS (
              SELECT user_id, event_id, c_name,
                string_agg(event_type, ',') OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS campaigns
              FROM joined)
            SELECT user_id, event_id, c_name, campaigns,
              array_to_string(list_filter(string_split(campaigns, ','),
                (x, i) -> list_position(string_split(campaigns, ','), x) = i), ',') AS campaigns_dedup
            FROM g ORDER BY user_id, event_id"""))

  // ---- as-of join: events enriched with the latest order as of ts ------
  // The temporal-join operator Spark lacks natively (AsOf operator doc);
  // oracle = DuckDB's native ASOF LEFT JOIN — an independent
  // implementation of the same semantics, not a mirrored construction.
  private val asofEnrich = Q(
    "q58_asof_enrich",
    (s, dir) => {
      // right side must be unique per (key, ts): deterministic arg-max
      val wDedup = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
        .orderBy(col("o_orderkey").desc)
      val ord = t(s, dir, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
        .withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1).drop("__rn")
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.AsOf.join(ev, ord,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTs = "ts", rightTs = "o_orderdate",
        payload = Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("user_id"),
          date_trunc("millisecond", col("ts")).as("ts_ms"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy("event_id")
    },
    Some("""WITH o AS (
              SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM orders
              QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                         ORDER BY o_orderkey DESC) = 1),
            e AS (SELECT event_id, user_id, ts FROM events)
            SELECT e.event_id, e.user_id,
              date_trunc('millisecond', e.ts) AS ts_ms,
              o.o_orderkey, o.o_totalprice
            FROM e ASOF LEFT JOIN o
              ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
            ORDER BY e.event_id"""))

  // ---- exact percentiles + distinct counts (DQ / profiling) ------------
  // Exact `percentile` is the oracle-checkable baseline; the approximate
  // scale path (approx_count_distinct HLL, percentile_approx KLL) is
  // covered by ApproxSpec with error-bound assertions — sketches are not
  // bit-comparable across engines, so they verify by tolerance, not hash.
  private val percentiles = Q(
    "q59_percentiles",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.95)"), 6).as("p95"),
          countDistinct(col("l_partkey")).as("distinct_parts"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
              round(quantile_cont(l_quantity, 0.5), 6) AS p50,
              round(quantile_cont(l_quantity, 0.95), 6) AS p95,
              CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // ---- skew-salted join surfaced as an oracle-checked query ------------
  // events.user_id is the hot-key column (a handful of users dominate the
  // stream); Skew.saltedJoin scatters each key across 8 reducers — probe
  // side salted deterministically by event_id, build side replicated 8× —
  // so one hot user lands on 8 reducers instead of one straggler. The
  // result is IDENTICAL to the plain equi-join, which is exactly what the
  // DuckDB oracle states. (Locally AQE may still broadcast the small
  // replicated build side; at scale, with a build side past the broadcast
  // threshold, the salted keys are what spread the sort-merge join.)
  private val saltedJoinAgg = Q(
    "q61_salted_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      Skew.saltedJoin(ev, cust, Seq("user_id"), 8, col("event_id"))
        .groupBy("c_mktsegment")
        .agg(
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"),
          count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c.c_mktsegment,
              CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
              CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"""))

  // ---- ordered-sequence funnel analytics -------------------------------
  // The classic event-analytics operator over the reference's domain
  // (marketing events -> conversion reporting): per user, the deepest
  // stage of the ordered funnel view -> click -> purchase reached under
  // earliest-completion semantics with a per-step conversion window —
  // t1 = first view, t2 = first click STRICTLY after t1 and within 24 h
  // of it, t3 = first purchase strictly after t2 and within 24 h. The
  // Spark side is ONE user-keyed shuffle: per-user events collect into
  // a ts-sorted in-row array (the q92 determinism trick) and a single
  // `aggregate` lambda walks it — the walk is order-equivalent to the
  // min-chain definition because the array is ts-sorted and stages
  // advance strictly. The oracle is an INDEPENDENT formulation (three
  // chained min-aggregations, q58/q72's independent-implementation
  // discipline), so agreement checks the semantics, not a shared
  // derivation. Scale: no self-joins on the 100 TB side, one shuffle,
  // state per user is one 3-field struct; per-user event lists are
  // bounded by the usual time-partitioned funnel windows.
  private val funnel = Q(
    "q107_funnel",
    (s, dir) => {
      val evs = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type").as("tp"))
        .groupBy("user_id")
        .agg(expr("array_sort(collect_list(struct(ts, tp)))").as("evs"))
        .withColumn("f", expr(
          """aggregate(evs,
               named_struct('t1', CAST(NULL AS TIMESTAMP_NTZ),
                            't2', CAST(NULL AS TIMESTAMP_NTZ),
                            't3', CAST(NULL AS TIMESTAMP_NTZ)),
               (st, e) -> named_struct(
                 't1', CASE WHEN st.t1 IS NULL AND e.tp = 'view'
                            THEN e.ts ELSE st.t1 END,
                 't2', CASE WHEN st.t2 IS NULL AND st.t1 IS NOT NULL
                                 AND e.tp = 'click' AND e.ts > st.t1
                                 AND e.ts <= st.t1 + INTERVAL 24 HOURS
                            THEN e.ts ELSE st.t2 END,
                 't3', CASE WHEN st.t3 IS NULL AND st.t2 IS NOT NULL
                                 AND e.tp = 'purchase' AND e.ts > st.t2
                                 AND e.ts <= st.t2 + INTERVAL 24 HOURS
                            THEN e.ts ELSE st.t3 END))"""))
      evs.select(col("user_id"),
        col("f.t1").as("t1"), col("f.t2").as("t2"), col("f.t3").as("t3"))
        .withColumn("depth",
          when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
            .when(col("t1").isNotNull, 1).otherwise(0).cast("int"))
        .withColumn("converted", col("t3").isNotNull)
        .orderBy("user_id")
    },
    Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
            s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                   WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(e.ts) AS t2
                   FROM events e JOIN s1 USING (user_id)
                   WHERE e.event_type = 'click' AND e.ts > s1.t1
                     AND e.ts <= s1.t1 + INTERVAL 24 HOUR
                   GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(e.ts) AS t3
                   FROM events e JOIN s2 USING (user_id)
                   WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                     AND e.ts <= s2.t2 + INTERVAL 24 HOUR
                   GROUP BY e.user_id)
            SELECT u.user_id, s1.t1, s2.t2, s3.t3,
              CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                        WHEN s2.t2 IS NOT NULL THEN 2
                        WHEN s1.t1 IS NOT NULL THEN 1
                        ELSE 0 END AS INT) AS depth,
              (s3.t3 IS NOT NULL) AS converted
            FROM u LEFT JOIN s1 USING (user_id)
              LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
            ORDER BY u.user_id"""))

  // ---- cohort retention ------------------------------------------------
  // The other standard event-analytics report: users cohorted by signup
  // week, counted as retained in each later week they were active.
  // cohort = week of the user's FIRST signup event; a user is active in
  // week w if ANY event lands there; week_offset = whole weeks since
  // the cohort week (both sides derive it as day-difference div 7 over
  // week-truncated stamps, so the arithmetic is identical). Scale: one
  // user-keyed min for cohorts, one distinct over (user, week) — both
  // map-side-partial — then a count-distinct keyed on (cohort, offset);
  // no self-join of the event log against itself.
  /** q108's oracle — also the oracle of q112's incremental fold (same
    * report, streaming-maintained inputs). */
  private val retentionSql =
    """WITH c AS (SELECT user_id, min(date_trunc('week', ts)) AS cohort
               FROM events WHERE event_type = 'signup' GROUP BY user_id),
        a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
              FROM events)
        SELECT c.cohort, CAST(date_diff('day', c.cohort, a.wk) // 7 AS INT)
            AS week_offset,
          CAST(count(DISTINCT c.user_id) AS BIGINT) AS active_users
        FROM c JOIN a USING (user_id)
        WHERE a.wk >= c.cohort
        GROUP BY 1, 2 ORDER BY cohort, week_offset"""

  private val retention = Q(
    "q108_retention",
    (s, dir) => {
      val ev = t(s, dir, "events")
      retentionReport(
        ev.filter(col("event_type") === "signup")
          .groupBy("user_id")
          .agg(min(date_trunc("week", col("ts"))).as("cohort")),
        ev.select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
          .distinct())
    },
    Some(retentionSql))

  // ---- rolling active users (7-day WAU per day) ------------------------
  // The third standard event report (with q107's funnel and q108's
  // retention): for each observed day, how many distinct users were
  // active in the trailing 7-day window. The scalable shape is the
  // bounded explode — each (user, day) distinct pair fans out to the
  // <= 7 window-end days it contributes to, then a day-keyed
  // count-distinct; fan-out is a fixed x7, there is NO sliding-window
  // count-distinct (not decomposable) and no day-range self-join of
  // the log. The oracle is the INDEPENDENT range-join formulation
  // (day BETWEEN d-6 AND d), so agreement checks the window semantics.
  // Only observed days are reported (semi-join back), matching the
  // oracle's day list.
  /** q109's oracle — also the oracle of q113's incremental fold. */
  private val wauSql =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
               FROM events),
        dd AS (SELECT DISTINCT d AS day FROM ud)
        SELECT CAST(dd.day AS TIMESTAMP) AS day,
          CAST(count(DISTINCT ud.user_id) AS BIGINT) AS wau
        FROM dd JOIN ud ON ud.d BETWEEN dd.day - 6 AND dd.day
        GROUP BY dd.day ORDER BY day"""

  private val rollingActive = Q(
    "q109_rolling_active",
    (s, dir) => wauReport(t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()),
    Some(wauSql))

  // ---- incremental event reports as oracle rows ------------------------
  // The q82 pattern applied to the event-analytics tier: each invocation
  // folds the event log into a FRESH temp state through the streaming
  // maintenance code (graft.streaming.EventReports) — NEWER HALF FIRST,
  // so the order-insensitivity the streaming tier claims is what the
  // driver actually checks — then reports off the folded state. The
  // oracle is the corresponding BATCH oracle verbatim: stream == batch
  // becomes driver-visible, not just spec-pinned. The mid-log time cut
  // is a 1-row aggregate (bounded scalar, the cursor-read category).
  private def foldEventsInto(s: SparkSession, dir: String,
                             state: String): Unit = {
    val ev = t(s, dir, "events").select("user_id", "ts", "event_type")
    val cut = ev.agg(avg(unix_micros(col("ts").cast("timestamp"))))
      .collect()(0).getDouble(0).toLong
    val us = unix_micros(col("ts").cast("timestamp"))
    graft.streaming.EventReports.foldBatch(ev.filter(us >= cut), state)
    graft.streaming.EventReports.foldBatch(ev.filter(us < cut), state)
  }

  // both rows run under withTempState so the per-invocation state
  // dir is DELETED after the (staged) report materializes — the old
  // createTempDirectory shape leaked one folded state dir per
  // invocation, and Bench invokes each row several times per section
  private val incRetention = Q(
    "q112_incremental_retention",
    (s, dir) => withTempState("graft_q112") { tmp =>
      foldEventsInto(s, dir, tmp)
      graft.streaming.EventReports.retention(s, tmp)
    },
    Some(retentionSql))

  private val incRollingActive = Q(
    "q113_incremental_wau",
    (s, dir) => withTempState("graft_q113") { tmp =>
      foldEventsInto(s, dir, tmp)
      graft.streaming.EventReports.rollingActive(s, tmp)
    },
    Some(wauSql))

  // The REAL-STREAM oracle rows (q146/q147) land the batch as files
  // under withTempState and run the streaming query against them with
  // AvailableNow, collecting emissions via foreachBatch into a scratch
  // parquet. The stream is genuine — file source, checkpoint, watermark,
  // state store — not a fold-method shortcut, because these operators
  // ARE their flatMapGroupsWithState logic.

  /** Run a streaming frame to completion against the scratch checkpoint,
    * landing every emitted row in `tmp/out`. `mode` must match the
    * stateful operator's declared OutputMode (Sessionize emits Append,
    * Funnel Update).
    *
    * STATE-PARTITION SIZING: a stateful operator's state-store count is
    * pinned to `spark.sql.shuffle.partitions` at the query's FIRST start
    * and frozen into the checkpoint — the session default (= core count)
    * is a batch-shuffle knob, not a state-volume decision, and at
    * micro-batch state volumes it buys 32 near-empty state-store commits
    * per micro-batch (per-partition open/commit fixed cost, zero rows).
    * These proof rows create a FRESH checkpoint per invocation, so the
    * count may be chosen per run without any migration concern (an
    * existing checkpoint keeps its own value by Spark's contract —
    * restarting deployments are unaffected by construction). It is
    * derived from the landed input's byte size (state ∝ input for these
    * one-shot AvailableNow streams), 32 MiB per partition, capped at the
    * session's shuffle parallelism — scale-adaptive, never a constant
    * tuned to either local mode or the cluster. The session conf is set
    * only for the window the stream CLONES its conf in (start()) and
    * restored immediately after termination. */
  private val statePartitionBytes = 32L << 20

  private def runStream(out: DataFrame, tmp: String,
                        mode: String): Unit = {
    val spark = out.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val scoped = scala.util.Try {
      val in = new org.apache.hadoop.fs.Path(s"$tmp/in")
      val bytes = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(in).getLength
      math.max(1L, math.min(prev.toLong,
        (bytes + statePartitionBytes - 1) / statePartitionBytes))
    }.toOption
    scoped.foreach(n => spark.conf.set(key, n.toString))
    try {
      val q = out.writeStream.outputMode(mode)
        .option("checkpointLocation", s"$tmp/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(s"$tmp/out"); () }
        .start()
      q.awaitTermination()
    } finally if (scoped.isDefined) spark.conf.set(key, prev)
  }

  // ---- streaming sessionization as an oracle row ------------------------
  // The custom-state tier (Sessionize, flatMapGroupsWithState) under the
  // oracle gate: one data micro-batch (watermark 0 — nothing drops, so
  // the result is order-independent and deterministic), then the final
  // no-data batch fires the event-time timeouts and emits exactly the
  // sessions the terminal watermark sealed. The oracle replays the
  // operator's MILLISECOND arithmetic (events are µs-precision; the
  // state keys sessions on Timestamp.getTime ms): gap break at
  // diff_ms >= 300000, seal at last_ms + gap < floor(max_us/1000) -
  // delay_ms — the exact watermark Spark derives (EventTimeStats tracks
  // µs/1000). Emitting start_ms as BIGINT keeps the compare exact.
  private val incSessions = Q(
    "q146_incremental_sessions",
    (s, dir) => withTempState("graft_q146") { tmp =>
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"))
      ev.write.parquet(s"$tmp/in")
      val stream = s.readStream.schema(ev.schema).parquet(s"$tmp/in")
      runStream(graft.streaming.Sessionize
        .sessions(stream, gapMs = 5 * 60 * 1000, watermarkDelay = "30 minutes")
        .toDF()
        .select(col("user_id"), unix_millis(col("session_start")).as("start_ms"),
          col("cnt")), tmp, "append")
      s.read.schema("user_id BIGINT, start_ms BIGINT, cnt BIGINT")
        .parquet(s"$tmp/out")
        .orderBy("user_id", "start_ms")
    },
    Some("""WITH e AS (SELECT user_id, epoch_ns(ts)//1000000 AS ms FROM events),
            wm AS (SELECT max(ms) - 1800000 AS w FROM e),
            l AS (SELECT user_id, ms,
                CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
                       OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) >= 300000
                     THEN 1 ELSE 0 END AS brk
              FROM e),
            g AS (SELECT user_id, ms,
                sum(brk) OVER (PARTITION BY user_id ORDER BY ms
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM l),
            sess AS (SELECT user_id, min(ms) AS start_ms, max(ms) AS last_ms,
                CAST(count(*) AS BIGINT) AS cnt
              FROM g GROUP BY user_id, sid)
            SELECT user_id, start_ms, cnt FROM sess, wm
            WHERE last_ms + 300000 < w ORDER BY user_id, start_ms"""))

  // ---- streaming funnel as an oracle row ---------------------------------
  // The Funnel operator's documented consumer contract, under the oracle
  // gate: every batch emits a PROVISIONAL per-user snapshot equal to the
  // batch q107 walk over the events seen so far, and consumers keep the
  // newest (last_us, rev) per user — so after one batch holding the whole
  // table (plus the no-data batch), the kept snapshots ARE q107's answer,
  // and q107's oracle is reused verbatim. Watermark delay is pinned wide
  // so no user evicts mid-proof (eviction semantics are FunnelStreamSpec's
  // subject, not this row's).
  private val incFunnel = Q(
    "q147_incremental_funnel",
    (s, dir) => withTempState("graft_q147") { tmp =>
      val ev = t(s, dir, "events").select("user_id", "ts", "event_type")
      ev.write.parquet(s"$tmp/in")
      val stream = s.readStream.schema(ev.schema).parquet(s"$tmp/in")
      runStream(graft.streaming.Funnel
        .track(stream, windowUs = 24L * 3600 * 1000000, "3650 days")
        .toDF(), tmp, "update")
      val snaps = s.read.schema("user_id BIGINT, t1_us BIGINT, t2_us BIGINT, " +
          "t3_us BIGINT, depth INT, converted BOOLEAN, rev BIGINT, last_us BIGINT")
        .parquet(s"$tmp/out")
      val newest = Window.partitionBy("user_id")
        .orderBy(col("last_us").desc, col("rev").desc)
      snaps.withColumn("rn", row_number().over(newest))
        .filter(col("rn") === 1)
        .select(col("user_id"),
          timestamp_micros(col("t1_us")).cast("timestamp_ntz").as("t1"),
          timestamp_micros(col("t2_us")).cast("timestamp_ntz").as("t2"),
          timestamp_micros(col("t3_us")).cast("timestamp_ntz").as("t3"),
          col("depth"), col("converted"))
        .orderBy("user_id")
    },
    funnel.oracle)

  // ---- the event fold under the REAL streaming harness -------------------
  // q112/q113 prove stream == batch for the event reports by calling the
  // fold DIRECTLY; q146/q147 proved the engine's REAL harness (file
  // source, checkpoint, AvailableNow) is oracle-viable. This row closes
  // the matrix: the SAME EventReports fold runs as a genuine foreachBatch
  // sink — maxFilesPerTrigger=1 over a 2-file landing makes two
  // checkpointed micro-batches, so batch sequencing, the serial callback,
  // and the checkpoint store are all inside the measured path — and the
  // retention report over the resulting state answers the batch q108
  // oracle verbatim. The folds are order-insensitive, so however the
  // file source batches the landing the state converges — exactly the
  // property q112 pins by folding newest-half-first. Compaction is OFF
  // here (it is EventReportsStreamSpec's subject, and its two
  // day-partitioned snapshot swaps cost more than the rest of the row —
  // measured 7.5 s with, ~3 s without); two micro-batches prove the
  // sequencing just as four did.
  private val streamedRetention = Q(
    "q149_streamed_retention",
    (s, dir) => withTempState("graft_q149") { tmp =>
      val ev = t(s, dir, "events").select("user_id", "ts", "event_type")
      ev.repartition(2).write.parquet(s"$tmp/in")
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
      graft.streaming.EventReports
        .sink(stream, s"$tmp/state", s"$tmp/ck", compactEvery = 0)
        .awaitTermination()
      graft.streaming.EventReports.retention(s, s"$tmp/state")
    },
    Some(retentionSql))

  // q149's twin for the WAU report: the SAME real-harness fold (file
  // source, checkpoint, two sequenced micro-batches, compaction off —
  // it is EventReportsStreamSpec's subject and costs more than the rest
  // of the row), answering the batch q109 oracle verbatim off the
  // folded state. With q149 this makes BOTH event reports real-stream
  // oracle rows, not just the shared fold.
  private val streamedRollingActive = Q(
    "q150_streamed_wau",
    (s, dir) => withTempState("graft_q150") { tmp =>
      val ev = t(s, dir, "events").select("user_id", "ts", "event_type")
      ev.repartition(2).write.parquet(s"$tmp/in")
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
      graft.streaming.EventReports
        .sink(stream, s"$tmp/state", s"$tmp/ck", compactEvery = 0)
        .awaitTermination()
      graft.streaming.EventReports.rollingActive(s, s"$tmp/state")
    },
    Some(wauSql))

  val queries: Seq[Q] = Seq(
    cursorScan, pointLookup, topN, groupAgg, joinEnrich, semiJoin, antiJoin,
    unionScan, changeLog, dedupFirst, stringAgg, md5Edges, edgesAnti,
    upsertOrders, maxCursor, dupCheck, dqSummary, distinctVals, projRename,
    nullSentinel, jsonExtract, toJsonRaw, multiformatTs, tzShift, seqExplode,
    regexExtract, arrayOps, eventWindow, slidingWindow, sessionWindow,
    scd2, sqlSource, rangeOrIn,
    intersectOp, exceptOp, rollupAgg, mapFlatten, reverseEtl, asofEnrich,
    percentiles, saltedJoinAgg, pivotCounts, rangeJoin, funnel, retention,
    rollingActive, incRetention, incRollingActive, incSessions, incFunnel,
    streamedRetention, streamedRollingActive)
}
