package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The scalar-function layer (SURVEY.md §2.11). Every function is a pure
  * `Column` composition over Spark built-ins — zero UDFs — so each stays
  * inside whole-stage codegen and Catalyst can optimize through it.
  *
  * All functions are ANSI-mode-safe (Spark 4 defaults
  * `spark.sql.ansi.enabled=true`): fallible casts are guarded with
  * `try_to_timestamp` / rlike-guarded CASE branches, which ANSI mode
  * evaluates lazily.
  */
object F {

  /** F1 — multi-format timestamp parse: try ISO-with-millis, then
    * ISO-seconds, then epoch-millis. The reference duplicates this logic
    * 4x (ref: pipeline/hubspot_engagement/hubspot_engagement_pipeline.py:16-27,
    * pipeline/hubspot_owner/hubspot_owner.py:10-24).
    */
  def parseHubTs(c: Column): Column = coalesce(
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")),
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss'Z'")),
    when(c.rlike("^\\d{10,}$"), timestamp_millis(c.cast("long"))))

  /** F3 — GMT+7 reporting shift
    * (ref: pipeline/hubspot_deal_logs/hubspot_deal_log_pipeline.py:37-41). */
  def toGmt7(c: Column): Column = c + expr("INTERVAL 7 HOURS")

  /** F8 — md5 surrogate key over concatenated parts
    * (ref: pipeline/hubspot_association_bigquery/hubspot_association_bigquery.py:72-73). */
  def surrogateKey(parts: Column*): Column = md5(concat_ws("|", parts: _*))

  /** F10 — composite event key (ref: pipeline/email_read_log/email_read_log.py:43-44). */
  def eventId(parts: Column*): Column = concat_ws("_", parts: _*)

  /** F12 — regex group extract; Spark returns "" on no-match, same as the
    * reference's empty-group behaviour
    * (ref: pipeline/update_objects/update_note_companies.py:10-16). */
  def regexGroup(c: Column, pattern: String, group: Int = 1): Column =
    regexp_extract(c, pattern, group)

  /** F13 — "0"/"1" string to boolean recode
    * (ref: pipeline/email_read_log/email_read_log.py:34-35). */
  def boolRecode(c: Column): Column =
    when(c === "1", true).when(c === "0", false)

  /** F16 — null-safe membership test on a comma-separated list column
    * (ref: pipeline/mautic_hubspot_email_log/mautic_hubspot_email_read_activities.py:100-109). */
  def listContains(listCol: Column, item: Column): Column =
    coalesce(array_contains(split(listCol, ","), item), lit(false))

  /** F17 — null-safe list append (bare item when the list is null)
    * (ref: .../mautic_hubspot_email_read_activities.py:118-124). */
  def listAppend(item: Column, listCol: Column): Column =
    when(listCol.isNull, item).otherwise(concat_ws(",", item, listCol))

  /** D3 — order-preserving dedup of a comma-separated list;
    * `array_distinct` keeps first-occurrence order, matching the
    * reference's `sorted(set(x), key=x.index)`
    * (ref: .../mautic_hubspot_email_read_activities.py:112-115). */
  def dedupList(c: Column): Column =
    array_join(array_distinct(split(c, ",")), ",")

  /** P11 — 'null' string sentinel normalization
    * (ref: .../mautic_hubspot_email_read_activities.py:54). */
  def nullSentinel(c: Column, sentinel: String = "null"): Column =
    nullif(c, lit(sentinel))

  /** F19 — seconds to "Xh Ym Zs" pretty-print, monitoring only
    * (ref: config/google_chat/google_chat.py:23-32). */
  def durationPretty(seconds: Column): Column =
    concat(
      (seconds.cast("long") / 3600).cast("long"), lit("h "),
      ((seconds.cast("long") % 3600) / 60).cast("long"), lit("m "),
      (seconds.cast("long") % 60), lit("s"))

  // ---- PII scrubbing (q62; the redaction stage of a corpus pipeline) ----
  // Regexes stay within the syntax subset Java regex and RE2 interpret
  // identically. Column-API only — an `expr()` SQL string literal would
  // UNESCAPE `\\.` to `.` and silently change the pattern (the SQL parser
  // processes backslashes before the regex engine sees them).
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val longNumRe = "[0-9]{6,}"

  /** Replace emails then long digit runs with typed placeholder tokens. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, lit(emailRe), lit("<EMAIL>")),
      lit(longNumRe), lit("<NUM>"))

  /** Count of non-overlapping matches of `re` in `text`. */
  def matchCount(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0))).cast("long")
}
