package graft.parse

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure scalar transforms re-expressing the reference's parse/derive layer
  * (SURVEY.md §2.2): performance-time parse, S3-key date extraction,
  * capacity bucketing, indoor/streaming flags, address concat, TTL tiers.
  * All are codegen'd Column expressions — no UDFs.
  */
object Parsers {

  /** Exact integer cents of a ~2dp money double: `floor(x*100 + 0.5)`
    * recovers the exact cents integer in both engines, so sums and
    * averages over cents are exact bigint math. SQL twin:
    * `CAST(floor(x*100 + 0.5) AS BIGINT)`. */
  def cents(c: Column): Column =
    floor(c * lit(100d) + lit(0.5d)).cast("bigint")

  /** P5 — performance-time parse (extractor/service.py:447-471): extract
    * `h:mm am|pm` from a free-text time string (default 12:00am on no
    * match), combine with the event date, produce a timestamp. The
    * reference localizes America/Chicago; zone is a parameter here. */
  val TimeRegex = "\\b(\\d{1,2}:\\d{2})\\s?(am|pm)\\b"

  def parsePerformanceTime(dateStr: Column, timeStr: Column, zone: String): Column = {
    val m = regexp_extract(lower(timeStr), TimeRegex, 1)
    val ampm = regexp_extract(lower(timeStr), TimeRegex, 2)
    val t = when(m === "", lit("12:00am")).otherwise(concat(m, ampm))
    to_utc_timestamp(
      to_timestamp(concat(dateStr, lit(" "), upper(t)), "yyyy-MM-dd h:mma"), zone)
  }

  /** P9 — date-from-S3-key 3-regex cascade (loader/app.py:23-54):
    * path `raw_events/YYYY/MM/DD/` wins, then filename
    * `event_data_YYYY-MM-DD_`, then compact `_YYYYMMDD_`. Null if none. */
  def extractDateFromKey(key: Column): Column = {
    val path = regexp_extract(key, "raw_events/(\\d{4})/(\\d{2})/(\\d{2})/", 0)
    val pathDate = when(path =!= "", concat_ws("-",
      regexp_extract(key, "raw_events/(\\d{4})/(\\d{2})/(\\d{2})/", 1),
      regexp_extract(key, "raw_events/(\\d{4})/(\\d{2})/(\\d{2})/", 2),
      regexp_extract(key, "raw_events/(\\d{4})/(\\d{2})/(\\d{2})/", 3)))
    val fileDate = {
      val m = regexp_extract(key, "event_data_(\\d{4}-\\d{2}-\\d{2})_", 1)
      when(m =!= "", m)
    }
    val compact = {
      val m = regexp_extract(key, "_(\\d{8})_", 1)
      when(m =!= "", concat_ws("-",
        substring(m, 1, 4), substring(m, 5, 2), substring(m, 7, 2)))
    }
    coalesce(pathDate, fileDate, compact)
  }

  /** P8 — capacity bucketing (loader/service.py:163-169). */
  def capacityBucket(capacity: Column): Column =
    when(capacity < 100, "intimate")
      .when(capacity < 500, "medium")
      .otherwise("large")

  /** P7 — indoor/streaming flags from venue name (loader/service.py:573-575). */
  def isIndoors(name: Column): Column = !contains(lower(name), lit("outdoor"))
  def isStreaming(name: Column): Column = contains(lower(name), lit("streaming"))

  /** P6 — full-address concat (extractor/service.py:243). */
  def fullAddress(thoroughfare: Column, locality: Column,
                  state: Column, postal: Column): Column =
    format_string("%s, %s, %s %s", thoroughfare, locality, state, postal)

  /** C5 — tiered cache TTL (redis_cache.py:65-96): past → 7 d, today →
    * 1 h, ≤7 d ahead → 12 h, further → 24 h. `today` is an explicit
    * parameter (never `current_date()`) so results are deterministic. */
  def ttlSeconds(eventDate: Column, today: Column): Column = {
    val diff = datediff(eventDate, today)
    when(diff < 0, 604800L)
      .when(diff === 0, 3600L)
      .when(diff <= 7, 43200L)
      .otherwise(86400L)
  }

  /** M2-style embedding-text composition (loader/service.py:85-128):
    * name + description + labeled fields, skipping empty parts. */
  def composeEmbedText(parts: Seq[(String, Column)]): Column = {
    val frags = parts.map { case (label, c) =>
      val prefixed = if (label.isEmpty) c else concat(lit(label + ": "), c)
      when(c.isNull || length(trim(c)) === 0, lit(null)).otherwise(prefixed)
    }
    concat_ws(". ", frags: _*)
  }
}
