package graft.serve

import graft.parse.Parsers
import graft.parse.Parsers.cents
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's serving query (SURVEY.md §3.4, cache_manager/service.py:
  * 29-123): all events on a date, eagerly joined to their dimensions,
  * ordered by performance time, re-nested, with a tiered cache TTL.
  *
  * Over the synthetic `events` stream table the shape is: day-filter
  * (partition-prunable range predicate, J6) → per-entity aggregates
  * joined back (J4 eager-load without N+1, via one window/groupBy) →
  * order by time (O1) → TTL (C5).
  */
object Serving {

  /** Per-event serving rows for one day: each event with its user's
    * same-day activity eagerly attached (the "no N+1" join shape). */
  def eventsByDate(events: DataFrame, date: String, today: String): DataFrame = {
    val day = events.filter(to_date(col("ts")) === to_date(lit(date)))
    val perUser = Window.partitionBy(col("user_id"))
    day
      .withColumn("perf_us", unix_micros(col("ts")))
      .withColumn("user_day_events", count(lit(1)).over(perUser))
      .withColumn("user_day_value_cents",
        sum(cents(col("value"))).over(perUser))
      .withColumn("ttl_s", Parsers.ttlSeconds(to_date(lit(date)), to_date(lit(today))))
      .select(col("event_id"), col("perf_us"), col("user_id"), col("event_type"),
        cents(col("value")).as("value_cents"), col("user_day_events"),
        col("user_day_value_cents"), col("ttl_s"))
      .orderBy(col("perf_us"), col("event_id"))
  }

  /** Re-nested per-user day summary (A-agg4): the collect_list re-nesting
    * of the reference's DTO assembly, with deterministic array order. */
  def userDayDigest(events: DataFrame, date: String): DataFrame = {
    val day = events.filter(to_date(col("ts")) === to_date(lit(date)))
    day.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        concat_ws(",", sort_array(collect_list(col("event_type")))).as("event_types"),
        sum(cents(col("value"))).as("total_value_cents"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .orderBy(col("user_id"))
  }

  /** A-agg3 — per-date event counts over a range (cache warm plan). */
  def perDateCounts(events: DataFrame): DataFrame =
    events.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("sum_value_cents"))
      .orderBy(col("event_date"))

  /** Gap-based sessionization: a new session starts after `gapMinutes` of
    * inactivity. Pure window plan — one shuffle on user_id. */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("_us"), col("event_id"))
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events
      .withColumn("_us", unix_micros(col("ts")))
      .withColumn("_prev", lag(col("_us"), 1).over(w))
      .withColumn("_new_session",
        when(col("_prev").isNull || col("_us") - col("_prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("_new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("_us")).as("start_us"),
        max(col("_us")).as("end_us"),
        sum(cents(col("value"))).as("session_value_cents"))
      .orderBy(col("user_id"), col("session_id"))
  }
}
