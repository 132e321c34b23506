package graft.serve

import graft.parse.Parsers
import graft.pipeline.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The cache-manager stage (SURVEY.md §3.4, cache_manager/service.py):
  * the serving query proper — events of one date, eagerly joined to
  * venue + artist + artist genres + related artists + event genres
  * (J4, no N+1), ordered by performance time (O1), re-nested to the DTO
  * JSON shape (A-agg4, P14) and keyed for the cache sink with a tiered
  * TTL (C5, S7).
  *
  * Plan shape of the publish ([[warmRange]]): the whole window is
  * planned at once, not once per date as the reference's
  * `update_cache_for_date` loop does. One scan of the fact, filtered to
  * the window by a broadcast of the key-only date list; the three dim
  * aggregates built once and broadcast (dims ≪ fact); one groupBy on the
  * date for the payload arrays. Only keys travel through joins and
  * broadcasts, never the wide payload rows (SplitDF): an empty date gets
  * its row from a null-doc slot row in the grouping input, not from
  * joining the payloads back onto the date list. The result has one row
  * per distinct requested date, in no particular order.
  */
object CacheManager {

  /** J4/J6/O1 — per-event rows for `date` with everything eager-loaded. */
  def eventsByDate(w: Warehouse, date: String): DataFrame =
    eagerRows(w, w.events.filter(
      to_date(col("performance_time")) === to_date(lit(date))))
      .orderBy(col("performance_time"), col("event_id"))

  /** J4 — `events` (fact rows, plus the key columns `keep`) eagerly
    * joined to venue, artist genres, related artists and event genres.
    * The dim aggregates are planned once, however many dates `events`
    * spans. */
  private def eagerRows(w: Warehouse, events: DataFrame,
                        keep: Seq[String] = Nil): DataFrame = {
    val artistGenreNames = w.artistGenres
      .join(broadcast(w.genres.select(col("id").as("genre_id"),
        col("name").as("genre_name"))), "genre_id")
      .groupBy(col("artist_id"))
      .agg(sort_array(collect_list(col("genre_name"))).as("artist_genres"))

    val relatedNames = w.artistRelations
      .join(broadcast(w.artists.select(col("id").as("related_artist_id"),
        col("name").as("related_name"))), "related_artist_id")
      .groupBy(col("artist_id"))
      .agg(sort_array(collect_list(col("related_name"))).as("related_artists"))

    val eventGenreNames = w.eventGenres
      .join(broadcast(w.genres.select(col("id").as("genre_id"),
        col("name").as("genre_name"))), "genre_id")
      .groupBy(col("event_id"))
      .agg(sort_array(collect_list(col("genre_name"))).as("event_genres"))

    events.alias("e")
      .join(broadcast(w.venues.select(col("id").as("venue_id"),
        col("name").as("venue_full_name"), col("full_address"),
        col("latitude"), col("longitude"))), Seq("venue_id"), "left")
      .join(broadcast(artistGenreNames), Seq("artist_id"), "left")
      .join(broadcast(relatedNames), Seq("artist_id"), "left")
      .join(broadcast(eventGenreNames),
        col("e.id") === col("event_id"), "left")
      .select(keep.map(col) ++ Seq(col("e.id").as("event_id"), col("wwoz_event_href"),
        col("performance_time"), col("artist_name"), col("venue_name"),
        col("full_address"), col("latitude"), col("longitude"),
        col("e.description"),
        coalesce(col("artist_genres"), array()).as("artist_genres"),
        coalesce(col("related_artists"), array()).as("related_artists"),
        coalesce(col("event_genres"), array()).as("event_genres")): _*)
  }

  /** A-agg4/P14/C5/S7 — the cache payload of one date: [[warmRange]]
    * over that date alone, so the payload format is defined once. */
  def cachePayload(w: Warehouse, date: String, today: String): DataFrame =
    warmRange(w, Seq(date), today)

  /** A-agg3/A-agg4/P14/C5/S7 — warm the cache for a date range: one row
    * per distinct date with the day's events re-nested to a JSON array
    * (ISO timestamps, time order), the event count and the TTL tier. The
    * output table (cache_key, payload_json, n_events, ttl_s) is the
    * engine-native form of the Redis `SETEX events:{date} <json>` sink.
    * An empty date yields `"[]"` and `n_events = 0`. */
  def warmRange(w: Warehouse, dates: Seq[String], today: String): DataFrame = {
    val spark = w.events.sparkSession
    import spark.implicits._
    // the day as an int key: an integral join key broadcasts as a compact
    // LongHashedRelation; a DATE key would broadcast as an
    // UnsafeHashedRelation holding a whole memory page (spark.buffer.pageSize,
    // 16 MB on a 3 GB local[4] driver) for as long as the broadcast lives
    val days = dates.distinct.toDF("_date")
      .withColumn("_day", unix_date(to_date(col("_date"))))
    val rows = eagerRows(w, w.events.join(broadcast(days),
        unix_date(to_date(col("performance_time"))) === col("_day")), Seq("_date"))
      .withColumn("performance_time_iso",
        date_format(col("performance_time"), "yyyy-MM-dd'T'HH:mm:ssXXX"))
      .drop("performance_time")
    val docCols = rows.columns.filterNot(_ == "_date").sorted
    val docs = rows.select(col("_date"), col("performance_time_iso"),
      col("event_id"), to_json(struct(docCols.map(col).toIndexedSeq: _*)).as("_doc"))
    // one null-doc slot row per date, so an empty date still forms a group
    docs.unionByName(days.select(col("_date")), allowMissingColumns = true)
      .groupBy(col("_date"))
      // deterministic array order: collect unordered (shuffle-safe), then
      // sort by (time, id) inside the aggregated array
      .agg(transform(
        array_sort(collect_list(when(col("_doc").isNotNull,
          struct(col("performance_time_iso"), col("event_id"), col("_doc"))))),
        x => x.getField("_doc")).as("_docs"),
        count(col("_doc")).as("n_events"))
      .select(
        concat(lit("events:"), col("_date")).as("cache_key"),
        concat(lit("["), concat_ws(",", col("_docs")), lit("]")).as("payload_json"),
        col("n_events"),
        Parsers.ttlSeconds(to_date(col("_date")), to_date(lit(today))).as("ttl_s"))
  }

  /** S8 — cache read-back: lookup by key on the cache output table. */
  def cacheGet(cacheTable: DataFrame, date: String): DataFrame =
    cacheTable.filter(col("cache_key") === s"events:$date")

  /** S8 — cache invalidation: delete-by-key (returns the surviving
    * table; at scale a partition-overwrite on the key column). */
  def cacheDelete(cacheTable: DataFrame, dates: Seq[String]): DataFrame =
    cacheTable.filter(!col("cache_key").isin(dates.map("events:" + _): _*))
}
