package graft.pipeline

import graft.dims.CoalesceMerge
import graft.dims.CoalesceMerge.{CoalesceNewWins, Overwrite}
import graft.enrich.{EmbedStage, Embedder, Geocode, HashingEmbedder}
import graft.ingest.StagingReader
import graft.parse.Parsers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The star-schema warehouse the loader maintains (SURVEY.md §1.1). */
case class Warehouse(
    genres: DataFrame,
    artists: DataFrame,
    venues: DataFrame,
    events: DataFrame,
    artistGenres: DataFrame,
    venueGenres: DataFrame,
    eventGenres: DataFrame,
    artistRelations: DataFrame,
    quarantine: DataFrame,
    summary: Map[String, Long])

/** The loader stage end-to-end (SURVEY.md §3.3), set-oriented:
  *
  *   staging → validate/quarantine (P10/A7)
  *     → genre dim insert-if-absent (D2/A1)
  *     → artist dim COALESCE upsert (A2, M2 embed)
  *     → venue dim mixed-rule upsert + geocode (A3, J5, M3, P7)
  *     → edge tables (J2) + related-artist self-join (J3)
  *     → event fact insert-if-absent w/ description fill (A4, J1, M1, P5)
  *
  * Design-for-scale notes:
  *  - surrogate ids are `xxhash64(natural key)`: deterministic, computed
  *    map-side, no id-allocation bottleneck and no driver sequence — the
  *    property that makes the whole DAG idempotent and retry-safe;
  *  - each dim merge is ONE shuffle on its natural key (or zero when
  *    bucketed); the reference's batches-of-5 + deadlock retries
  *    (A5/A6) disappear because merges are set-oriented and idempotent;
  *  - dims are small relative to the fact ⇒ fact-side FK resolution
  *    (J1) broadcasts them.
  */
object Pipeline {

  private def idOf(c: org.apache.spark.sql.Column) = abs(xxhash64(c))

  /** The venue natural-key address, COALESCEd exactly once: raw
    * `venue_data.full_address` else the computed P6 concat. Every id that
    * references a venue (dim id, venue_genres FK, event fact FK) derives
    * from THIS expression, so a null raw full_address can never make an
    * FK dangle against the dim row. */
  private def venueFullAddress = coalesce(col("venue_data.full_address"),
    Parsers.fullAddress(col("venue_data.thoroughfare"),
      col("venue_data.locality"), col("venue_data.state"),
      col("venue_data.postal_code")))

  private def venueIdExpr =
    abs(xxhash64(concat_ws("|", trim(col("venue_data.name")), venueFullAddress)))

  def run(spark: SparkSession, staging: DataFrame, prev: Warehouse,
          today: String, embedder: Embedder = new HashingEmbedder()): Warehouse = {
    val (valid0, quarantine) = StagingReader.validateSplit(staging.cache())
    val valid = valid0.cache()

    // ---- genres (D2 distinct + A1 insert-only) ----
    val batchGenres = valid
      .select(explode(concat(
        coalesce(col("artist_data.genres"), array()),
        coalesce(col("event_data.genres"), array()))).as("name"))
      .filter(length(trim(col("name"))) > 0)
      .distinct()
      .withColumn("id", idOf(col("name")))
      .withColumn("description", genreDescription(col("name")))
    val genresEmbedded = EmbedStage.embedColumn(
      batchGenres.withColumn("_text",
        concat(lit("Genre: "), col("name"), lit(". "), col("description"))),
      "_text", "genre_embedding", embedder).drop("_text")
    // batchGenres is distinct-per-name upstream → skip the merge's dedup
    val genres = CoalesceMerge
      .insertIfAbsent(prev.genres, genresEmbedded, Seq("name"),
        dedupSource = false).cache()

    // ---- artists (A2 COALESCE-per-column) ----
    // deduplicated before the embed, so each artist is embedded once; the
    // winner is the same, as the embedding is a function of the other
    // value columns
    val batchArtists = CoalesceMerge.dedupDeterministic(valid.select(
        trim(col("artist_data.name")).as("name"),
        col("artist_data.wwoz_artist_href").as("wwoz_artist_href"),
        col("artist_data.description").as("description"),
        col("artist_data.website").as("website"))
      .withColumn("id", idOf(col("name")))
      .withColumn("popularity_score", lit(null).cast("double")), Seq("name"))
    val artistText = Parsers.composeEmbedText(Seq(
      "" -> col("name"), "" -> col("description"), "Website" -> col("website")))
    val artistsEmbedded = EmbedStage.embedColumn(
      batchArtists.withColumn("_text", artistText),
      "_text", "description_embedding", embedder).drop("_text")
    val artists = CoalesceMerge
      .upsertUnique(prev.artists, artistsEmbedded, Seq("name")).cache()
    val artistSummary = CoalesceMerge.operationSummary(artists)

    // ---- venues (A3 mixed rules + J5 geocode + P7 flags) ----
    val batchVenues0 = valid.select(
        trim(col("venue_data.name")).as("name"),
        col("venue_data.phone_number").as("phone_number"),
        col("venue_data.thoroughfare").as("thoroughfare"),
        col("venue_data.locality").as("locality"),
        col("venue_data.state").as("state"),
        col("venue_data.postal_code").as("postal_code"),
        venueFullAddress.as("full_address"),
        col("venue_data.wwoz_venue_href").as("wwoz_venue_href"),
        col("venue_data.website").as("website"),
        coalesce(col("venue_data.is_active"), lit(true)).as("is_active"))
      .withColumn("id", idOf(concat_ws("|", col("name"), col("full_address"))))
      .withColumn("is_indoors", Parsers.isIndoors(col("name")))
      .withColumn("is_streaming", Parsers.isStreaming(col("name")))
      .withColumn("latitude", lit(null).cast("double"))
      .withColumn("longitude", lit(null).cast("double"))
      .withColumn("last_geocoded", lit(null).cast("timestamp"))
      .withColumn("description", lit(null).cast("string"))
    val emptyCache = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("address",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lat",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("lon",
          org.apache.spark.sql.types.DoubleType))))
    val venueKey = Seq("name", "full_address")
    val batchVenuesGeo = CoalesceMerge.dedupDeterministic(Geocode.enrich(
      batchVenues0, emptyCache, "full_address", to_date(lit(today))), venueKey)
    val venueText = Parsers.composeEmbedText(Seq(
      "" -> col("name"), "Address" -> col("full_address"),
      "" -> when(col("is_indoors"), lit("indoor venue"))
        .otherwise(lit("outdoor venue"))))
    val venuesEmbedded = EmbedStage.embedColumn(
      batchVenuesGeo.withColumn("_text", venueText),
      "_text", "venue_info_embedding", embedder).drop("_text")
    val venues = CoalesceMerge.upsertUnique(prev.venues, venuesEmbedded, venueKey,
      Map("is_active" -> Overwrite, "latitude" -> Overwrite,
        "longitude" -> Overwrite, "last_geocoded" -> Overwrite,
        "is_indoors" -> Overwrite, "is_streaming" -> Overwrite)).cache()
    val venueSummary = CoalesceMerge.operationSummary(venues)

    // ---- related artists (J3 self-referential graph) ----
    val related = valid.select(
        trim(col("artist_data.name")).as("artist_name"),
        explode(col("artist_data.related_artists_lifted")).as("rel"))
      .select(col("artist_name"), trim(col("rel.name")).as("related_name"),
        col("rel.wwoz_artist_href").as("related_href"))
      .filter(length(col("related_name")) > 0 &&
        col("related_name") =!= col("artist_name"))
      .distinct()
    // find-or-create related artist rows (get-or-create, insert-only)
    val relatedArtists = related.select(
        col("related_name").as("name"),
        col("related_href").as("wwoz_artist_href"))
      .withColumn("id", idOf(col("name")))
      .withColumn("description", lit(null).cast("string"))
      .withColumn("website", lit(null).cast("string"))
      .withColumn("popularity_score", lit(null).cast("double"))
      .withColumn("description_embedding",
        lit(null).cast("array<float>"))
    val artistsAll = CoalesceMerge.insertIfAbsent(
      artists.drop("_action"), relatedArtists, Seq("name"))
    val artistRelations = CoalesceMerge.insertIfAbsent(
      prev.artistRelations,
      related.select(idOf(col("artist_name")).as("artist_id"),
        idOf(col("related_name")).as("related_artist_id")),
      Seq("artist_id", "related_artist_id"))

    // ---- edge tables (J2 explode → distinct id pairs) ----
    val artistGenres = CoalesceMerge.insertIfAbsent(prev.artistGenres,
      valid.select(idOf(trim(col("artist_data.name"))).as("artist_id"),
          explode(coalesce(col("artist_data.genres"), array())).as("g"))
        .filter(length(trim(col("g"))) > 0)
        .select(col("artist_id"), idOf(col("g")).as("genre_id")).distinct(),
      Seq("artist_id", "genre_id"), dedupSource = false)
    val venueGenres = CoalesceMerge.insertIfAbsent(prev.venueGenres,
      valid.select(venueIdExpr.as("venue_id"),
          explode(coalesce(col("event_data.genres"), array())).as("g"))
        .filter(length(trim(col("g"))) > 0)
        .select(col("venue_id"), idOf(col("g")).as("genre_id")).distinct(),
      Seq("venue_id", "genre_id"), dedupSource = false)
    val eventGenres = CoalesceMerge.insertIfAbsent(prev.eventGenres,
      valid.select(idOf(col("event_data.wwoz_event_href")).as("event_id"),
          explode(coalesce(col("event_data.genres"), array())).as("g"))
        .filter(length(trim(col("g"))) > 0)
        .select(col("event_id"), idOf(col("g")).as("genre_id")).distinct(),
      Seq("event_id", "genre_id"), dedupSource = false)

    // ---- event fact (A4 insert-if-absent + fill-missing-description) ----
    val batchEvents0 = valid.select(
        col("event_data.wwoz_event_href").as("wwoz_event_href"),
        col("event_data.description").as("description"),
        trim(col("artist_data.name")).as("artist_name"),
        trim(col("venue_data.name")).as("venue_name"),
        venueFullAddress.as("_venue_addr"),
        col("event_data.event_date").as("_event_date"),
        col("performance_time").as("_perf_raw"),
        col("scrape_time").as("_scrape_raw"))
      .withColumn("id", idOf(col("wwoz_event_href")))
      .withColumn("artist_id", idOf(col("artist_name")))
      .withColumn("venue_id",
        idOf(concat_ws("|", col("venue_name"), col("_venue_addr"))))
      .withColumn("performance_time",
        coalesce(to_timestamp(col("_perf_raw")),
          Parsers.parsePerformanceTime(col("_event_date"), lit(""),
            "America/Chicago")))
      .withColumn("scrape_time",
        coalesce(to_timestamp(col("_scrape_raw")), to_timestamp(lit(today))))
      .withColumn("is_indoors", Parsers.isIndoors(col("venue_name")))
      .withColumn("is_streaming", Parsers.isStreaming(col("venue_name")))
      .drop("_venue_addr", "_event_date", "_perf_raw", "_scrape_raw")
    // A4: matched rows only gain a previously-missing description; the
    // two embeddings are InsertOnly, so only inserted rows are embedded
    val eventsMerged = CoalesceMerge.upsert(prev.events, batchEvents0,
      Seq("wwoz_event_href"),
      prev.events.columns.filterNot(Seq("wwoz_event_href", "description")
        .contains).map(_ -> CoalesceMerge.InsertOnly).toMap ++
        Map("description" -> CoalesceNewWins))
    val events = embedInserted(embedInserted(eventsMerged, col("description"),
        "description_embedding", embedder),
      concat_ws(" ", col("artist_name"), col("venue_name"), col("description")),
      "event_text_embedding", embedder).cache()
    val eventSummary = CoalesceMerge.operationSummary(events)

    // A-agg1 counters in ONE collect: the branches union into a single
    // job, so their stages run concurrently instead of as 6 sequential
    // driver actions (measured ~2× on the e2e pipeline run).
    def kv(k: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(k).as("k"), col("n"))
    def insertCount(k: String, summaryDf: DataFrame) =
      summaryDf.filter(col("_action") === "insert")
        .agg(coalesce(sum(col("n")), lit(0L)).as("n"))
        .select(lit(k).as("k"), col("n"))
    val summary = kv("events_validated", valid)
      .unionByName(kv("events_quarantined", quarantine))
      .unionByName(insertCount("artists_created", artistSummary))
      .unionByName(insertCount("venues_created", venueSummary))
      .unionByName(insertCount("events_created", eventSummary))
      .unionByName(kv("genres_total", genres))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    Warehouse(genres, artistsAll, venues.drop("_action"),
      events.drop("_action"), artistGenres, venueGenres, eventGenres,
      artistRelations, quarantine, summary)
  }

  /** `outCol` of a merged frame, embedded from `text` on the rows its
    * `_action` marks "insert"; every other row keeps its stored value. */
  private def embedInserted(merged: DataFrame, text: org.apache.spark.sql.Column,
                            outCol: String, embedder: Embedder): DataFrame = {
    val inserted = col("_action") === "insert"
    EmbedStage.embedColumn(merged.withColumn("_text", when(inserted, text)),
        "_text", "_emb", embedder)
      .withColumn(outCol, when(inserted, col("_emb")).otherwise(col(outCol)))
      .drop("_text", "_emb")
  }

  /** M4 — genre description fallback corpus (loader/service.py:220-240). */
  def genreDescription(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val fallbacks = Map(
      "jazz" -> "Traditional and modern jazz music",
      "blues" -> "Blues music and its variations",
      "funk" -> "Funk and groove-based music",
      "r&b" -> "Rhythm and blues music",
      "gospel" -> "Gospel and spiritual music",
      "zydeco" -> "Louisiana Creole music genre",
      "cajun" -> "Traditional Cajun music from Louisiana",
      "brass band" -> "New Orleans brass band tradition",
      "second line" -> "Second line parade music tradition",
      "bounce" -> "New Orleans bounce music")
    fallbacks.foldLeft(lit("A music genre")) { case (acc, (k, v)) =>
      when(lower(name) === k, lit(v)).otherwise(acc)
    }
  }

  /** An empty warehouse with the canonical schemas. */
  def emptyWarehouse(spark: SparkSession): Warehouse = {
    import graft.schema.Schemas
    def empty(s: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    Warehouse(
      empty(Schemas.genres), empty(Schemas.artists), empty(Schemas.venues),
      empty(Schemas.eventsFact),
      empty(Schemas.edge("artist_id", "genre_id")),
      empty(Schemas.edge("venue_id", "genre_id")),
      empty(Schemas.edge("event_id", "genre_id")),
      empty(Schemas.edge("artist_id", "related_artist_id")),
      empty(Schemas.eventDto), Map.empty)
  }
}
