package graft.schema

import org.apache.spark.sql.types._

/** Authoritative StructTypes for the engine (SURVEY.md §1).
  *
  * Staging (EventDTO tree) mirrors the reference's dataclasses
  * (src/shared/schemas/dto.py:10-139); warehouse tables mirror the
  * SQLAlchemy models (src/shared/db/models/models.py:71-267). Staging
  * reads always use these explicit schemas — never inference — so the
  * reference's defaulting behavior is reproducible (schema-on-read,
  * loader/app.py:126-135).
  *
  * `related_artists` is polymorphic in the wild (bare strings from the
  * cache round-trip, `{name, wwoz_artist_href}` objects from the
  * extractor — loader/service.py:970-977). It is declared StringType
  * here: Spark's JSON reader preserves non-string JSON values as their
  * literal text, and [[graft.ingest.StagingReader.liftRelatedArtists]]
  * normalizes both shapes into structs.
  */
object Schemas {

  val relatedArtistStruct: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("wwoz_artist_href", StringType)))

  val artistData: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("genres", ArrayType(StringType)),
    StructField("related_artists", ArrayType(StringType)),
    StructField("wwoz_artist_href", StringType),
    StructField("website", StringType)))

  val venueData: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("thoroughfare", StringType),
    StructField("phone_number", StringType),
    StructField("locality", StringType),
    StructField("state", StringType),
    StructField("postal_code", StringType),
    StructField("full_address", StringType),
    StructField("is_active", BooleanType),
    StructField("website", StringType),
    StructField("wwoz_venue_href", StringType),
    StructField("event_artist", StringType)))

  val eventData: StructType = StructType(Seq(
    StructField("event_date", StringType),
    StructField("wwoz_event_href", StringType),
    StructField("event_artist", StringType),
    StructField("wwoz_artist_href", StringType),
    StructField("description", StringType),
    StructField("related_artists", ArrayType(StringType)),
    StructField("genres", ArrayType(StringType))))

  /** One staged EventDTO document (dto.py:89-139). */
  val eventDto: StructType = StructType(Seq(
    StructField("artist_data", artistData),
    StructField("venue_data", venueData),
    StructField("event_data", eventData),
    StructField("performance_time", StringType),
    StructField("scrape_time", StringType)))

  // --- warehouse (models.py; FIXTURES.md §4) ---

  val genres: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("description", StringType),
    StructField("genre_embedding", ArrayType(FloatType))))

  val artists: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("wwoz_artist_href", StringType),
    StructField("description", StringType),
    StructField("popularity_score", DoubleType),
    StructField("website", StringType),
    StructField("description_embedding", ArrayType(FloatType))))

  val venues: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("phone_number", StringType),
    StructField("thoroughfare", StringType),
    StructField("locality", StringType),
    StructField("state", StringType),
    StructField("postal_code", StringType),
    StructField("full_address", StringType),
    StructField("wwoz_venue_href", StringType),
    StructField("website", StringType),
    StructField("is_active", BooleanType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("is_indoors", BooleanType),
    StructField("is_streaming", BooleanType),
    StructField("last_geocoded", TimestampType),
    StructField("description", StringType),
    StructField("venue_info_embedding", ArrayType(FloatType))))

  val eventsFact: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("wwoz_event_href", StringType),
    StructField("description", StringType),
    StructField("artist_id", LongType),
    StructField("venue_id", LongType),
    StructField("artist_name", StringType),
    StructField("venue_name", StringType),
    StructField("performance_time", TimestampType),
    StructField("scrape_time", TimestampType),
    StructField("is_indoors", BooleanType),
    StructField("is_streaming", BooleanType),
    StructField("description_embedding", ArrayType(FloatType)),
    StructField("event_text_embedding", ArrayType(FloatType))))

  def edge(parent: String, child: String): StructType = StructType(Seq(
    StructField(parent, LongType, nullable = false),
    StructField(child, LongType, nullable = false)))
}
