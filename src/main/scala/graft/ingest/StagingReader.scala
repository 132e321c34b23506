package graft.ingest

import graft.schema.Schemas
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Staging-layer ingest (SURVEY.md S3/S4): the reference stages scraped
  * events as pretty-printed JSON arrays in S3
  * (`raw_events/YYYY/MM/DD/event_data_<date>_<ts>.json`,
  * s3_service.py:33-129); the loader reads one file per (date, run).
  *
  * Spark restatement: `multiLine` JSON read with the explicit EventDTO
  * schema (never inference) + partitioned write. At 100 TB the staging
  * zone is a date-partitioned directory tree, so per-date loads are
  * partition-pruned directory scans rather than key lookups.
  */
object StagingReader {

  /** S4 — read staged EventDTO JSON (array files ⇒ multiLine). */
  def readStaged(spark: SparkSession, path: String): DataFrame =
    normalize(spark.read.schema(Schemas.eventDto)
      .option("multiLine", true).json(path))

  /** S4 with explicit corrupt capture: a malformed staging file becomes
    * a `_corrupt_record` row (with multiLine JSON the whole file is the
    * record) routed to the returned quarantine frame — A7's
    * continue-on-failure applied to the INGEST boundary, instead of the
    * default PERMISSIVE silence (all-null rows that would flow into the
    * validation split looking like empty events). */
  def readStagedSafe(spark: SparkSession,
                     path: String): (DataFrame, DataFrame) = {
    val withCorrupt = org.apache.spark.sql.types.StructType(
      Schemas.eventDto.fields :+ org.apache.spark.sql.types.StructField(
        "_corrupt_record", org.apache.spark.sql.types.StringType))
    val raw = spark.read.schema(withCorrupt)
      .option("multiLine", true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache() // required: corrupt-record queries must not re-trigger parse
    val bad = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record"))
    val good = normalize(
      raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record"))
    (good, bad)
  }

  /** S3 — stage a DTO frame, date-partitioned (y/m/d from scrape_time,
    * mirroring the reference's key layout): one JSON array file per
    * partition, the layout [[readStaged]] reads back. Partition columns
    * a previous [[readStaged]] added are dropped before the write. */
  def writeStaged(df: DataFrame, path: String): Unit = {
    val data = df.drop("y", "m", "d")
    val day = to_date(col("scrape_time"))
    data.select(date_format(day, "yyyy").as("y"), date_format(day, "MM").as("m"),
        date_format(day, "dd").as("d"),
        to_json(struct(data.columns.map(col).toIndexedSeq: _*)).as("_doc"))
      .groupBy("y", "m", "d")
      .agg(concat(lit("["), concat_ws(",", collect_list("_doc")), lit("]")).as("value"))
      .write.mode("append").partitionBy("y", "m", "d").text(path)
  }

  /** Normalize the polymorphic `related_artists` (§1.3): the extractor
    * emits `{name, wwoz_artist_href}` objects, cache round-trips emit
    * bare strings (loader/service.py:970-977 tolerates both). Read as
    * strings (objects keep their literal JSON), lift to structs. */
  def liftRelatedArtists(arr: Column): Column =
    transform(arr, x => {
      val parsed = from_json(x, Schemas.relatedArtistStruct)
      when(x.startsWith("{"),
        struct(parsed.getField("name").as("name"),
          parsed.getField("wwoz_artist_href").as("wwoz_artist_href")))
        .otherwise(struct(x.as("name"),
          lit(null).cast("string").as("wwoz_artist_href")))
    })

  private def normalize(df: DataFrame): DataFrame =
    df.withColumn("artist_data", col("artist_data")
        .withField("related_artists_lifted",
          liftRelatedArtists(col("artist_data.related_artists"))))
      .withColumn("event_data", col("event_data")
        .withField("related_artists_lifted",
          liftRelatedArtists(col("event_data.related_artists"))))

  /** P10 — validation split (loader/service.py:808-834): artist name,
    * venue name and event_date are required; rejects go to a quarantine
    * frame instead of being dropped silently (A7 continue-on-failure). */
  def validateSplit(df: DataFrame): (DataFrame, DataFrame) = {
    val ok = nonBlank(col("artist_data.name")) &&
      nonBlank(col("venue_data.name")) &&
      nonBlank(col("event_data.event_date"))
    (df.filter(ok), df.filter(!ok))
  }

  private def nonBlank(c: Column): Column =
    c.isNotNull && length(trim(c)) > 0
}
