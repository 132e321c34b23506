package graft.extract

import graft.dims.HashLookup
import graft.parse.Parsers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The extractor stage as a dataflow (SURVEY.md §3.2): the reference's
  * nested sequential crawl becomes
  *
  *   raw_pages(url, html) → parseListing explode → event rows
  *     → one detail page per venue href / artist (D1 crawl memoization)
  *     → broadcast-join venue + artist details back by key hash (P2/P3)
  *     → performance-time parse (P5) → EventDTO-shaped staging frame
  *
  * The fetch itself (S1) is environment I/O: in production a connector
  * fills `raw_pages` (driver-side fetch list → `mapPartitions` HTTP); in
  * this offline environment tests feed fixture HTML. Crucially the crawl
  * loop is a JOIN, not a loop: detail pages are fetched once per distinct
  * href (what the reference's `seen_urls` set achieves imperatively).
  */
object Extractor {

  private val listingUdf = udf(HtmlParse.parseListing _)
  private val venueUdf = udf(HtmlParse.parseVenueDetail _)
  private val artistUdf = udf(HtmlParse.parseArtistDetail _)

  /** Listing pages → one row per (venue, event) with scrape metadata. */
  def eventsFromListings(listings: DataFrame): DataFrame =
    listings
      .withColumn("ev", explode(listingUdf(col("html"))))
      .select(col("scrape_date"), col("ev.*"))

  /** Full extractor dataflow given already-fetched detail pages
    * (venue_pages/artist_pages: (href, html)). */
  def run(listings: DataFrame, venuePages: DataFrame, artistPages: DataFrame): DataFrame = {
    val events = eventsFromListings(listings)
    // one detail page per key, looked up by its 64-bit hash; the parse
    // runs on the surviving page only
    val venueDetails = HashLookup.keyed(venuePages, "href")
      .withColumn("vd", venueUdf(col("html"))).drop("html")
    // artist detail pages keyed by artist name (the reference's href
    // backfill from event pages, P4, is not reproduced)
    val artistDetails = HashLookup.keyed(artistPages, "artist_name")
      .withColumn("ad", artistUdf(col("html"))).drop("html")

    HashLookup.lookup(HashLookup.lookup(events, col("venue_href"), venueDetails),
        col("artist_name"), artistDetails)
      .select(
        struct(
          col("artist_name").as("name"),
          lit(null).cast("string").as("description"),
          coalesce(col("ad.genres"), array()).as("genres"),
          coalesce(col("ad.related_artists"), array()).as("related_artists"),
          col("event_href").as("wwoz_artist_href"),
          lit("").as("website")).as("artist_data"),
        struct(
          col("venue_name").as("name"),
          col("vd.thoroughfare").as("thoroughfare"),
          col("vd.phone_number").as("phone_number"),
          col("vd.locality").as("locality"),
          col("vd.state").as("state"),
          col("vd.postal_code").as("postal_code"),
          Parsers.fullAddress(col("vd.thoroughfare"), col("vd.locality"),
            col("vd.state"), col("vd.postal_code")).as("full_address"),
          coalesce(col("vd.is_active"), lit(true)).as("is_active"),
          col("vd.website").as("website"),
          col("venue_href").as("wwoz_venue_href"),
          col("artist_name").as("event_artist")).as("venue_data"),
        struct(
          col("scrape_date").as("event_date"),
          col("event_href").as("wwoz_event_href"),
          col("artist_name").as("event_artist"),
          lit(null).cast("string").as("wwoz_artist_href"),
          lit(null).cast("string").as("description"),
          array().cast("array<string>").as("related_artists"),
          coalesce(col("ad.genres"), array()).as("genres")).as("event_data"),
        date_format(Parsers.parsePerformanceTime(col("scrape_date"),
          col("time_text"), "America/Chicago"), "yyyy-MM-dd'T'HH:mm:ssXXX")
          .as("performance_time"),
        concat(col("scrape_date"), lit("T03:00:00+00:00")).as("scrape_time"))
  }
}
