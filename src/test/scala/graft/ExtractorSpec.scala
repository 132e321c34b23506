package graft

import graft.dims.HashLookup
import graft.extract.{Extractor, HtmlParse}
import graft.tools.PlanWalk
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Extractor stage over the reference's fixture HTML shapes
  * (FIXTURES.md §1; tests/simple_tests.py:12-31, 305-339). */
class ExtractorSpec extends SparkSpec {
  import spark.implicits._

  private val listingHtml =
    """<div class="livewire-listing">
      |  <div class="panel panel-default">
      |    <h3 class="panel-title"><a href="/venues/123">Snug Harbor</a></h3>
      |    <div class="panel-body">
      |      <div class="row">
      |        <div class="calendar-info">
      |          <a href="/events/456">Ellis Marsalis Quartet</a>
      |          <p>Jazz</p>
      |          <p>8:00pm</p>
      |        </div>
      |      </div>
      |      <div class="row">
      |        <div class="calendar-info">
      |          <a href="/events/457">Charmaine Neville</a>
      |          <p>R&amp;B</p>
      |          <p>9:30pm</p>
      |        </div>
      |      </div>
      |    </div>
      |  </div>
      |  <div class="panel panel-default">
      |    <h3 class="panel-title"><a href="/venues/99">Blue Nile</a></h3>
      |    <div class="panel-body">
      |      <div class="row">
      |        <div class="calendar-info">
      |          <a href="/events/500">Kermit Ruffins</a>
      |          <p>Jazz</p>
      |          <p>10:00pm</p>
      |        </div>
      |      </div>
      |    </div>
      |  </div>
      |</div>""".stripMargin

  private val venueHtml =
    """<div class="thoroughfare">626 Frenchmen St</div>
      |<span class="locality">New Orleans</span>
      |<span class="state">LA</span>
      |<span class="postal_code">70116</span>
      |<div class="field-name-field-url"><a href="https://snugjazz.com">site</a></div>""".stripMargin

  private val artistHtml =
    """<div class="field-name-field-genres">
      |  <a href="/genres/jazz">Jazz</a><a href="/genres/funk">Funk</a>
      |</div></div>
      |<span class="textformatter-list">
      |  <a href="/artists/789">Kermit Ruffins</a>
      |</div></div>""".stripMargin

  test("S2/parse: listing page -> venue/event/time rows; sentinel/empty -> none") {
    val evs = HtmlParse.parseListing(listingHtml)
    assert(evs.length == 3)
    assert(evs(0) == HtmlParse.ListingEvent("Snug Harbor", "/venues/123",
      "Ellis Marsalis Quartet", "/events/456", "Jazz", "8:00pm"))
    assert(evs(2).venue_name == "Blue Nile" && evs(2).time_text == "10:00pm")
    assert(HtmlParse.parseListing("<html>Too many redirects</html>").isEmpty)
    assert(HtmlParse.parseListing("<html>no listing here</html>").isEmpty)
  }

  test("P2: venue detail projection with defaults for missing nodes") {
    val v = HtmlParse.parseVenueDetail(venueHtml)
    assert(v.thoroughfare == "626 Frenchmen St")
    assert(v.locality == "New Orleans" && v.state == "LA")
    assert(v.postal_code == "70116")
    assert(v.website == "https://snugjazz.com")
    assert(v.is_active)
    assert(HtmlParse.parseVenueDetail("<html></html>").thoroughfare == "")
  }

  test("P3: artist genres + related artists") {
    val a = HtmlParse.parseArtistDetail(artistHtml)
    assert(a.genres == Seq("Jazz", "Funk"))
    assert(a.related_artists == Seq("Kermit Ruffins"))
  }

  test("P4: event description + related links exclude main artist") {
    val html = """<p>A great night.</p><a href="/artists/1">Main</a>
                 |<a href="/artists/2">Guest</a><a href="/venues/9">V</a>""".stripMargin
    assert(HtmlParse.parseEventDescription(html) == "A great night.")
  }

  test("D1 + dataflow: listing -> dedup'd frontier -> joined EventDTO frame") {
    val listings = Seq(("2025-03-21", listingHtml)).toDF("scrape_date", "html")
    val events = Extractor.eventsFromListings(listings)
    assert(events.count() == 3)

    val venuePages = Seq(("/venues/123", venueHtml), ("/venues/99", "")).toDF("href", "html")
    val artistPages = Seq(("Ellis Marsalis Quartet", artistHtml)).toDF("artist_name", "html")
    val dto = Extractor.run(listings, venuePages, artistPages)
    assert(dto.count() == 3)
    val ellis = dto.filter(col("artist_data.name") === "Ellis Marsalis Quartet").head()
    val ad = ellis.getStruct(0)
    assert(ad.getAs[scala.collection.Seq[String]]("genres").toSeq == Seq("Jazz", "Funk"))
    val vd = ellis.getStruct(1)
    assert(vd.getAs[String]("full_address") == "626 Frenchmen St, New Orleans, LA 70116")
    // performance time: 8:00pm CDT -> 01:00 UTC next day
    assert(ellis.getAs[String]("performance_time") == "2025-03-22T01:00:00Z")
  }

  test("detail lookups join on the 64-bit key hash: no 16 MB broadcast page") {
    val listings = Seq(("2025-03-21", listingHtml)).toDF("scrape_date", "html")
    val venuePages = Seq(("/venues/123", venueHtml), ("/venues/99", "")).toDF("href", "html")
    val artistPages = Seq(("Ellis Marsalis Quartet", artistHtml)).toDF("artist_name", "html")
    val dto = Extractor.run(listings, venuePages, artistPages)
    dto.collect()
    val plan = dto.queryExecution.executedPlan
    assert(PlanWalk.nodes(plan).count(_.isInstanceOf[BroadcastHashJoinExec]) == 2)
    assert(PlanWalk.pagedBroadcasts(plan).isEmpty)
  }

  test("hash lookup: a colliding or duplicated build key never attaches or duplicates") {
    val probe = Seq("a", "b", null).toDF("k")
    val table = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val keyed = HashLookup.keyed(table, "k")
    assert(keyed.count() == 2) // one row per hash
    val out = HashLookup.lookup(probe, col("k"), keyed)
      .collect().map(r => Option(r.getString(0)) -> Option(r.get(1))).toMap
    assert(out.size == 3 && Set[Option[Any]](Some(1), Some(2)).contains(out(Some("a"))))
    assert(out(Some("b")) == Some(3) && out(None).isEmpty)
    // a build row whose hash matches but whose key differs: a collision
    val collided = keyed.withColumn("_lk_k", lit("other"))
    val miss = HashLookup.lookup(probe, col("k"), collided).collect()
    assert(miss.length == 3 && miss.forall(_.isNullAt(1)))
  }
}
