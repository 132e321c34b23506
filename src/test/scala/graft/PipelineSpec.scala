package graft

import graft.ingest.StagingReader
import graft.pipeline.{Pipeline, Warehouse}
import graft.tools.PlanWalk
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end loader pipeline over fixture JSON shaped like the
  * reference's staged S3 documents (FIXTURES.md §2): ingest with the
  * polymorphic related_artists, validation quarantine, dim/fact merges,
  * idempotent re-run, description fill (A4). */
class PipelineSpec extends SparkSpec {

  private val fixtureJson =
    """[
      |  {
      |    "artist_data": {
      |      "name": "Ellis Marsalis Quartet", "description": "Jazz legends",
      |      "genres": ["Jazz"],
      |      "related_artists": [{"name": "Kermit Ruffins", "wwoz_artist_href": "/artists/789"}],
      |      "wwoz_artist_href": "/artists/456", "website": ""
      |    },
      |    "venue_data": {
      |      "name": "Snug Harbor", "thoroughfare": "626 Frenchmen St",
      |      "phone_number": "", "locality": "New Orleans", "state": "LA",
      |      "postal_code": "70116",
      |      "full_address": "626 Frenchmen St, New Orleans, LA 70116",
      |      "is_active": true, "website": "", "wwoz_venue_href": "/venues/123",
      |      "event_artist": ""
      |    },
      |    "event_data": {
      |      "event_date": "2025-03-21", "wwoz_event_href": "/events/456",
      |      "event_artist": "Ellis Marsalis Quartet",
      |      "wwoz_artist_href": "/artists/456", "description": "Jazz performance",
      |      "related_artists": ["Kermit Ruffins"], "genres": ["Jazz"]
      |    },
      |    "performance_time": "2025-03-21T20:00:00-05:00",
      |    "scrape_time": "2025-03-20T03:00:00-05:00"
      |  },
      |  {
      |    "artist_data": {
      |      "name": "", "description": null, "genres": [],
      |      "related_artists": [], "wwoz_artist_href": null, "website": null
      |    },
      |    "venue_data": {
      |      "name": "Ghost Venue", "thoroughfare": null, "phone_number": null,
      |      "locality": null, "state": null, "postal_code": null,
      |      "full_address": null, "is_active": null, "website": null,
      |      "wwoz_venue_href": null, "event_artist": null
      |    },
      |    "event_data": {
      |      "event_date": "2025-03-21", "wwoz_event_href": "/events/999",
      |      "event_artist": null, "wwoz_artist_href": null, "description": null,
      |      "related_artists": [], "genres": []
      |    },
      |    "performance_time": null, "scrape_time": "2025-03-20T03:00:00-05:00"
      |  },
      |  {
      |    "artist_data": {
      |      "name": "Rebirth Brass Band", "description": null,
      |      "genres": ["Brass Band", "Funk"], "related_artists": [],
      |      "wwoz_artist_href": "/artists/321", "website": "https://rebirth.example"
      |    },
      |    "venue_data": {
      |      "name": "Maple Leaf Bar (Outdoor)", "thoroughfare": "8316 Oak St",
      |      "phone_number": "", "locality": "New Orleans", "state": "LA",
      |      "postal_code": "70118", "full_address": "8316 Oak St, New Orleans, LA 70118",
      |      "is_active": true, "website": "", "wwoz_venue_href": "/venues/77",
      |      "event_artist": ""
      |    },
      |    "event_data": {
      |      "event_date": "2025-03-22", "wwoz_event_href": "/events/457",
      |      "event_artist": "Rebirth Brass Band", "wwoz_artist_href": "/artists/321",
      |      "description": null, "related_artists": [], "genres": ["Funk"]
      |    },
      |    "performance_time": "2025-03-22T22:00:00-05:00",
      |    "scrape_time": "2025-03-20T03:00:00-05:00"
      |  }
      |]""".stripMargin

  private lazy val stagingDir = {
    val dir = Files.createTempDirectory("graft-staging")
    Files.writeString(dir.resolve("event_data_2025-03-20_x.json"), fixtureJson)
    dir.toString
  }

  private lazy val staged = StagingReader.readStaged(spark, stagingDir)

  test("S4 staged read: explicit schema, polymorphic related_artists lifted") {
    assert(staged.count() == 3)
    val lifted = staged
      .filter(col("artist_data.name") === "Ellis Marsalis Quartet")
      .select(col("artist_data.related_artists_lifted")).head().getSeq[Any](0)
    assert(lifted.length == 1)
    // struct form keeps the href; string form in event_data gets null href
    val eventLifted = staged
      .filter(col("artist_data.name") === "Ellis Marsalis Quartet")
      .select(explode(col("event_data.related_artists_lifted")).as("r"))
      .select("r.name", "r.wwoz_artist_href").head()
    assert(eventLifted.getString(0) == "Kermit Ruffins")
    assert(eventLifted.isNullAt(1))
  }

  test("S4/A7 corrupt staging file quarantines instead of nulling out") {
    val dir = Files.createTempDirectory("graft-staging-corrupt")
    Files.writeString(dir.resolve("event_data_2025-03-20_x.json"), fixtureJson)
    Files.writeString(dir.resolve("event_data_2025-03-21_x.json"),
      """[{"artist_data": {"name": "Trunc""") // truncated upload
    val (good, bad) = StagingReader.readStagedSafe(spark, dir.toString)
    assert(good.count() == 3) // the intact file parses fully
    assert(bad.count() == 1)  // the whole malformed file = one corrupt row
    assert(bad.head().getString(0).contains("Trunc"))
    // and the plain reader would have produced silent null rows instead
    val naive = StagingReader.readStaged(spark, dir.toString)
    assert(naive.count() == 4)
    assert(naive.filter(col("artist_data").isNull).count() == 1)
  }

  test("pipeline run: dims, edges, fact, quarantine, summary") {
    val w = Pipeline.run(spark, staged, Pipeline.emptyWarehouse(spark),
      today = "2025-03-20")
    assert(w.summary("events_validated") == 2)   // blank artist name rejected
    assert(w.summary("events_quarantined") == 1)
    assert(w.genres.select("name").collect().map(_.getString(0)).toSet ==
      Set("Jazz", "Brass Band", "Funk"))
    // related artist got-or-created (J3)
    assert(w.artists.filter(col("name") === "Kermit Ruffins").count() == 1)
    assert(w.artistRelations.count() == 1)
    // venue flags (P7) + geocode defaults (J5)
    val maple = w.venues.filter(col("name").startsWith("Maple")).head()
    assert(!maple.getAs[Boolean]("is_indoors"))
    assert(w.venues.filter(col("latitude").isNull).count() == 0)
    // fact FK wiring (J1)
    val ev = w.events.filter(col("wwoz_event_href") === "/events/456").head()
    assert(ev.getAs[Long]("artist_id") ==
      w.artists.filter(col("name") === "Ellis Marsalis Quartet")
        .head().getAs[Long]("id"))
    assert(w.summary("events_created") == 2)
    // genre edges (J2)
    assert(w.eventGenres.count() == 2) // 456->Jazz, 457->Funk
  }

  test("null full_address: venue FKs still resolve against the dim") {
    // A VALID row whose venue_data.full_address is null: the dim id uses
    // the COALESCEd (computed P6) address, so the event fact and
    // venue_genres FKs must hash the same expression or they dangle.
    val json =
      """[{
        |  "artist_data": {"name": "Trombone Shorty", "description": null,
        |    "genres": ["Funk"], "related_artists": [],
        |    "wwoz_artist_href": "/artists/1", "website": null},
        |  "venue_data": {"name": "Tipitina's", "thoroughfare": "501 Napoleon Ave",
        |    "phone_number": null, "locality": "New Orleans", "state": "LA",
        |    "postal_code": "70115", "full_address": null, "is_active": true,
        |    "website": null, "wwoz_venue_href": "/venues/9", "event_artist": null},
        |  "event_data": {"event_date": "2025-03-23", "wwoz_event_href": "/events/888",
        |    "event_artist": "Trombone Shorty", "wwoz_artist_href": "/artists/1",
        |    "description": null, "related_artists": [], "genres": ["Funk"]},
        |  "performance_time": "2025-03-23T21:00:00-05:00",
        |  "scrape_time": "2025-03-22T03:00:00-05:00"
        |}]""".stripMargin
    val dir = Files.createTempDirectory("graft-staging-nulladdr")
    Files.writeString(dir.resolve("event_data_2025-03-22_x.json"), json)
    val w = Pipeline.run(spark, StagingReader.readStaged(spark, dir.toString),
      Pipeline.emptyWarehouse(spark), today = "2025-03-22")
    assert(w.summary("events_validated") == 1)
    val venueIds = w.venues.select("id").collect().map(_.getLong(0)).toSet
    val evVenueId = w.events.filter(col("wwoz_event_href") === "/events/888")
      .head().getAs[Long]("venue_id")
    assert(venueIds.contains(evVenueId)) // fact FK resolves
    val vgIds = w.venueGenres.select("venue_id").collect().map(_.getLong(0))
    assert(vgIds.nonEmpty && vgIds.forall(venueIds.contains)) // edge FK resolves
    // and the dim row carries the computed, not-null address
    assert(w.venues.filter(col("id") === evVenueId).head()
      .getAs[String]("full_address") == "501 Napoleon Ave, New Orleans, LA 70115")
  }

  test("idempotent re-run: second pass inserts nothing, fills description (A4)") {
    val w1 = Pipeline.run(spark, staged, Pipeline.emptyWarehouse(spark),
      today = "2025-03-20")
    // second batch: same event 457 now WITH a description
    val updated = staged.withColumn("event_data",
      col("event_data").withField("description",
        when(col("event_data.wwoz_event_href") === "/events/457",
          lit("Funk night")).otherwise(col("event_data.description"))))
    val w2 = Pipeline.run(spark, updated, w1, today = "2025-03-21")
    assert(w2.summary("events_created") == 0)
    assert(w2.summary("artists_created") == 0)
    assert(w2.events.count() == w1.events.count())
    val desc457 = w2.events.filter(col("wwoz_event_href") === "/events/457")
      .head().getAs[String]("description")
    assert(desc457 == "Funk night") // missing description filled on match
    val desc456 = w2.events.filter(col("wwoz_event_href") === "/events/456")
      .head().getAs[String]("description")
    assert(desc456 == "Jazz performance") // existing description kept
  }

  test("S3/S4 writeStaged round-trips through readStaged into the pipeline") {
    // two scrape dates: the fixture and a copy re-keyed to the next day
    val nextDay = staged
      .withColumn("event_data", col("event_data").withField("wwoz_event_href",
        concat(col("event_data.wwoz_event_href"), lit("-b"))))
      .withColumn("scrape_time", lit("2025-03-21T03:00:00-05:00"))
    val dir = Files.createTempDirectory("graft-staging-rt").resolve("raw_events").toString
    StagingReader.writeStaged(staged.unionByName(nextDay), dir)

    // one JSON array file per y/m/d partition
    val files = Files.walk(java.nio.file.Paths.get(dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }
    assert(files.map(_.getParent.toString.stripPrefix(dir)).sorted.toSeq ==
      Seq("/y=2025/m=03/d=20", "/y=2025/m=03/d=21"))
    assert(files.forall(f => Files.readString(f).startsWith("[")))

    val back = StagingReader.readStaged(spark, dir)
    assert(back.count() == 6)
    assert(Set("y", "m", "d").subsetOf(back.columns.toSet))
    val hrefs = (df: org.apache.spark.sql.DataFrame, c: String) =>
      df.select(c).collect().map(_.getString(0)).toSet
    assert(hrefs(back, "event_data.wwoz_event_href") ==
      hrefs(staged.unionByName(nextDay), "event_data.wwoz_event_href"))

    // the partition columns ride along without breaking validation
    val w = Pipeline.run(spark, back, Pipeline.emptyWarehouse(spark),
      today = "2025-03-20")
    assert(w.summary("events_validated") == 4)
    assert(w.summary("events_quarantined") == 2)
    assert(hrefs(w.events, "wwoz_event_href") ==
      Set("/events/456", "/events/457", "/events/456-b", "/events/457-b"))

    // staging a read-back frame again drops its partition columns first
    StagingReader.writeStaged(back, dir)
    assert(StagingReader.readStaged(spark, dir).count() == 12)
  }

  test("a stored warehouse's next daily run builds no 16 MB broadcast page against a stored table") {
    // day one stored the way the daily run stores it: bucketed on each
    // table's merge key, one bucket per shuffle partition
    val w1 = Pipeline.run(spark, staged, Pipeline.emptyWarehouse(spark), today = "2025-03-20")
    val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val tables = Seq[(String, Seq[String], Warehouse => DataFrame)](
      ("genres", Seq("name"), _.genres), ("artists", Seq("name"), _.artists),
      ("venues", Seq("name", "full_address"), _.venues),
      ("events", Seq("wwoz_event_href"), _.events),
      ("artist_genres", Seq("artist_id", "genre_id"), _.artistGenres),
      ("venue_genres", Seq("venue_id", "genre_id"), _.venueGenres),
      ("event_genres", Seq("event_id", "genre_id"), _.eventGenres),
      ("artist_relations", Seq("artist_id", "related_artist_id"), _.artistRelations))
    tables.foreach { case (t, keys, f) =>
      graft.store.BucketedStore.saveBucketed(f(w1), s"pw_$t", keys, buckets) }
    try {
      def t(n: String) = spark.table(s"pw_$n")
      val prev = Pipeline.emptyWarehouse(spark).copy(genres = t("genres"), artists = t("artists"),
        venues = t("venues"), events = t("events"), artistGenres = t("artist_genres"),
        venueGenres = t("venue_genres"), eventGenres = t("event_genres"),
        artistRelations = t("artist_relations"))
      val nextDay = staged.withColumn("event_data", col("event_data")
        .withField("wwoz_event_href", concat(col("event_data.wwoz_event_href"), lit("-2"))))
      val w2 = Pipeline.run(spark, staged.unionByName(nextDay), prev, today = "2025-03-21")
      assert(w2.summary("events_created") == 2)
      // the one target that is not a stored table: the related-artist
      // get-or-create against the day's merged artists, left to the planner
      tables.foreach { case (name, _, f) =>
        val df = f(w2)
        df.collect()
        val paged = PlanWalk.pagedBroadcasts(df.queryExecution.executedPlan)
        val allowed = if (name == "artists") 1 else 0
        assert(paged.size <= allowed, s"$name builds a paged broadcast:\n${paged.mkString("\n")}")
      }
    } finally tables.foreach { case (t, _, _) => spark.sql(s"DROP TABLE IF EXISTS pw_$t") }
  }
}
