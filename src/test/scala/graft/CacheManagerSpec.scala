package graft

import graft.ingest.StagingReader
import graft.pipeline.Pipeline
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.serve.CacheManager
import java.nio.file.Files
import java.time.ZoneId
import java.time.format.DateTimeFormatter
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The reference's serving query (§3.4) over a warehouse built by the
  * pipeline from fixture staging JSON. */
class CacheManagerSpec extends SparkSpec {

  private val json =
    """[
      |  {"artist_data": {"name": "Kermit Ruffins", "description": "Trumpet",
      |    "genres": ["Jazz", "Funk"],
      |    "related_artists": [{"name": "Rebirth Brass Band", "wwoz_artist_href": "/a/2"}],
      |    "wwoz_artist_href": "/a/1", "website": ""},
      |   "venue_data": {"name": "Blue Nile", "thoroughfare": "532 Frenchmen St",
      |    "phone_number": "", "locality": "New Orleans", "state": "LA",
      |    "postal_code": "70116", "full_address": "532 Frenchmen St, New Orleans, LA 70116",
      |    "is_active": true, "website": "", "wwoz_venue_href": "/v/1", "event_artist": ""},
      |   "event_data": {"event_date": "2025-03-21", "wwoz_event_href": "/e/1",
      |    "event_artist": "Kermit Ruffins", "wwoz_artist_href": "/a/1",
      |    "description": "Late set", "related_artists": [], "genres": ["Jazz"]},
      |   "performance_time": "2025-03-21T23:00:00+00:00",
      |   "scrape_time": "2025-03-20T03:00:00+00:00"},
      |  {"artist_data": {"name": "Tank and the Bangas", "description": "Soul",
      |    "genres": ["Funk"], "related_artists": [], "wwoz_artist_href": "/a/3",
      |    "website": ""},
      |   "venue_data": {"name": "Blue Nile", "thoroughfare": "532 Frenchmen St",
      |    "phone_number": "", "locality": "New Orleans", "state": "LA",
      |    "postal_code": "70116", "full_address": "532 Frenchmen St, New Orleans, LA 70116",
      |    "is_active": true, "website": "", "wwoz_venue_href": "/v/1", "event_artist": ""},
      |   "event_data": {"event_date": "2025-03-21", "wwoz_event_href": "/e/2",
      |    "event_artist": "Tank and the Bangas", "wwoz_artist_href": "/a/3",
      |    "description": "Early set", "related_artists": [], "genres": ["Funk"]},
      |   "performance_time": "2025-03-21T19:00:00+00:00",
      |   "scrape_time": "2025-03-20T03:00:00+00:00"},
      |  {"artist_data": {"name": "Davell Crawford", "description": "Piano",
      |    "genres": [], "related_artists": [], "wwoz_artist_href": "/a/4",
      |    "website": ""},
      |   "venue_data": {"name": "Spotted Cat", "thoroughfare": "623 Frenchmen St",
      |    "phone_number": "", "locality": "New Orleans", "state": "LA",
      |    "postal_code": "70116", "full_address": "623 Frenchmen St, New Orleans, LA 70116",
      |    "is_active": true, "website": "", "wwoz_venue_href": "/v/2", "event_artist": ""},
      |   "event_data": {"event_date": "2025-03-22", "wwoz_event_href": "/e/3",
      |    "event_artist": "Davell Crawford", "wwoz_artist_href": "/a/4",
      |    "description": null, "related_artists": [], "genres": []},
      |   "performance_time": "2025-03-22T21:00:00+00:00",
      |   "scrape_time": "2025-03-20T03:00:00+00:00"}
      |]""".stripMargin

  private lazy val warehouse = {
    val dir = Files.createTempDirectory("graft-cm")
    Files.writeString(dir.resolve("staged.json"), json)
    Pipeline.run(spark, StagingReader.readStaged(spark, dir.toString),
      Pipeline.emptyWarehouse(spark), today = "2025-03-20")
  }

  test("J4 serving query: eager joins, time order, nested lists") {
    val rows = CacheManager.eventsByDate(warehouse, "2025-03-21").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("artist_name") == "Tank and the Bangas") // 19:00 first
    val kermit = rows(1)
    def seq(r: org.apache.spark.sql.Row, f: String): Seq[String] =
      r.getAs[scala.collection.Seq[String]](f).toSeq
    assert(seq(kermit, "artist_genres") == Seq("Funk", "Jazz"))
    assert(seq(kermit, "related_artists") == Seq("Rebirth Brass Band"))
    assert(seq(kermit, "event_genres") == Seq("Jazz"))
    assert(kermit.getAs[String]("full_address").startsWith("532 Frenchmen"))
  }

  test("C5/S7 cache payload: key, ordered JSON array, TTL tier") {
    val p = CacheManager.cachePayload(warehouse, "2025-03-21", "2025-03-20").head()
    assert(p.getAs[String]("cache_key") == "events:2025-03-21")
    assert(p.getAs[Long]("n_events") == 2L)
    assert(p.getAs[Long]("ttl_s") == 43200L) // tomorrow -> 12h tier
    val payload = p.getAs[String]("payload_json")
    assert(payload.startsWith("[{") && payload.endsWith("}]"))
    assert(payload.indexOf("Early set") < payload.indexOf("Late set")) // time order
  }

  test("S8 cache get/delete + the double-encoding quirk") {
    val cache = CacheManager.warmRange(warehouse,
      Seq("2025-03-21", "2025-03-22"), "2025-03-20")
    assert(CacheManager.cacheGet(cache, "2025-03-21").count() == 1)
    val afterDelete = CacheManager.cacheDelete(cache, Seq("2025-03-21"))
    assert(CacheManager.cacheGet(afterDelete, "2025-03-21").count() == 0)
    assert(afterDelete.count() == 1)

    // double-encoded payload: decoding ONE json layer yields the original
    val row = cache.withColumn("dbl",
      CacheManager.doubleEncodedPayload(col("payload_json")))
      .filter(col("cache_key") === "events:2025-03-21").head()
    val original = row.getAs[String]("payload_json")
    val doubled = row.getAs[String]("dbl")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(mapper.readValue(doubled, classOf[String]) == original)
  }

  test("empty day still produces a cache row with n_events=0") {
    val p = CacheManager.cachePayload(warehouse, "2030-01-01", "2025-03-20").head()
    assert(p.getAs[Long]("n_events") == 0L)
    assert(p.getAs[String]("payload_json") == "[]")
    assert(p.getAs[Long]("ttl_s") == 86400L)
  }

  private val mapper = new ObjectMapper()

  /** The payload of `date` assembled in the test from the serving
    * query's rows: one object per event in time order, keys sorted,
    * null fields left out, the timestamp as ISO text. */
  private def expectedPayload(date: String): JsonNode = {
    val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXXX")
      .withZone(ZoneId.of(spark.conf.get("spark.sql.session.timeZone")))
    val arr = mapper.createArrayNode()
    CacheManager.eventsByDate(warehouse, date).collect().foreach { r =>
      val o = arr.addObject()
      val fields = r.schema.fieldNames.map(f =>
        (if (f == "performance_time") "performance_time_iso" else f) -> r.getAs[Any](f))
      fields.sortBy(_._1).foreach {
        case (_, null) =>
        case (f, t: java.sql.Timestamp) => o.put(f, iso.format(t.toInstant))
        case (f, xs: scala.collection.Seq[_]) =>
          val a = o.putArray(f); xs.foreach(x => a.add(x.toString))
        case (f, l: java.lang.Long) => o.put(f, l)
        case (f, d: java.lang.Double) => o.put(f, d)
        case (f, v) => o.put(f, v.toString)
      }
    }
    mapper.readTree(mapper.writeValueAsString(arr)) // numbers as parsed
  }

  test("warmRange payloads equal the serving query's rows, date by date") {
    val today = "2025-03-20"
    // past and today empty; a busy date; a one-event date; an empty later date
    val ttl = Map("2025-03-19" -> 604800L, "2025-03-20" -> 3600L,
      "2025-03-21" -> 43200L, "2025-03-22" -> 43200L, "2025-04-10" -> 86400L)
    val rows = CacheManager.warmRange(warehouse, ttl.keys.toSeq.sorted, today).collect()
    assert(rows.map(_.getAs[String]("cache_key")).sorted.toSeq ==
      ttl.keys.toSeq.sorted.map("events:" + _))
    val counts = rows.map { r =>
      val date = r.getAs[String]("cache_key").stripPrefix("events:")
      val got = mapper.readTree(r.getAs[String]("payload_json"))
      assert(got == expectedPayload(date), date)
      val times = got.elements().asScala.map(_.get("performance_time_iso").asText()).toSeq
      assert(times == times.sorted, date) // time order
      got.elements().asScala.foreach(o =>
        assert(o.fieldNames().asScala.toSeq == o.fieldNames().asScala.toSeq.sorted))
      assert(r.getAs[Long]("n_events") == got.size(), date)
      assert(r.getAs[Long]("ttl_s") == ttl(date), date)
      date -> r.getAs[Long]("n_events")
    }.toMap
    assert(counts == Map("2025-03-19" -> 0L, "2025-03-20" -> 0L,
      "2025-03-21" -> 2L, "2025-03-22" -> 1L, "2025-04-10" -> 0L))
    assert(rows.filter(_.getAs[Long]("n_events") == 0L)
      .forall(_.getAs[String]("payload_json") == "[]"))

    // a repeated date is published once
    val again = CacheManager.warmRange(warehouse,
      Seq("2025-03-21", "2025-03-22", "2025-03-21"), today).collect()
    assert(again.map(_.getAs[String]("cache_key")).sorted.toSeq ==
      Seq("events:2025-03-21", "events:2025-03-22"))
    assert(again.map(_.toSeq).toSet ==
      rows.filter(r => Set("events:2025-03-21", "events:2025-03-22")(
        r.getAs[String]("cache_key"))).map(_.toSeq).toSet)
  }

  /** Spark jobs `body` starts, counted by job group. A marker job in a
    * second group flushes the listener bus, which delivers in order. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"cm-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == group + "-flush" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(group + "-flush", "flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("warmRange starts as many jobs for 31 dates as for 2") {
    val start = java.time.LocalDate.parse("2025-03-21")
    def window(n: Int) = (0 until n).map(start.plusDays(_).toString)
    val two = jobsOf(CacheManager.warmRange(warehouse, window(2), "2025-03-20").collect())
    val month = jobsOf(CacheManager.warmRange(warehouse, window(31), "2025-03-20").collect())
    assert(two > 0)
    assert(month == two, s"31 dates took $month jobs, 2 dates took $two")
  }
}
