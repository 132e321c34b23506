package dailybench

import java.security.MessageDigest
import java.time.{LocalDate, LocalTime, ZoneId, ZonedDateTime, ZoneOffset}
import scala.util.Random

/** One scraped event as the listing page shows it on its date. */
final case class Ev(date: LocalDate, href: String, venue: Int, artist: String,
                    time: String, desc: Option[String], gainedToday: Boolean) {
  /** The description yesterday's scrape saw: a gained description was
    * still missing then. */
  def descYesterday: Option[String] = if (gainedToday) None else desc
  def valid: Boolean = artist.nonEmpty
  /** The UTC date the serving layer files the event under: the listing
    * time is New Orleans local time, the session clock is UTC. */
  def servedOn: LocalDate = ZonedDateTime.of(date, Gen.localTime(time), Gen.Zone)
    .withZoneSameInstant(ZoneOffset.UTC).toLocalDate
}

final case class Venue(name: String, href: String, street: String,
                       postal: String, phone: String, website: String,
                       active: Boolean)

final case class Artist(name: String, genres: Seq[String], related: Seq[String])

/** The pages one scrape fetched: listing pages per date and the detail
  * pages its crawl frontier reaches. */
final case class Scrape(listings: Seq[(String, String)],
                        venuePages: Seq[(String, String)],
                        artistPages: Seq[(String, String)],
                        eventPages: Seq[(String, String)]) {
  def pages: Int = listings.size + venuePages.size + artistPages.size + eventPages.size

  /** SHA-256 over every page in a fixed order. */
  def hash: String = {
    val md = MessageDigest.getInstance("SHA-256")
    Seq(listings, venuePages, artistPages, eventPages).foreach(_.foreach {
      case (k, v) => md.update(k.getBytes("UTF-8")); md.update(0: Byte)
        md.update(v.getBytes("UTF-8")); md.update(1: Byte)
    })
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Seeded model of the music calendar the reference scrapes: venues,
  * artists with genres and related artists, and per-date events with a
  * mix of present, missing and newly gained descriptions, plus listing
  * rows without an artist (the loader quarantines them; at least one in
  * any 31 dates). With `debuts`, every date also has one pop-up show: an
  * act and a venue seen on no other date of a 32-day span, so a daily
  * run that adds one date always creates an artist and a venue. The
  * events of one date depend only on (seed, date), so two scrape windows
  * that overlap agree on every shared date. */
final class Gen(seed: Long, nVenues: Int, nArtists: Int, eventsPerVenueDay: Double, debuts: Boolean) {
  import Gen._

  val venues: IndexedSeq[Venue] = {
    val r = new Random(seed * 31 + 1)
    val names = r.shuffle(for (a <- VenueAdj; b <- VenueNoun; c <- VenueKind) yield s"$a $b $c")
    (0 until nVenues + PopUps).map { i =>
      val name = names(i) + (if (i % 11 == 5) " Outdoor Stage" else if (i % 13 == 7) " Streaming" else "")
      Venue(name, s"/organizations/v$i", s"${100 + r.nextInt(900)} ${Streets(r.nextInt(Streets.size))} St",
        s"701${10 + r.nextInt(80)}", s"504-555-${1000 + r.nextInt(9000)}",
        s"https://venue$i.example.org", r.nextInt(20) != 0)
    }
  }

  /** The regular acts, then the debut acts (one per date, by date). */
  private val acts: IndexedSeq[Artist] = {
    val r = new Random(seed * 31 + 2)
    val names = r.shuffle(for (a <- First; b <- Last; c <- Suffix) yield s"$a $b$c").take(nArtists + PopUps)
    val regulars = names.take(nArtists)
    names.map { n =>
      val gs = r.shuffle(Genres).take(1 + r.nextInt(2))
      // related artists: mostly regular acts on the calendar, sometimes
      // one that never plays here (the loader creates its row)
      val rel = (0 until r.nextInt(3)).map { _ =>
        if (r.nextInt(4) == 0) s"${First(r.nextInt(First.size))} ${Last(r.nextInt(Last.size))} Guest"
        else regulars(r.nextInt(regulars.size))
      }.distinct.filter(_ != n)
      Artist(n, gs, rel)
    }.toIndexedSeq
  }
  val artists: IndexedSeq[Artist] = acts.take(nArtists)
  private val artistByName = acts.map(a => a.name -> a).toMap

  /** Events listed on `date`; `day` is its offset from an epoch so the
    * stream is the same whichever window asks. */
  def eventsOn(date: LocalDate): Seq[Ev] = {
    val day = date.toEpochDay
    val r = new Random(seed * 1000003L + day)
    // a fixed number of events a day, spread over the venues at random,
    // so every seed loads the same volume
    val perVenue = Seq.fill(math.round(nVenues * eventsPerVenueDay).toInt)(r.nextInt(nVenues))
      .groupBy(identity).map { case (v, xs) => v -> xs.size }
    def event(href: String, v: Int, a: Artist): Ev = {
      val desc = if (r.nextInt(100) < 55) Some(describe(r, a, venues(v).name)) else None
      val gained = desc.isDefined && r.nextInt(100) < 12
      val blank = r.nextInt(100) == 0
      Ev(date, href, v, if (blank) "" else a.name, Times(r.nextInt(Times.size)), desc, gained)
    }
    val regular = (0 until nVenues).flatMap { v =>
      (0 until perVenue.getOrElse(v, 0)).map { k =>
        // a few headliners play far more often than the long tail
        event(s"/events/e$day-$v-$k", v, artists((math.pow(r.nextDouble(), 1.7) * artists.size).toInt))
      }
    }
    val popUp = if (debuts) {
      val slot = Math.floorMod(day, PopUps.toLong).toInt
      Seq(event(s"/events/e$day-popup", nVenues + slot, acts(nArtists + slot)))
    } else Seq.empty
    val evs = regular ++ popUp
    // one date in 31 lists its first show without an artist
    if (day % 31 == 0) evs.updated(0, evs.head.copy(artist = "")) else evs
  }

  def window(from: LocalDate, days: Int): Seq[Ev] =
    (0 until days).flatMap(i => eventsOn(from.plusDays(i)))

  /** Render one scrape of `evs`; `asOfToday = false` renders the
    * descriptions yesterday's scrape saw. */
  def render(evs: Seq[Ev], asOfToday: Boolean): Scrape = {
    val listings = evs.groupBy(_.date).toSeq.sortBy(_._1.toEpochDay).map { case (d, es) =>
      val panels = es.groupBy(_.venue).toSeq.sortBy(_._1).map { case (v, ves) =>
        val rows = ves.map { e =>
          s"""<div class="row">
             |<div class="calendar-info">
             |<a href="${e.href}">${e.artist}</a>
             |<p>${artistByName.get(e.artist).map(_.genres.head).getOrElse("")}</p>
             |<p>${e.time}</p>
             |</div>
             |</div>""".stripMargin
        }.mkString("\n")
        s"""<div class="panel panel-default">
           |<h3 class="panel-title"><a href="${venues(v).href}">${venues(v).name}</a></h3>
           |<div class="panel-body">
           |$rows
           |</div>
           |</div>""".stripMargin
      }.mkString("\n")
      d.toString -> s"""<html><body><h1>Livewire</h1>
         |<div class="livewire-listing">
         |$panels
         |</div></body></html>""".stripMargin
    }
    val venuePages = evs.map(_.venue).distinct.sorted.map { v =>
      val x = venues(v)
      x.href -> s"""<html><body><h1>${x.name}</h1>
         |<div class="thoroughfare">${x.street}</div>
         |<span class="locality">New Orleans</span>
         |<span class="state">LA</span>
         |<span class="postal_code">${x.postal}</span>
         |<div class="field-name-field-phone"><div class="field-item">Phone: ${x.phone}</div></div>
         |<div class="field-name-field-url"><a href="${x.website}">website</a></div>
         |<div class="field-name-field-organization-status"><div>${if (x.active) "Active" else "Inactive"}</div></div>
         |</body></html>""".stripMargin
    }
    val artistPages = evs.map(_.artist).filter(_.nonEmpty).distinct.sorted.map { n =>
      val a = artistByName(n)
      n -> s"""<html><body><h1>${a.name}</h1>
         |<div class="field-name-field-genres">${a.genres.map(g =>
           s"""<a href="/genres/${g.toLowerCase.replace(' ', '-')}">$g</a>""").mkString}</div></div>
         |<div class="field-name-field-related"><span class="textformatter-list">${a.related.map(x =>
           s"""<a href="/artists/${x.toLowerCase.replace(' ', '-')}">$x</a>""").mkString(", ")}</div></div>
         |</body></html>""".stripMargin
    }
    val eventPages = evs.map { e =>
      val d = if (asOfToday) e.desc else e.descYesterday
      e.href -> s"""<html><body><div class="event-header"><h2>${e.artist}</h2></div>
         |${d.map(t => s"<p>$t</p>").getOrElse("")}
         |<div class="event-links"><a href="${venues(e.venue).href}">${venues(e.venue).name}</a></div>
         |</body></html>""".stripMargin
    }
    Scrape(listings, venuePages, artistPages, eventPages)
  }

  /** Every generator word, for the tokenizer vocabulary of the
    * transformer artifact (a trained vocabulary covers common words). */
  def vocabulary: Seq[String] =
    (VenueAdj ++ VenueNoun ++ VenueKind ++ First ++ Last ++ Suffix ++ Genres ++
      Streets ++ Phrases ++ Seq("outdoor", "stage", "streaming", "guest", "address",
        "genre", "indoor", "venue", "new", "orleans", "la", "website"))
      .flatMap(_.toLowerCase.split("[^a-z0-9]+")).filter(_.length > 1).distinct
}

object Gen {
  val Zone: ZoneId = ZoneId.of("America/Chicago")
  /** Pop-up venues and debut acts, one of each per date modulo this;
    * more than the 32 dates two overlapping windows span. */
  val PopUps = 64
  /** The calendar day the benchmark treats as today. */
  val Today: LocalDate = LocalDate.of(2025, 6, 2)

  private val TimeRe = """(\d{1,2}):(\d{2})(am|pm)""".r
  def localTime(t: String): LocalTime = t match {
    case TimeRe(h, m, ap) => LocalTime.of(h.toInt % 12 + (if (ap == "pm") 12 else 0), m.toInt)
  }

  private def describe(r: Random, a: Artist, venue: String): String = {
    val n = 2 + r.nextInt(3)
    val words = (0 until n).map(_ => Phrases(r.nextInt(Phrases.size)))
    s"${a.name} brings ${a.genres.head.toLowerCase} to $venue. ${words.mkString(" ")}."
  }

  val Times: IndexedSeq[String] = IndexedSeq("11:00am", "1:30pm", "4:00pm", "5:30pm",
    "6:00pm", "7:00pm", "8:00pm", "9:00pm", "9:30pm", "10:00pm", "11:00pm")
  val Genres: IndexedSeq[String] = IndexedSeq("Jazz", "Brass Band", "Funk", "Blues",
    "Zydeco", "Cajun", "Gospel", "Bounce", "Second Line", "Latin", "Rock",
    "Traditional Jazz", "Contemporary Jazz", "Soul", "Hip Hop")
  val VenueAdj: IndexedSeq[String] = IndexedSeq("Blue", "Spotted", "Little", "Old",
    "Golden", "Crescent", "Royal", "Velvet", "Silver", "Lucky", "Marigny", "Bayou")
  val VenueNoun: IndexedSeq[String] = IndexedSeq("Cat", "Heron", "Pelican", "Oak",
    "Lantern", "Magnolia", "Cypress", "Gator", "Crown", "Anchor")
  val VenueKind: IndexedSeq[String] = IndexedSeq("Lounge", "Club", "Hall", "Tavern",
    "Room", "Bar", "Cafe", "Social Club")
  val Streets: IndexedSeq[String] = IndexedSeq("Frenchmen", "Rampart", "Decatur",
    "Magazine", "Oak", "Tchoupitoulas", "Esplanade", "Bourbon", "Chartres", "Freret")
  val First: IndexedSeq[String] = IndexedSeq("Kermit", "Irma", "Trombone", "Ellis",
    "Charmaine", "James", "Dr", "Big", "Sweet", "Tuba", "Little", "Rebirth", "Soul",
    "Hot", "Treme", "Shamarr", "Glen", "Helen", "Walter", "Amanda", "Jon", "Davell",
    "Kid", "Leroy", "Marla", "Ivan", "Nicholas", "Topsy", "Doreen", "Bo")
  val Last: IndexedSeq[String] = IndexedSeq("Ruffins", "Thomas", "Shorty", "Marsalis",
    "Neville", "Andrews", "John", "Chief", "Freddy", "Batiste", "Allen", "David",
    "Crawford", "Payton", "Boutte", "Jones", "Gill", "Cooke", "Dollis", "Ketchens",
    "Chase", "Ory", "Cleary", "Jordan", "Rivers", "Hall", "Lastie", "Toussaint")
  val Suffix: IndexedSeq[String] = IndexedSeq("", " Quartet", " Trio", " Brass Band",
    " and Friends", " Orchestra", " Band", " Sextet", " Jazz Band", " Revue")
  val Phrases: IndexedSeq[String] = IndexedSeq("An evening of", "classic standards",
    "original tunes", "with special guests", "dancing encouraged", "no cover",
    "two sets", "family friendly", "late night jam", "album release party",
    "tribute to the masters", "featuring the horn section", "second line to follow",
    "all ages welcome", "happy hour set", "record release")
}

/** What a workload loads: whether it starts cold (empty warehouse,
  * transformer embedder) or from yesterday's load, and the size of its
  * calendar. */
final case class Shape(cold: Boolean, venues: Int, artists: Int, perVenueDay: Double, debuts: Boolean) {
  def gen(seed: Long): Gen = new Gen(seed, venues, artists, perVenueDay, debuts)

  /** (events loaded yesterday, events scraped today). A steady run
    * re-scrapes 30 of yesterday's 31 dates and one new date. */
  def inputs(g: Gen): (Seq[Ev], Seq[Ev]) =
    (if (cold) Seq.empty else g.window(Gen.Today.minusDays(1), 31), g.window(Gen.Today, 31))
}

object Shape {
  def of(workload: String): Shape = workload match {
    // 480 events a day, about 15,000 in the window: the volume of the
    // sf0.1 tables at one order in ten
    case "daily_steady" => Shape(cold = false, venues = 160, artists = 2000, perVenueDay = 3.0, debuts = true)
    // a few dozen events: each costs a few transformer passes; every
    // venue and act is new anyway, so no pop-up shows
    case "backfill_embed" => Shape(cold = true, venues = 6, artists = 60, perVenueDay = 0.2, debuts = false)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Prints the hash of the pages a workload's run receives for a seed,
  * and how its events split, without starting Spark:
  *
  *   java -cp <classpath> dailybench.Inputs daily_steady 7
  */
object Inputs {
  def main(args: Array[String]): Unit = {
    val shape = Shape.of(args(0))
    val g = shape.gen(args(1).toLong)
    val (before, today) = shape.inputs(g)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(g.render(before, asOfToday = false).hash.getBytes("UTF-8"))
    md.update(g.render(today, asOfToday = true).hash.getBytes("UTF-8"))
    println(s"${md.digest().map("%02x".format(_)).mkString} events=${today.size} " +
      s"described=${today.count(_.desc.isDefined)} gained=${today.count(_.gainedToday)} " +
      s"blank=${today.count(!_.valid)} new=${today.count(_.date == Gen.Today.plusDays(30))}")
  }
}
