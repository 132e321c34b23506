package graft.extract

import scala.util.matching.Regex

/** Pure HTML extraction for the scrape stage (SURVEY.md S2, P2-P4),
  * re-expressed as total functions String → case class so they can run
  * as UDFs over a `raw_pages(url, html)` DataFrame and be unit-tested on
  * fixture pages (FIXTURES.md §1; reference parse contract
  * extractor/service.py:473-566, 186-262, 282-342, 344-445).
  *
  * Parsing is regex-structural over the reference's page shapes (no HTML
  * library exists in this environment); each function tolerates missing
  * nodes by defaulting, mirroring P1 extract-with-default
  * (extractor/service.py:161-184).
  */
object HtmlParse {

  /** One event row from the listing page. */
  case class ListingEvent(
      venue_name: String, venue_href: String,
      artist_name: String, event_href: String,
      genre_text: String, time_text: String)

  case class VenueDetail(
      thoroughfare: String, locality: String, state: String,
      postal_code: String, website: String, phone_number: String,
      is_active: Boolean)

  case class ArtistDetail(genres: Seq[String],
      related_artists: Seq[String])

  private val Anchor: Regex = """(?s)<a[^>]*href="([^"]*)"[^>]*>(.*?)</a>""".r
  private val Para: Regex = """(?s)<p[^>]*>(.*?)</p>""".r

  private def strip(s: String): String =
    s.replaceAll("(?s)<[^>]*>", "").replaceAll("\\s+", " ").trim

  /** Substring of `html` from a `class="name"` marker to the next
    * occurrence of `stop` (or end). Structural enough for the
    * reference's fixed page layouts. */
  private def section(html: String, className: String, stop: String): Seq[String] = {
    val marker = s"""class="$className""""
    val starts = Iterator.iterate(html.indexOf(marker))(i =>
      html.indexOf(marker, i + 1)).takeWhile(_ >= 0).toSeq
    starts.zipAll(starts.drop(1).map(Option(_)), -1, None).map {
      case (i, nextStart) =>
        // block ends at the stop tag, bounded by the next same-class
        // marker (so sibling blocks never swallow each other)
        val bound = nextStart.getOrElse(html.length)
        val slice = html.substring(i, bound)
        val end = slice.indexOf(stop, marker.length)
        if (end >= 0) slice.substring(0, end) else slice
    }
  }

  /** S2 — redirect-storm sentinel (extractor/service.py:118-159). */
  def isErrorSentinel(html: String): Boolean =
    html == null || html.contains("Too many redirects")

  /** Listing page → event rows (extractor/service.py:473-566): venue from
    * `panel-title`, per `calendar-info` row the artist anchor + two
    * `<p>`s (genre, time). Missing listing div → empty (NO_EVENTS). */
  def parseListing(html: String): Seq[ListingEvent] = {
    if (isErrorSentinel(html) || !html.contains("livewire-listing")) return Seq.empty
    section(html, "panel panel-default", "</div>\n</div>\n</div>")
      .flatMap { panel =>
        val title = section(panel, "panel-title", "</h3>").headOption.getOrElse("")
        val (vHref, vName) = Anchor.findFirstMatchIn(title)
          .map(m => (m.group(1), strip(m.group(2)))).getOrElse(("", ""))
        section(panel, "calendar-info", "</div>").map { row =>
          val (eHref, aName) = Anchor.findFirstMatchIn(row)
            .map(m => (m.group(1), strip(m.group(2)))).getOrElse(("", ""))
          val ps = Para.findAllMatchIn(row).map(m => strip(m.group(1))).toSeq
          ListingEvent(vName, vHref, aName, eHref,
            ps.headOption.getOrElse(""), ps.lift(1).getOrElse(""))
        }
      }
  }

  /** P2 — venue detail projection (extractor/service.py:186-262). */
  def parseVenueDetail(html: String): VenueDetail = {
    def field(cls: String): String =
      section(html, cls, "</").headOption.map(s =>
        strip(s.substring(s.indexOf('>') + 1))).getOrElse("")
    def anchorIn(cls: String): String =
      section(html, cls, "</div>").headOption.flatMap(s =>
        Anchor.findFirstMatchIn(s).map(_.group(1))).getOrElse("")
    val status = {
      val s = section(html, "field-name-field-organization-status", "</div></div>")
        .headOption.map(strip).getOrElse("")
      !s.toLowerCase.contains("inactive")
    }
    VenueDetail(
      thoroughfare = field("thoroughfare"),
      locality = field("locality"),
      state = field("state"),
      postal_code = field("postal_code"),
      website = anchorIn("field-name-field-url"),
      phone_number = {
        val s = section(html, "field-name-field-phone", "</div></div>")
          .headOption.map(strip).getOrElse("")
        s.replaceAll("(?i)phone:?\\s*", "")
      },
      is_active = status)
  }

  /** P3 — artist detail projection (extractor/service.py:282-342):
    * genres from `field-name-field-genres` anchors, related artists from
    * `textformatter-list` anchors. */
  def parseArtistDetail(html: String): ArtistDetail = {
    def anchors(cls: String): Seq[String] =
      section(html, cls, "</div></div>").headOption.toSeq.flatMap(s =>
        Anchor.findAllMatchIn(s).map(m => strip(m.group(2))).toSeq)
    ArtistDetail(
      genres = anchors("field-name-field-genres"),
      related_artists = anchors("textformatter-list"))
  }

  /** P4 — event detail: description = first `<p>` outside the listing
    * chrome (extractor/service.py:344-445). */
  def parseEventDescription(html: String): String =
    Para.findFirstMatchIn(Option(html).getOrElse(""))
      .map(m => strip(m.group(1))).getOrElse("")
}
