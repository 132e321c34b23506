package graft.ingest

import org.apache.spark.sql.functions.udf

/** Charset sniffing + transcoding — the real-web ingestion stage
  * between WARC framing ([[Warc]]) and unicode normalization
  * (graft.text.UnicodeNorm): archived response bodies arrive as raw
  * bytes in whatever encoding the origin served, and a large share of
  * archived web bytes is NOT UTF-8 (legacy Windows-1252/Latin-1 pages
  * dominate the long tail). Every downstream text operator in this
  * repo — the bytes→unicode bijection of the byte-BPE (q285), the
  * dedup hashes, the quality scores — assumes its input is already
  * one consistent unicode string, so the decode has to happen exactly
  * once, here, with deterministic rules.
  *
  * The reference gets this for free from `requests`/BeautifulSoup
  * (`/root/reference/src/extractor/service.py` response handling decodes
  * via the HTTP header + meta sniff); at 100 TB the engine needs the
  * same resolution ladder as an explicit, oracle-replayable operator.
  *
  * Resolution ladder (the WHATWG/HTML5 order, most-authoritative
  * first; each rung only consulted when the rungs above are silent):
  *
  *   1. BOM — EF BB BF → UTF-8, FF FE → UTF-16LE, FE FF → UTF-16BE.
  *      A BOM OVERRIDES any header/meta claim (HTML5 §13.2.3.2: "the
  *      byte order mark is more authoritative than anything else").
  *   2. HTTP `Content-Type` header `charset=` parameter.
  *   3. `<meta charset=..>` / `<meta http-equiv=content-type ..>`
  *      inside the first [[SniffBytes]] bytes (the HTML5 prescan
  *      window), scanned on a Latin-1 view of the prefix so the scan
  *      itself never depends on the answer.
  *   4. Content heuristic: strict UTF-8 validation (no overlongs, no
  *      surrogates, no > U+10FFFF) → UTF-8; anything that fails is
  *      decoded as Windows-1252 (the de-facto web fallback — every
  *      byte is defined, so the decode total-functions).
  *
  * Label folding follows the WHATWG Encoding Standard: the labels
  * `iso-8859-1`, `latin1`, `us-ascii`, `ascii`, `cp1252` all map to
  * windows-1252 (real pages labelled Latin-1 use 0x80–0x9F as the
  * cp1252 punctuation block; honoring the label literally mangles
  * curly quotes and euro signs — the mojibake the q290 fold key
  * would then bake into every dedup hash).
  *
  * Scale: a pure per-row projection (two small UDFs, no state, no
  * shuffle) — the decode rides whatever partitioning the WARC scan
  * produced, exactly like the other crawl-family projections.
  */
object CharsetSniff {

  /** HTML5 prescan window: meta declarations past this are ignored. */
  val SniffBytes: Int = 1024

  /** WHATWG label → canonical name (subset this engine decodes). */
  private val Labels: Map[String, String] = Map(
    "utf-8" -> "utf-8", "utf8" -> "utf-8", "unicode-1-1-utf-8" -> "utf-8",
    "utf-16" -> "utf-16le", "utf-16le" -> "utf-16le", "utf-16be" -> "utf-16be",
    "iso-8859-1" -> "windows-1252", "iso8859-1" -> "windows-1252",
    "latin1" -> "windows-1252", "l1" -> "windows-1252",
    "us-ascii" -> "windows-1252", "ascii" -> "windows-1252",
    "windows-1252" -> "windows-1252", "cp1252" -> "windows-1252",
    "x-cp1252" -> "windows-1252")

  /** Windows-1252 0x80–0x9F block (WHATWG index: the five holes 0x81
    * 0x8D 0x8F 0x90 0x9D pass through as the C1 controls). */
  private[graft] val Cp1252High: Array[Char] = Array(
    '\u20AC', '\u0081', '\u201A', '\u0192', '\u201E', '\u2026',
    '\u2020', '\u2021', '\u02C6', '\u2030', '\u0160', '\u2039',
    '\u0152', '\u008D', '\u017D', '\u008F', '\u0090', '\u2018',
    '\u2019', '\u201C', '\u201D', '\u2022', '\u2013', '\u2014',
    '\u02DC', '\u2122', '\u0161', '\u203A', '\u0153', '\u009D',
    '\u017E', '\u0178')

  private def fold(label: String): Option[String] =
    Labels.get(label.trim.toLowerCase(java.util.Locale.ROOT)
      .stripPrefix("\"").stripSuffix("\"")
      .stripPrefix("'").stripSuffix("'"))

  /** charset= parameter of a Content-Type value; None when absent or
    * the label is outside the supported set. */
  private[ingest] def fromContentType(ct: String): Option[String] = {
    if (ct == null) return None
    val m = "(?i)charset\\s*=\\s*([^;\\s\"']+|\"[^\"]*\"|'[^']*')".r
      .findFirstMatchIn(ct)
    m.flatMap(g => fold(g.group(1)))
  }

  /** HTML5 prescan: `<meta charset=X>` or
    * `<meta http-equiv="content-type" content="..; charset=X">` in the
    * first [[SniffBytes]] bytes.
    *
    * Only two meta shapes are honored, mirroring the HTML5 prescan
    * algorithm: a BARE `charset` ATTRIBUTE on the tag, or `charset=`
    * inside the `content` attribute VALUE of an
    * `http-equiv=content-type` meta. The string `charset=` appearing
    * inside any other attribute value (`<meta name=description
    * content="... charset=utf-16le ...">`) is prose, not a
    * declaration — a per-tag attribute scan (not a whole-head regex)
    * is what keeps that false positive out.
    *
    * A meta-sourced UTF-16 label folds to UTF-8 (WHATWG "get an
    * encoding from a meta element" step 2): the prescan could only
    * have READ the meta if the document is ASCII-compatible, so a
    * self-declared utf-16/utf-16le/utf-16be page is lying about
    * itself — honoring it literally decodes the whole page to
    * interleaved-NUL garbage. */
  private[ingest] def fromMeta(bytes: Array[Byte]): Option[String] = {
    val n = math.min(bytes.length, SniffBytes)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append((bytes(i) & 0xff).toChar); i += 1 }
    val head = sb.toString
    val metaTag = "(?is)<meta[\\s/]([^>]*)".r
    metaTag.findAllMatchIn(head).flatMap { m =>
      val attrs = parseAttrs(m.group(1))
      attrs.get("charset").flatMap(fold).orElse {
        if (attrs.get("http-equiv").exists(
            _.equalsIgnoreCase("content-type")))
          attrs.get("content").flatMap(fromContentType)
        else None
      }
    }.map(cs => if (cs.startsWith("utf-16")) "utf-8" else cs)
      .nextOption()
  }

  /** Lowercased attribute name → raw value for one tag's attribute
    * text. Handles `name="v"`, `name='v'`, `name=v`, and bare `name`
    * (value ""); a quoted value may contain spaces, `=` and `>`-free
    * text — which is exactly why a per-attribute scan beats a regex
    * over the whole tag. */
  private def parseAttrs(s: String): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && (s.charAt(i).isWhitespace || s.charAt(i) == '/')) i += 1
      val name0 = i
      while (i < n && !s.charAt(i).isWhitespace && s.charAt(i) != '=' &&
        s.charAt(i) != '/') i += 1
      if (i == name0) { i += 1 }
      else {
        val name = s.substring(name0, i).toLowerCase(java.util.Locale.ROOT)
        while (i < n && s.charAt(i).isWhitespace) i += 1
        var value = ""
        if (i < n && s.charAt(i) == '=') {
          i += 1
          while (i < n && s.charAt(i).isWhitespace) i += 1
          if (i < n && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
            val q = s.charAt(i); i += 1
            val v0 = i
            while (i < n && s.charAt(i) != q) i += 1
            value = s.substring(v0, i)
            if (i < n) i += 1
          } else {
            val v0 = i
            while (i < n && !s.charAt(i).isWhitespace) i += 1
            value = s.substring(v0, i)
          }
        }
        if (!out.contains(name)) out(name) = value
      }
    }
    out.toMap
  }

  /** Strict UTF-8 validity: rejects overlongs, surrogates, > U+10FFFF,
    * truncated tails — the same rules as the q285 byte decoder. */
  private[ingest] def isValidUtf8(bytes: Array[Byte]): Boolean = {
    var i = 0
    val n = bytes.length
    while (i < n) {
      val b0 = bytes(i) & 0xff
      if (b0 < 0x80) i += 1
      else if (b0 < 0xC2) return false // continuation or overlong lead
      else if (b0 < 0xE0) {
        if (i + 1 >= n || (bytes(i + 1) & 0xC0) != 0x80) return false
        i += 2
      } else if (b0 < 0xF0) {
        if (i + 2 >= n) return false
        val b1 = bytes(i + 1) & 0xff
        if ((b1 & 0xC0) != 0x80 || (bytes(i + 2) & 0xC0) != 0x80) return false
        if (b0 == 0xE0 && b1 < 0xA0) return false // overlong
        if (b0 == 0xED && b1 >= 0xA0) return false // surrogate
        i += 3
      } else if (b0 < 0xF5) {
        if (i + 3 >= n) return false
        val b1 = bytes(i + 1) & 0xff
        if ((b1 & 0xC0) != 0x80 || (bytes(i + 2) & 0xC0) != 0x80 ||
          (bytes(i + 3) & 0xC0) != 0x80) return false
        if (b0 == 0xF0 && b1 < 0x90) return false // overlong
        if (b0 == 0xF4 && b1 >= 0x90) return false // > U+10FFFF
        i += 4
      } else return false
    }
    true
  }

  /** (canonical charset, BOM length) for a response. */
  def sniff(contentType: String, bytes: Array[Byte]): (String, Int) = {
    if (bytes == null) return ("utf-8", 0)
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xEF &&
      (bytes(1) & 0xff) == 0xBB && (bytes(2) & 0xff) == 0xBF)
      return ("utf-8", 3)
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xFF &&
      (bytes(1) & 0xff) == 0xFE) return ("utf-16le", 2)
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xFE &&
      (bytes(1) & 0xff) == 0xFF) return ("utf-16be", 2)
    fromContentType(contentType)
      .orElse(fromMeta(bytes))
      .map(cs => (cs, 0))
      .getOrElse(if (isValidUtf8(bytes)) ("utf-8", 0)
                 else ("windows-1252", 0))
  }

  private def decodeCp1252(bytes: Array[Byte], from: Int): String = {
    val sb = new java.lang.StringBuilder(bytes.length - from)
    var i = from
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      sb.append(
        if (b < 0x80 || b >= 0xA0) b.toChar else Cp1252High(b - 0x80))
      i += 1
    }
    sb.toString
  }

  private def decodeUtf16(bytes: Array[Byte], from: Int, le: Boolean): String = {
    val sb = new java.lang.StringBuilder((bytes.length - from) / 2)
    var i = from
    while (i + 1 < bytes.length) {
      val c = if (le) ((bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8))
              else (((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff))
      sb.append(c.toChar)
      i += 2
    }
    if (i < bytes.length) sb.append('\uFFFD') // truncated odd tail
    // unpaired surrogates -> U+FFFD so the result is valid unicode
    // (parquet/UTF-8 writers reject lone surrogates)
    var j = 0
    while (j < sb.length) {
      val c = sb.charAt(j)
      if (Character.isHighSurrogate(c)) {
        if (j + 1 >= sb.length || !Character.isLowSurrogate(sb.charAt(j + 1)))
          sb.setCharAt(j, '\uFFFD')
        else j += 1
      } else if (Character.isLowSurrogate(c)) sb.setCharAt(j, '\uFFFD')
      j += 1
    }
    sb.toString
  }

  /** Decode `bytes` per the resolution ladder; the BOM (when present)
    * is consumed, never emitted. Total: every byte sequence decodes. */
  def decode(contentType: String, bytes: Array[Byte]): String = {
    if (bytes == null) return null
    val (cs, bom) = sniff(contentType, bytes)
    cs match {
      case "utf-8" =>
        if (isValidUtf8Slice(bytes, bom))
          new String(bytes, bom, bytes.length - bom,
            java.nio.charset.StandardCharsets.UTF_8)
        else decodeCp1252(bytes, bom) // declared utf-8 but lying: fall
        // back to the total decoder rather than emitting U+FFFD runs
      case "utf-16le" => decodeUtf16(bytes, bom, le = true)
      case "utf-16be" => decodeUtf16(bytes, bom, le = false)
      case _          => decodeCp1252(bytes, bom)
    }
  }

  private def isValidUtf8Slice(bytes: Array[Byte], from: Int): Boolean =
    if (from == 0) isValidUtf8(bytes)
    else isValidUtf8(java.util.Arrays.copyOfRange(bytes, from, bytes.length))

  /** `sniff_charset(content_type, body)` — canonical charset name. */
  val sniffUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (ct: String, bs: Array[Byte]) =>
      if (bs == null) null else sniff(ct, bs)._1 }

  /** `decode_text(content_type, body)` — decoded unicode text. */
  val decodeUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (ct: String, bs: Array[Byte]) => decode(ct, bs) }
}
