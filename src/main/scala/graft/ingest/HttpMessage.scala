package graft.ingest

import org.apache.spark.sql.functions.udf

/** HTTP/1.1 response-envelope parsing — the glue between WARC framing
  * and charset sniffing: a WARC `response` record's payload is not a
  * document, it is an HTTP MESSAGE (status line + header block + body),
  * and nothing downstream ([[CharsetSniff]] wants the Content-Type
  * header, the frontier wants the Location header, the funnel wants
  * the status class) can run until the envelope is split off. The
  * reference gets all of this from `requests` (`/root/reference/src/
  * extractor/service.py:78-89` reads `response.status_code` and lets
  * the library resolve headers/encoding); an archive-replay engine
  * parses the recorded bytes itself.
  *
  * Parsing rules (RFC 7230 reduced to the deterministic subset an
  * oracle can replay):
  *
  *   - status line `HTTP/<d>.<d> <3-digit code> [reason]`; anything
  *     not starting `HTTP/` is not a response → None (the
  *     NULL-dispatch contract at record grain — one malformed record
  *     must never fail a scan).
  *   - line endings: CRLF per spec, bare LF tolerated everywhere
  *     (archived servers emit both; the tolerance is required by
  *     RFC 7230 §3.5's "MAY recognize a single LF").
  *   - header fields `Name: value` with OWS trimmed; names are
  *     case-insensitive and exposed LOWERCASED; duplicate names join
  *     with ", " in arrival order (RFC 7230 §3.2.2's list rule);
  *     obs-fold continuation lines (leading SP/HTAB) append with one
  *     SP.
  *   - body: `Transfer-Encoding: chunked` (checked before
  *     Content-Length, per §3.3.3) decodes hex-sized chunks —
  *     chunk extensions after `;` ignored, trailers skipped; else
  *     `Content-Length: n` slices exactly n bytes (a length past the
  *     payload = truncated record → None); else the body is the rest
  *     of the payload (connection-close framing).
  *   - [[MaxBodyBytes]] caps the decoded body (the PngCodec/Warc
  *     bomb-cap precedent): an over-cap length or chunk sum → None.
  *
  * The writer is the byte-deterministic inverse (headers in
  * caller-given order, CRLF endings, fixed chunk size) so round-trip
  * specs and oracle replays can state exact bytes.
  *
  * Scale: a pure per-row projection over the WARC scan's partitioning
  * — one linear pass per record, no shuffle, no state.
  */
object HttpMessage {

  /** Decoded-body budget per record (same bound as [[Warc.MaxRecordBytes]]). */
  val MaxBodyBytes: Int = Warc.MaxRecordBytes

  /** One parsed response: status code, lowercased-name headers in
    * arrival order (duplicates pre-joined with ", "), body bytes. */
  final case class Response(status: Int, headers: Seq[(String, String)],
                            body: Array[Byte])

  // ---- parse ----

  /** End index (exclusive) of the line starting at `from`, and the
    * start of the next line — tolerates CRLF and bare LF. Returns
    * (lineEnd, nextStart); lineEnd == -1 when no terminator found. */
  private def lineEnd(b: Array[Byte], from: Int): (Int, Int) = {
    var i = from
    while (i < b.length) {
      if (b(i) == '\n') {
        val end = if (i > from && b(i - 1) == '\r') i - 1 else i
        return (end, i + 1)
      }
      i += 1
    }
    (-1, b.length)
  }

  private def ascii(b: Array[Byte], from: Int, until: Int): String =
    new String(b, from, until - from, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Parse one response payload; None when the bytes are not a
    * parseable HTTP/1.x response (wrong magic, bad status, truncated
    * Content-Length, malformed/over-cap chunking). */
  def parse(payload: Array[Byte]): Option[Response] = {
    if (payload == null || payload.length < 12) return None
    val (sEnd, hStart) = lineEnd(payload, 0)
    if (sEnd < 0) return None
    val statusLine = ascii(payload, 0, sEnd)
    if (!statusLine.startsWith("HTTP/")) return None
    val sp1 = statusLine.indexOf(' ')
    if (sp1 < 0 || sp1 + 4 > statusLine.length) return None
    val code = statusLine.substring(sp1 + 1, sp1 + 4)
    if (!code.forall(c => c >= '0' && c <= '9')) return None
    if (sp1 + 4 < statusLine.length && statusLine.charAt(sp1 + 4) != ' ')
      return None // 4+ digit "code"
    val status = code.toInt

    // header block: lines until the first empty line
    val headers = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var pos = hStart
    var bodyStart = -1
    while (bodyStart < 0) {
      val (e, next) = lineEnd(payload, pos)
      if (e < 0) return None // no blank line: truncated header block
      if (e == pos) bodyStart = next // empty line
      else {
        val line = ascii(payload, pos, e)
        if (line.charAt(0) == ' ' || line.charAt(0) == '\t') {
          // obs-fold: continuation of the previous field value
          if (headers.isEmpty) return None
          val (k, v) = headers.last
          headers(headers.length - 1) = (k, v + " " + line.trim)
        } else {
          val colon = line.indexOf(':')
          if (colon <= 0) return None
          val name = line.substring(0, colon).trim
            .toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(colon + 1).trim
          val at = headers.indexWhere(_._1 == name)
          if (at >= 0) headers(at) = (name, headers(at)._2 + ", " + value)
          else headers += ((name, value))
        }
        pos = next
      }
    }

    val te = headers.collectFirst { case ("transfer-encoding", v) => v }
    val body: Option[Array[Byte]] =
      if (te.exists(_.toLowerCase(java.util.Locale.ROOT).contains("chunked")))
        decodeChunked(payload, bodyStart)
      else headers.collectFirst { case ("content-length", v) => v } match {
        case Some(cl) =>
          val n = try cl.trim.toLong catch { case _: NumberFormatException => -1L }
          if (n < 0 || n > MaxBodyBytes || bodyStart + n > payload.length) None
          else Some(java.util.Arrays.copyOfRange(payload, bodyStart,
            bodyStart + n.toInt))
        case None =>
          Some(java.util.Arrays.copyOfRange(payload, bodyStart, payload.length))
      }
    body.map(b => Response(status, headers.toSeq, b))
  }

  /** Decode a chunked body starting at `from`; None on malformed size
    * lines, truncated chunks, or an over-cap total. Trailers after the
    * zero chunk are skipped without interpretation. */
  private def decodeChunked(b: Array[Byte], from: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    var pos = from
    while (true) {
      val (e, next) = lineEnd(b, pos)
      if (e < 0) return None
      var sizeText = ascii(b, pos, e)
      val semi = sizeText.indexOf(';')
      if (semi >= 0) sizeText = sizeText.substring(0, semi)
      sizeText = sizeText.trim
      if (sizeText.isEmpty || !sizeText.forall(c =>
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
          (c >= 'A' && c <= 'F'))) return None
      if (sizeText.length > 8) return None // > 0xFFFFFFFF: bomb/garbage
      val size = java.lang.Long.parseLong(sizeText, 16)
      if (size == 0L) {
        // skip trailers until an empty line (or end of payload)
        var p = next
        var done = false
        while (!done) {
          val (te, tn) = lineEnd(b, p)
          if (te < 0 || te == p) done = true else p = tn
        }
        return Some(out.toByteArray)
      }
      if (size > MaxBodyBytes || out.size + size > MaxBodyBytes) return None
      if (next + size > b.length) return None // truncated chunk
      out.write(b, next, size.toInt)
      // chunk data is followed by CRLF/LF
      val (ce, cn) = lineEnd(b, next + size.toInt)
      if (ce != next + size.toInt) return None // bytes between chunk and EOL
      pos = cn
    }
    None // unreachable
  }

  // ---- write ----

  private val Crlf = "\r\n"

  /** Chunk size the deterministic writer emits (small on purpose so
    * specs exercise multi-chunk bodies with ordinary inputs). */
  val WriteChunkBytes: Int = 64

  /** Serialize one response. Headers are written in the given order
    * (names as given — the parser lowercases); `chunked=false` appends
    * a correct `Content-Length`, `chunked=true` appends
    * `Transfer-Encoding: chunked` and frames the body in
    * [[WriteChunkBytes]] chunks. Byte-deterministic: same inputs, same
    * bytes. */
  def write(status: Int, reason: String, headers: Seq[(String, String)],
            body: Array[Byte], chunked: Boolean): Array[Byte] = {
    val sb = new StringBuilder()
      .append("HTTP/1.1 ").append(status)
    if (reason != null && reason.nonEmpty) sb.append(' ').append(reason)
    sb.append(Crlf)
    headers.foreach { case (k, v) =>
      sb.append(k).append(": ").append(v).append(Crlf)
    }
    val b = if (body == null) Array.emptyByteArray else body
    if (chunked) {
      sb.append("Transfer-Encoding: chunked").append(Crlf).append(Crlf)
      val head = sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val out = new java.io.ByteArrayOutputStream(head.length + b.length + 64)
      out.write(head, 0, head.length)
      var off = 0
      while (off < b.length) {
        val n = math.min(WriteChunkBytes, b.length - off)
        val size = (java.lang.Integer.toHexString(n) + Crlf)
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        out.write(size, 0, size.length)
        out.write(b, off, n)
        out.write('\r'); out.write('\n')
        off += n
      }
      out.write("0\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
        0, 5)
      out.toByteArray
    } else {
      sb.append("Content-Length: ").append(b.length).append(Crlf).append(Crlf)
      val head = sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val out = new Array[Byte](head.length + b.length)
      System.arraycopy(head, 0, out, 0, head.length)
      System.arraycopy(b, 0, out, head.length, b.length)
      out
    }
  }

  // ---- Spark surface ----

  /** `http_parse(payload)` — (status, headers map, body) struct; NULL
    * for unparseable payloads. Map keys are the lowercased header
    * names (duplicates already ", "-joined, so the fold loses
    * nothing). */
  val parseUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (payload: Array[Byte]) =>
      parse(payload).map(r => (r.status, r.headers.toMap, r.body))
    }

  /** `http_response_h(status, reason, headers, body, chunked)` — the
    * writer with an arbitrary header map (small maps keep insertion
    * order through Spark's map data, so the bytes stay deterministic
    * for the ≤4-header responses the cards build). */
  val writeWithHeadersUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (status: Int, reason: String, headers: Map[String, String],
           body: Array[Byte], chunked: Boolean) =>
      write(status, reason,
        if (headers == null) Seq.empty else headers.toSeq, body, chunked)
    }

  /** `http_response(status, reason, content_type, location, body,
    * chunked)` — the writer with the two headers the crawl cards set;
    * NULL content_type/location omit the header. */
  val writeUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (status: Int, reason: String, contentType: String,
           location: String, body: Array[Byte], chunked: Boolean) =>
      val hs = Seq("Content-Type" -> contentType, "Location" -> location)
        .collect { case (k, v) if v != null => (k, v) }
      write(status, reason, hs, body, chunked)
    }
}
