package graft

import graft.ingest.HttpMessage
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** Spec-pins for HTTP response-envelope parsing: round-trips for both
  * framings, CRLF/LF tolerance, header list rules, and the malformed
  * arms that must NULL-dispatch instead of throwing. */
class HttpMessageSpec extends SparkSpec {

  private def b(s: String) = s.getBytes(ISO_8859_1)

  test("plain Content-Length response round-trips byte-exactly") {
    val body = "hello, world — five words".getBytes(UTF_8)
    val wire = HttpMessage.write(200, "OK",
      Seq("Content-Type" -> "text/html; charset=utf-8"), body, chunked = false)
    val r = HttpMessage.parse(wire).get
    assert(r.status == 200)
    assert(HttpMessageSpec.header(r, "Content-Type")
      .contains("text/html; charset=utf-8"))
    assert(HttpMessageSpec.header(r, "content-length")
      .contains(body.length.toString))
    assert(java.util.Arrays.equals(r.body, body))
  }

  test("chunked response round-trips, multi-chunk") {
    val body = ("x" * 200).getBytes(UTF_8) // > WriteChunkBytes: 4 chunks
    val wire = HttpMessage.write(200, "OK", Seq.empty, body, chunked = true)
    val r = HttpMessage.parse(wire).get
    assert(HttpMessageSpec.header(r, "transfer-encoding").contains("chunked"))
    assert(java.util.Arrays.equals(r.body, body))
    // empty body: just the terminal chunk
    val empty = HttpMessage.write(204, "No Content", Seq.empty,
      Array.emptyByteArray, chunked = true)
    assert(HttpMessage.parse(empty).get.body.isEmpty)
  }

  test("bare-LF line endings parse identically to CRLF") {
    val crlf = "HTTP/1.1 301 Moved\r\nLocation: http://x/y\r\n" +
      "Content-Length: 0\r\n\r\n"
    val lf = crlf.replace("\r\n", "\n")
    for (wire <- Seq(crlf, lf)) {
      val r = HttpMessage.parse(b(wire)).get
      assert(r.status == 301)
      assert(HttpMessageSpec.header(r, "location").contains("http://x/y"))
      assert(r.body.isEmpty)
    }
    // chunked with LF endings
    val ch = "HTTP/1.1 200 OK\nTransfer-Encoding: chunked\n\n" +
      "3\nabc\n2\nde\n0\n\n"
    assert(new String(HttpMessage.parse(b(ch)).get.body, UTF_8) == "abcde")
  }

  test("header names fold to lowercase; duplicates join with comma") {
    val wire = "HTTP/1.1 200 OK\r\nSet-Cookie: a=1\r\nSET-COOKIE: b=2\r\n" +
      "Content-Length: 0\r\n\r\n"
    val r = HttpMessage.parse(b(wire)).get
    assert(HttpMessageSpec.header(r, "set-cookie").contains("a=1, b=2"))
    assert(r.headers.map(_._1) == Seq("set-cookie", "content-length"))
  }

  test("obs-fold continuation lines append with one space") {
    val wire = "HTTP/1.1 200 OK\r\nX-Long: first\r\n  second\r\n" +
      "Content-Length: 0\r\n\r\n"
    val r = HttpMessage.parse(b(wire)).get
    assert(HttpMessageSpec.header(r, "x-long").contains("first second"))
  }

  test("chunk extensions are ignored, trailers are skipped") {
    val wire = "HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
      "5;ext=1\r\nhello\r\n0\r\nX-Trailer: v\r\n\r\n"
    val r = HttpMessage.parse(b(wire)).get
    assert(new String(r.body, UTF_8) == "hello")
    assert(HttpMessageSpec.header(r, "x-trailer").isEmpty) // not interpreted
  }

  test("chunked beats Content-Length when both present (RFC 7230 3.3.3)") {
    val wire = "HTTP/1.1 200 OK\r\nContent-Length: 999\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n2\r\nok\r\n0\r\n\r\n"
    assert(new String(HttpMessage.parse(b(wire)).get.body, UTF_8) == "ok")
  }

  test("no framing header: body is the rest of the payload") {
    val wire = "HTTP/1.0 200 OK\r\n\r\ntail bytes"
    assert(new String(HttpMessage.parse(b(wire)).get.body, UTF_8)
      == "tail bytes")
  }

  test("malformed payloads NULL-dispatch, never throw") {
    val bad = Seq(
      "GET / HTTP/1.1\r\n\r\n",                    // a request, not a response
      "HTTP/1.1 20 OK\r\n\r\n",                    // 2-digit status
      "HTTP/1.1 2000 OK\r\n\r\n",                  // 4-digit status
      "HTTP/1.1 abc OK\r\n\r\n",                   // non-numeric status
      "HTTP/1.1 200 OK\r\nNoColonHere\r\n\r\n",    // malformed field line
      "HTTP/1.1 200 OK\r\nContent-Length: 10\r\n\r\nabc", // truncated body
      "HTTP/1.1 200 OK\r\nContent-Length: -1\r\n\r\n",    // negative length
      "HTTP/1.1 200 OK\r\nContent-Length: 99\r\n", // no blank line
      "HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\n", // bad size
      "HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n5\r\nab\r\n", // short chunk
      "")
    bad.foreach(s => assert(HttpMessage.parse(b(s)).isEmpty, s))
    assert(HttpMessage.parse(null).isEmpty)
  }

  test("reason phrase is optional; multi-word reasons parse") {
    assert(HttpMessage.parse(b("HTTP/1.1 404\r\nContent-Length: 0\r\n\r\n"))
      .get.status == 404)
    assert(HttpMessage.parse(
      b("HTTP/1.1 500 Internal Server Error\r\nContent-Length: 0\r\n\r\n"))
      .get.status == 500)
  }
}

object HttpMessageSpec {

  /** Case-insensitive header lookup over a parsed response (names are
    * lowercased at parse; this lowercases the probe). */
  def header(r: HttpMessage.Response, name: String): Option[String] = {
    val n = name.toLowerCase(java.util.Locale.ROOT)
    r.headers.collectFirst { case (k, v) if k == n => v }
  }
}
