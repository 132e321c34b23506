package graft

import graft.ingest.CharsetSniff
import java.nio.charset.StandardCharsets.{UTF_8, UTF_16LE, UTF_16BE}

/** Spec-pins for the charset resolution ladder (WHATWG/HTML5 order):
  * BOM > HTTP header > meta prescan > UTF-8-validity heuristic >
  * windows-1252 fallback \u2014 plus the label-folding and cp1252 table
  * details an oracle replay depends on byte-for-byte. */
class CharsetSniffSpec extends SparkSpec {

  private def cs(ct: String, bs: Array[Byte]): String =
    CharsetSniff.sniff(ct, bs)._1

  test("BOM beats header and meta (HTML5: BOM is most authoritative)") {
    val body = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      "hello".getBytes(UTF_8)
    assert(cs("text/html; charset=iso-8859-1", body) == "utf-8")
    assert(CharsetSniff.decode("text/html; charset=iso-8859-1", body)
      == "hello") // BOM consumed, not emitted
    val le = Array[Byte](0xFF.toByte, 0xFE.toByte) ++ "hi".getBytes(UTF_16LE)
    assert(cs(null, le) == "utf-16le")
    assert(CharsetSniff.decode(null, le) == "hi")
    val be = Array[Byte](0xFE.toByte, 0xFF.toByte) ++ "hi".getBytes(UTF_16BE)
    assert(cs(null, be) == "utf-16be")
    assert(CharsetSniff.decode(null, be) == "hi")
  }

  test("header charset parses: bare, quoted, mixed case, extra params") {
    val b = "x".getBytes(UTF_8)
    assert(cs("text/html; charset=UTF-8", b) == "utf-8")
    assert(cs("text/html; CHARSET=\"Windows-1252\"", b) == "windows-1252")
    assert(cs("text/html; charset='utf-16le'; boundary=x", b) == "utf-16le")
    assert(cs("text/html", b) == "utf-8") // no param -> heuristic
  }

  test("WHATWG label folding: latin1/ascii labels mean windows-1252") {
    val b = "x".getBytes(UTF_8)
    for (l <- Seq("iso-8859-1", "latin1", "us-ascii", "ascii", "cp1252"))
      assert(cs(s"text/html; charset=$l", b) == "windows-1252", l)
    // utf-16 bare label means LE (WHATWG: utf-16 decodes as LE sans BOM)
    assert(cs("text/html; charset=utf-16", b) == "utf-16le")
    // unknown labels fall through to the heuristic
    assert(cs("text/html; charset=klingon-1", b) == "utf-8")
  }

  test("meta prescan: charset attr and http-equiv form, 1024-byte window") {
    def b(s: String) = s.getBytes(UTF_8)
    assert(cs(null, b("<html><META CharSet=\"latin1\"><body>")) ==
      "windows-1252")
    assert(cs(null, b("<meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=windows-1252\">")) == "windows-1252")
    // header beats meta
    assert(cs("t/h; charset=utf-8", b("<meta charset=latin1>")) == "utf-8")
    // past the window: ignored
    val far = " " * 1100 + "<meta charset=latin1>"
    assert(cs(null, b(far)) == "utf-8")
  }

  test("meta-sourced UTF-16 labels fold to UTF-8 (WHATWG meta step 2)") {
    def b(s: String) = s.getBytes(UTF_8)
    // the prescan could only READ the meta if the doc is
    // ASCII-compatible, so a self-declared utf-16 page is lying —
    // honoring it literally would decode the page to NUL-interleaved
    // garbage. Header-sourced utf-16 stays honored (the header is
    // out-of-band).
    assert(cs(null, b("<meta charset=utf-16le>")) == "utf-8")
    assert(cs(null, b("<meta charset=utf-16be>")) == "utf-8")
    assert(cs(null, b("<meta http-equiv=content-type " +
      "content=\"t/h; charset=utf-16\">")) == "utf-8")
    assert(cs("t/h; charset=utf-16le", b("x")) == "utf-16le")
  }

  test("meta prescan honors only real charset declarations (HTML5 shape)") {
    def b(s: String) = s.getBytes(UTF_8)
    // charset= inside a non-content-type attribute value is PROSE,
    // not a declaration — the false positive the per-tag attribute
    // scan exists to exclude
    assert(cs(null, b("<meta name=\"description\" content=\"how to " +
      "set charset=windows-1252 in html\">")) == "utf-8")
    // a content attr only counts under http-equiv=content-type
    assert(cs(null, b("<meta name=\"keywords\" " +
      "content=\"charset=latin1\">")) == "utf-8")
    // unquoted attr values and attr order both work
    assert(cs(null, b("<meta content=\"text/html; charset=latin1\" " +
      "http-equiv=content-type>")) == "windows-1252")
    // a LATER real declaration still wins over an earlier prose one
    assert(cs(null, b("<meta name=d content=\"charset=utf-16le\">" +
      "<meta charset=latin1>")) == "windows-1252")
  }

  test("heuristic: strict UTF-8 validation, cp1252 fallback") {
    assert(cs(null, "h\u00E9llo".getBytes(UTF_8)) == "utf-8")
    // overlong encoding of '/' (C0 AF) is NOT valid utf-8
    assert(cs(null, Array[Byte](0xC0.toByte, 0xAF.toByte)) == "windows-1252")
    // CESU/surrogate ED A0 80 rejected
    assert(cs(null, Array[Byte](0xED.toByte, 0xA0.toByte, 0x80.toByte)) ==
      "windows-1252")
    // truncated 3-byte tail rejected
    assert(cs(null, Array[Byte](0xE2.toByte, 0x80.toByte)) == "windows-1252")
    // curly quotes in cp1252 bytes decode to U+201C/U+201D
    val curly = "say ".getBytes(UTF_8) ++
      Array[Byte](0x93.toByte, 'q'.toByte, 0x94.toByte)
    assert(CharsetSniff.decode(null, curly) == "say \u201Cq\u201D")
  }

  test("cp1252 high block: all 32 entries round-trip through the encoder") {
    val highs = (0x80 to 0x9F).map(_.toByte).toArray
    val dec = CharsetSniff.decode("t/h; charset=windows-1252", highs)
    assert(dec.length == 32)
    assert(dec(0) == '\u20AC' && dec(0x12) == '\u2019' &&
      dec(0x13) == '\u201C' && dec(0x1E) == '\u017E')
    // the five undefined holes pass through as C1 controls (WHATWG index)
    assert(dec(1) == '\u0081' && dec(0x0D) == '\u008D' &&
      dec(0x0F) == '\u008F' && dec(0x10) == '\u0090' && dec(0x1D) == '\u009D')
    assert(java.util.Arrays.equals(CharsetSniffSpec.encodeCp1252(dec), highs))
    // latin-1 range and ascii pass through both ways
    val s = "a\u00E9\u00FC~"
    assert(CharsetSniff.decode("t/h; charset=latin1",
      CharsetSniffSpec.encodeCp1252(s)) == s)
  }

  test("declared utf-8 that lies falls back to the total cp1252 decode") {
    val lying = "ok ".getBytes(UTF_8) ++ Array[Byte](0x97.toByte) // em dash
    assert(CharsetSniff.decode("t/h; charset=utf-8", lying) == "ok \u2014")
  }

  test("utf-16 odd tail and unpaired surrogates become U+FFFD") {
    val odd = Array[Byte](0xFF.toByte, 0xFE.toByte, 'a'.toByte, 0, 'x'.toByte)
    assert(CharsetSniff.decode(null, odd) == "a\uFFFD")
    // lone high surrogate D8 00 (LE: 00 D8)
    val lone = Array[Byte](0xFF.toByte, 0xFE.toByte, 0x00, 0xD8.toByte)
    assert(CharsetSniff.decode(null, lone) == "\uFFFD")
    // a real astral pair survives (U+1F600 = D83D DE00)
    val pair = Array[Byte](0xFF.toByte, 0xFE.toByte,
      0x3D, 0xD8.toByte, 0x00, 0xDE.toByte)
    assert(CharsetSniff.decode(null, pair) == new String(Character.toChars(0x1F600)))
  }
}

object CharsetSniffSpec {

  /** Windows-1252 encoder, the fixture side of the round-trip property:
    * the inverse of [[CharsetSniff.decode]]'s cp1252 table, unmappable
    * chars → '?'. */
  def encodeCp1252(s: String): Array[Byte] = s.map { c =>
    if (c < 0x80 || (c >= 0xA0 && c <= 0xFF)) c.toByte
    else {
      val hi = CharsetSniff.Cp1252High.indexOf(c)
      if (hi >= 0) (0x80 + hi).toByte else '?'.toByte
    }
  }.toArray
}
