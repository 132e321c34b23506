package graft

import graft.ingest.{Tar, Warc}
import graft.text.{Chunker, UrlCanon}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.nio.charset.StandardCharsets.UTF_8

/** Property tests for the crawl-ingestion operators: generated cases
  * under a fixed seed (the PropertySpec convention), each property an
  * algebraic law the oracle gates can't fully cover — idempotence,
  * inversion on arbitrary bytes, concatenation identity, locality. */
class CrawlPropertySpec extends SparkSpec {

  private val N = 300
  private def cases[A](g: Gen[A]): Seq[A] =
    (0 until N).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(97L + i)))

  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS", "ftp")
    host <- Gen.oneOf("Ex.COM", "www.site.org", "a.b.c.io", "H-3.net")
    port <- Gen.oneOf("", ":80", ":443", ":8080", ":1")
    path <- Gen.oneOf("", "/", "/a", "/a/b/", "/a//b", "/x.y/",
      "/%70x", "/a%2fb", "/a%zz%4")
    nq <- Gen.choose(0, 4)
    keys <- Gen.listOfN(nq, Gen.oneOf("a", "b", "zz", "utm_source",
      "utm_x", "fbclid", "ref", "A"))
    frag <- Gen.oneOf("", "#f", "#a?b=1")
  } yield {
    val q = if (keys.isEmpty) ""
      else "?" + keys.zipWithIndex.map { case (k, i) => s"$k=$i" }.mkString("&")
    s"$scheme://$host$port$path$q$frag"
  }

  test("UrlCanon: canonicalize is idempotent on every generated URL") {
    cases(urlGen).foreach { u =>
      val once = UrlCanon.canonicalize(u)
      assert(once.isDefined, u)
      assert(UrlCanon.canonicalize(once.get) == once, u)
    }
  }

  test("UrlCanon: canonical form never carries fragments, tracking params, default ports") {
    cases(urlGen).foreach { u =>
      val c = UrlCanon.canonicalize(u).get
      assert(!c.contains("#"), c)
      assert(!c.contains("utm_") && !c.contains("fbclid"), c)
      // "ref" is SEMANTIC by default (?ref=main routes on real sites):
      // preserved unless the caller opts into stripping it
      if (u.toLowerCase.contains("ref="))
        assert(c.contains("ref="), s"$u -> $c")
      assert(!UrlCanon.canonicalize(u,
        UrlCanon.TrackingExact + "ref").get.contains("ref="), c)
      assert(!(c.startsWith("http://") && c.contains(":80/")) &&
        !(c.startsWith("https://") && c.contains(":443/")), c)
      // scheme and host are lowercase
      val hostEnd = c.indexWhere(ch => ch == '/' || ch == '?',
        c.indexOf("://") + 3) match { case -1 => c.length; case i => i }
      assert(c.substring(0, hostEnd) ==
        c.substring(0, hostEnd).toLowerCase(java.util.Locale.ROOT), c)
    }
  }

  test("UrlCanon: bracketed IPv6 authorities parse; port rules apply after ']'") {
    assert(UrlCanon.canonicalize("http://[::1]:8080/x")
      .contains("http://[::1]:8080/x"))
    assert(UrlCanon.canonicalize("http://[::1]:80/x")
      .contains("http://[::1]/x")) // default port drops
    assert(UrlCanon.canonicalize("https://[2001:DB8::1]/p?b=2&a=1")
      .contains("https://[2001:db8::1]/p?a=1&b=2"))
    assert(UrlCanon.canonicalize("http://[::ffff:192.0.2.1]/")
      .contains("http://[::ffff:192.0.2.1]/"))
    // malformed brackets stay NULL under the NULL-dispatch contract
    assert(UrlCanon.canonicalize("http://[::1/x").isEmpty)
    assert(UrlCanon.canonicalize("http://[::1]junk/x").isEmpty)
    assert(UrlCanon.canonicalize("http://[not-hex]/x").isEmpty)
    // idempotence holds on the bracketed forms too
    val c = UrlCanon.canonicalize("HTTP://[2001:DB8::1]:8080/a/?z=1#f").get
    assert(UrlCanon.canonicalize(c).contains(c))
  }

  private val bytesGen: Gen[Array[Byte]] = for {
    n <- Gen.choose(0, 2000)
    bs <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield bs.toArray

  test("Warc: split(concat(records)) inverts on arbitrary binary payloads") {
    val recsGen = for {
      k <- Gen.choose(1, 5)
      ps <- Gen.listOfN(k, bytesGen)
    } yield ps
    cases(recsGen).foreach { ps =>
      val blob = ps.zipWithIndex
        .map { case (p, i) => Warc.writeRecord(i.toLong, s"u$i", p) }
        .foldLeft(Array.emptyByteArray)(_ ++ _)
      val got = Warc.split(blob)
      assert(got.size == ps.size)
      got.zip(ps).foreach { case (r, p) =>
        assert(java.util.Arrays.equals(r.payload, p))
      }
    }
  }

  test("Warc: non-ASCII Target-URIs round-trip byte-exact (UTF-8 headers)") {
    val uris = Seq("https://ex.com/café", "https://пример.рф/путь",
      "https://ex.jp/ページ?q=値", "https://e.com/a\u00A0b")
    uris.zipWithIndex.foreach { case (u, i) =>
      val rec = Warc.writeRecord(i.toLong, u, Array[Byte](1, 2, 3))
      val got = Warc.split(rec)
      assert(got.size == 1)
      assert(got.head.uri == u, s"mangled: ${got.head.uri}")
      assert(got.head.id == i.toLong)
    }
  }

  test("Tar: writeEntry rejects payloads over MaxMemberBytes (write/read symmetry)") {
    // split() drops over-budget members; the writer must fail loudly
    // instead of producing an archive whose member vanishes at read
    val big = new Array[Byte]((Tar.MaxMemberBytes + 1).toInt)
    intercept[IllegalArgumentException] { Tar.writeEntry("big", big) }
  }

  test("Tar: split(archive(entries)) inverts on arbitrary binary payloads") {
    val recsGen = for {
      k <- Gen.choose(1, 4)
      ps <- Gen.listOfN(k, bytesGen)
    } yield ps
    cases(recsGen).foreach { ps =>
      val blob = ps.zipWithIndex
        .map { case (p, i) => Tar.writeEntry(s"e$i", p) }
        .foldLeft(Array.emptyByteArray)(_ ++ _) ++ Tar.endOfArchive
      val got = Tar.split(blob)
      assert(got.size == ps.size, s"sizes: got ${got.size} want ${ps.size}")
      got.zip(ps).foreach { case (e, p) =>
        assert(java.util.Arrays.equals(e.payload, p))
      }
    }
  }

  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 400)
    cs <- Gen.listOfN(n, Gen.frequency(
      (20, Gen.alphaNumChar), (5, Gen.const(' ')),
      (1, Gen.oneOf('é', 'π', '\u00A0'))))
  } yield cs.mkString

  test("Chunker: chunks concatenate to the input; boundaries stable under prefix edits") {
    cases(textGen).foreach { t =>
      val cs = Chunker.chunks(t)
      assert(cs.mkString == t)
      val edited = "EDIT " + t
      val csE = Chunker.chunks(edited)
      assert(csE.mkString == edited)
      // locality: all chunks after the first boundary of t survive
      if (cs.length > 1) {
        val tail = cs.tail
        assert(csE.takeRight(tail.length) == tail, t.take(60))
      }
    }
  }

  private val urlTextGen: Gen[String] = for {
    n <- Gen.choose(1, 60)
    cs <- Gen.listOfN(n, Gen.frequency(
      (20, Gen.alphaNumChar),
      (3, Gen.oneOf('/', '?', '=', '.', '-', ':')),
      (2, Gen.oneOf('&', '<', '>', '"', '\'')))) // the XML five
  } yield "https://" + cs.mkString

  test("Sitemap: parse(writeUrlset(entries)) inverts, incl. XML-five locs") {
    import graft.ingest.Sitemap
    val entriesGen = for {
      k <- Gen.choose(0, 8)
      locs <- Gen.listOfN(k, urlTextGen)
      mods <- Gen.listOfN(k, Gen.oneOf("", "2024-01-05", "2024-12-31"))
    } yield locs.zip(mods).map { case (l, m) => Sitemap.Entry(l, m) }
    cases(entriesGen).foreach { es =>
      val got = Sitemap.parseUrlset(Sitemap.writeUrlset(es))
      assert(got == es, es.take(2).toString)
    }
  }

  // cp1252-codable alphabet: ascii printable + latin-1 letters + the
  // cp1252 high-block punctuation the decoder maps from 0x80-0x9F
  private val cp1252TextGen: Gen[String] = for {
    n <- Gen.choose(0, 300)
    cs <- Gen.listOfN(n, Gen.frequency(
      (20, Gen.choose(' ', '~')),
      (3, Gen.choose('\u00A0', 'ÿ')),
      (2, Gen.oneOf('€', '’', '“', '”', '—',
        '…', 'š', 'Ÿ'))))
  } yield cs.mkString

  test("CharsetSniff: encode/decode round-trips every cp1252-codable string") {
    import graft.ingest.CharsetSniff
    cases(cp1252TextGen).foreach { t =>
      val bytes = CharsetSniffSpec.encodeCp1252(t)
      assert(CharsetSniff.decode("t/h; charset=windows-1252", bytes) == t,
        t.take(60))
    }
  }

  test("CharsetSniff: decode is TOTAL on arbitrary bytes under every header") {
    import graft.ingest.CharsetSniff
    val headers = Seq(null, "text/html", "t/h; charset=utf-8",
      "t/h; charset=latin1", "t/h; charset=utf-16le")
    cases(bytesGen).foreach { bs =>
      headers.foreach { h =>
        val d = CharsetSniff.decode(h, bs)
        assert(d != null)
        // result is valid unicode: encoding back to UTF-8 never throws
        // and round-trips through Java's strict decoder
        val u = d.getBytes(UTF_8)
        assert(new String(u, UTF_8) == d, String.valueOf(h))
      }
    }
  }

  // ---- round-12 additions: HTTP envelope, URL resolution, outlinks ----

  private val headerGen: Gen[Seq[(String, String)]] = for {
    n <- Gen.choose(0, 5)
    hs <- Gen.listOfN(n, for {
      k <- Gen.oneOf("Content-Type", "X-Custom", "ETag", "Server", "Vary")
      v <- Gen.oneOf("text/html", "a, b", "\"abc123\"", "x=1; y=2", "ok")
    } yield (k, v))
  } yield hs.distinctBy(_._1.toLowerCase)

  private val bodyGen: Gen[Array[Byte]] =
    Gen.choose(0, 400).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(_.toArray))

  test("HttpMessage: parse(write(...)) inverts for both framings on arbitrary bodies") {
    import graft.ingest.HttpMessage
    val gen = for {
      status <- Gen.choose(100, 599)
      hs <- headerGen
      body <- bodyGen
      chunked <- Gen.oneOf(true, false)
    } yield (status, hs, body, chunked)
    cases(gen).foreach { case (status, hs, body, chunked) =>
      val wire = HttpMessage.write(status, "R", hs, body, chunked)
      val r = HttpMessage.parse(wire)
      assert(r.isDefined, s"$status $hs chunked=$chunked")
      assert(r.get.status == status)
      assert(java.util.Arrays.equals(r.get.body, body),
        s"body mismatch at $status chunked=$chunked len=${body.length}")
      hs.foreach { case (k, v) =>
        assert(HttpMessageSpec.header(r.get, k).contains(v), k)
      }
    }
  }

  test("HttpMessage: parse is TOTAL on arbitrary bytes (None or a response, never a throw)") {
    import graft.ingest.HttpMessage
    cases(bodyGen).foreach { bytes =>
      HttpMessage.parse(bytes) // must not throw
    }
    // and on byte-corrupted valid messages
    val base = HttpMessage.write(200, "OK",
      Seq("Content-Type" -> "text/html"), "hello world".getBytes(UTF_8),
      chunked = true)
    (0 until base.length).foreach { i =>
      val corrupt = base.clone()
      corrupt(i) = (corrupt(i) ^ 0x5A).toByte
      HttpMessage.parse(corrupt) // must not throw for any single flip
    }
  }

  test("UrlResolve: resolving an ABSOLUTE ref ignores the base; resolve is stable") {
    import graft.text.UrlResolve
    cases(urlGen).foreach { u =>
      // an absolute URL resolved against any base is itself (modulo
      // dot-segment removal, which these generated paths don't need)
      val r = UrlResolve.resolve("http://other.example/x/y", u)
      assert(r.isDefined, u)
      if (!u.contains("/.") && !u.contains("./"))
        assert(r.get == u, u)
      // resolving the result against the same base is a fixed point
      assert(UrlResolve.resolve("http://other.example/x/y", r.get) == r, u)
    }
  }

  test("UrlResolve: resolve BEFORE canon — the pipeline order is load-bearing") {
    import graft.text.{UrlCanon, UrlResolve}
    // canon strips a non-root trailing slash, and RFC 3986 merge
    // resolves relative refs against the base path UP TO ITS LAST
    // SLASH — so canonicalizing the base first CHANGES where relative
    // links land. This pins why q308/q311 resolve against the RAW
    // fetched URL and canonicalize only the result.
    val base = "http://ex.com/a/b/"
    val direct = UrlResolve.resolve(base, "c")
      .flatMap(UrlCanon.canonicalize(_))
    assert(direct.contains("http://ex.com/a/b/c"))
    val cb = UrlCanon.canonicalize(base).get
    assert(cb == "http://ex.com/a/b") // slash stripped
    val viaCanon = UrlResolve.resolve(cb, "c")
      .flatMap(UrlCanon.canonicalize(_))
    assert(viaCanon.contains("http://ex.com/a/c")) // WRONG target
    assert(direct != viaCanon)
    // for rooted / absolute / scheme-relative refs the order is
    // immaterial — those never consult the base path
    for (r <- Seq("/rooted", "//h2.example/p", "https://abs.io/q"))
      assert(UrlResolve.resolve(base, r).flatMap(UrlCanon.canonicalize(_))
        == UrlResolve.resolve(cb, r).flatMap(UrlCanon.canonicalize(_)), r)
  }

  test("Outlinks: extraction is TOTAL and capped on arbitrary text") {
    import graft.extract.Outlinks
    val junkGen = Gen.choose(0, 300).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('<', '>', 'a', ' ', '"', '\'', '=',
        'h', 'r', 'e', 'f', '/', '&', ';')).map(_.mkString))
    cases(junkGen).foreach { s =>
      val out = Outlinks.hrefs(s) // must not throw
      assert(out.size <= Outlinks.MaxLinks)
      out.foreach(h => assert(h.nonEmpty))
    }
  }

  test("Outlinks: anchors(h).map(_._1) == hrefs(h) on arbitrary text " +
    "(text extraction never changes link discovery)") {
    import graft.extract.Outlinks
    val junkGen = Gen.choose(0, 300).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('<', '>', 'a', 'A', ' ', '"', '\'', '=',
        'h', 'r', 'e', 'f', '/', '&', ';', 'b', '.')).map(_.mkString))
    cases(junkGen).foreach { s =>
      assert(Outlinks.anchors(s).map(_._1) == Outlinks.hrefs(s), s)
    }
  }

  test("Cdx.surt: spelling-invariance laws on every generated URL") {
    import graft.ingest.Cdx
    cases(urlGen).foreach { u =>
      val k = Cdx.surt(u)
      // case-insensitive (ASCII URLs)
      assert(Cdx.surt(u.toUpperCase(java.util.Locale.ROOT)) == k, u)
      assert(Cdx.surt(u.toLowerCase(java.util.Locale.ROOT)) == k, u)
      // fragment-invariant
      assert(Cdx.surt(u.takeWhile(_ != '#')) == k, u)
      // never empty for a generated URL (all have real hosts)
      assert(k.nonEmpty, u)
      // key never carries a fragment or an unsorted query
      assert(!k.contains("#"), k)
      val qi = k.indexOf('?')
      if (qi >= 0) {
        val parts = k.substring(qi + 1).split('&').toSeq
        assert(parts == parts.sorted, k)
      }
    }
  }

  test("Cdx.surt: query-order invariance (sorted params collate equal)") {
    import graft.ingest.Cdx
    val pgen = for {
      n <- Gen.choose(2, 5)
      keys <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "dd", "e1"))
    } yield keys.zipWithIndex.map { case (k, i) => s"$k=$i" }
    cases(pgen).foreach { params =>
      val base = "https://example.com/p"
      val k1 = Cdx.surt(base + "?" + params.mkString("&"))
      val k2 = Cdx.surt(base + "?" + params.reverse.mkString("&"))
      assert(k1 == k2, params.toString)
    }
  }

  test("Cdx.index ∘ concat == per-record entries with tiling extents " +
    "on arbitrary binary payloads") {
    import graft.ingest.{Cdx, Warc}
    val recGen = for {
      n <- Gen.choose(1, 5)
      bodies <- Gen.listOfN(n,
        Gen.choose(0, 60).flatMap(m =>
          Gen.listOfN(m, Gen.choose(Byte.MinValue, Byte.MaxValue))))
    } yield bodies.map(_.toArray)
    cases(recGen).foreach { bodies =>
      val blob = bodies.zipWithIndex.map { case (b, i) =>
        Warc.writeRecord(i.toLong, s"http://h/$i", b)
      }.reduce(_ ++ _)
      val idx = Cdx.index(blob)
      assert(idx.size == bodies.size)
      // extents tile the blob exactly
      assert(idx.head.offset == 0L)
      assert(idx.map(_.length).sum == blob.length)
      idx.sliding(2).foreach {
        case Seq(a, b) => assert(a.offset + a.length == b.offset)
        case _ => ()
      }
      // every extent fetches back to its own record
      idx.zip(bodies).foreach { case (e, body) =>
        val got = Cdx.fetch(blob, e.offset, e.length)
        assert(got.isDefined)
        assert(java.util.Arrays.equals(got.get.payload, body))
      }
    }
  }
}
