package graft
package queries

import org.apache.spark.sql.functions._
import QueryHelpers._

/** Archive queries: WARC / tar / CDX containers, HTTP envelopes,
  * content encodings, the byte-grain decode chain and the archive
  * connector's refresh and repack loops. */
private[graft] object ArchiveQueries {

  val specs: Seq[QuerySpec] = Seq(
    // ---- compressed text columns (the container 100 TB web corpora
    // arrive in — WARC/WET members, .jsonl.gz shards): every document
    // round-trips through REAL gzip (JDK zlib both directions), and
    // the md5 of the INFLATED text is pinned against the oracle's md5
    // of the original — any wrong byte in deflate→inflate moves it.
    // Compressed sizes are zlib-version-dependent and deliberately not
    // emitted (the PLANS.md replay rules). Zero exchanges before the
    // presentation sort ----
    QuerySpec("q282_gzip_text_roundtrip", (s, d) => {
      import graft.text.GzipText
      tSpread(s, d, "documents")
        .select(col("doc_id"),
          GzipText.gunzip(GzipText.gzip(col("text"))).as("t"))
        .select(col("doc_id"),
          length(col("t")).cast("bigint").as("n_chars"),
          md5(col("t")).as("text_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // gzip replay: the oracle reads the ORIGINAL text — the Spark side
      // only matches if deflate→inflate reproduced every byte.
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        | md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- WARC record framing round-trip (the container web corpora
    // arrive in: CRLF headers + Content-Length-delimited BYTE payload.
    // Documents are serialized into per-file blobs — 16 "files", the
    // binaryFile grain a real deployment parallelizes on — then the
    // splitter walks each blob once, resyncing past garbage, and every
    // doc must come back byte-identical: the oracle reads the fields
    // straight off the table, so any framing/slicing bug (chars vs
    // bytes, off-by-one at the blank line, missing trailing CRLF)
    // shows as a hash mismatch) ----
    QuerySpec("q289_warc_roundtrip", (s, d) => {
      import graft.ingest.Warc
      val rec = Warc.record(col("doc_id"),
        format_string("http://docs.example.com/d/%d", col("doc_id")),
        encode(col("text"), "UTF-8"))
      tSpread(s, d, "documents")
        .select((col("doc_id") % 16).as("file_id"),
          struct(col("doc_id"), rec.as("rec")).as("r"))
        .groupBy(col("file_id"))
        .agg(sort_array(collect_list(col("r"))).as("rs"))
        .select(Warc.concatBlobs(expr("transform(rs, x -> x.rec)"))
          .as("blob"))
        .select(explode(Warc.splitUdf(col("blob"))).as("rec"))
        .select(col("rec._1").as("doc_id"),
          col("rec._2").as("uri"),
          length(col("rec._3")).cast("bigint").as("n_bytes"),
          md5(col("rec._3")).as("payload_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // WARC round-trip: fields read straight off the table — the Spark
      // side must reproduce them through serialize -> concat -> split.
      // Content-Length counts BYTES, so n_bytes is octet_length.
      """SELECT doc_id,
        | 'http://docs.example.com/d/' || doc_id AS uri,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- block-level boilerplate removal (justext-shape): each doc
    // is wrapped in a synthetic page — nav link bar, the text's two
    // halves as paragraphs, an ad strip, a footer — and the extractor
    // must segment the blocks and keep exactly the content ones by
    // the density rule (>= 10 words AND link chars < half the text).
    // Docs span 10..100 words, so a HALF can drop under the word bar:
    // the oracle replays the keep decision per half from the word
    // count, making both branches of the rule load-bearing. The
    // cross-document complement is CCNet line-frequency dedup
    // (q200/q201); this one is corpus-state-free — pure projection ----
    QuerySpec("q296_boilerplate_extract", (s, d) => {
      import graft.extract.Boilerplate
      val ws = split(trim(col("text")), "\\s+")
      val html = concat(
        lit("<html><head><title>doc"), col("doc_id"),
        lit("</title></head><body><div class=\"nav\">" +
          "<a href=\"/\">home</a> <a href=\"/about\">about</a> " +
          "<a href=\"/contact\">contact</a></div><p>"),
        col("h1"),
        lit("</p><div class=\"ads\">buy now best cheap deals</div><p>"),
        col("h2"),
        lit("</p><footer>copyright example site all rights reserved" +
          "</footer></body></html>"))
      tSpread(s, d, "documents")
        .withColumn("ws", ws)
        .withColumn("h1", array_join(expr("slice(ws, 1, (size(ws) + 1) div 2)"), " "))
        .withColumn("h2", array_join(
          expr("slice(ws, (size(ws) + 1) div 2 + 1, size(ws) - (size(ws) + 1) div 2)"), " "))
        .select(col("doc_id"),
          Boilerplate.extractUdf()(html).as("e"))
        .select(col("doc_id"),
          col("e._1").as("n_blocks"),
          col("e._2").as("n_kept"),
          md5(col("e._3")).as("kept_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // boilerplate replay: the generator wraps each doc's two word
      // halves in a fixed 5-block page; the oracle states the keep
      // decision per half from its word count (the >= 10 rule; the
      // nav/ads/footer blocks fail it or the link-density rule by
      // construction) and md5s the newline-joined kept text.
      """WITH ws AS (SELECT doc_id,
        |  regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |h AS (SELECT doc_id, w, len(w) AS n,
        |  (len(w) + 1) // 2 AS k FROM ws),
        |parts AS (SELECT doc_id,
        |  array_to_string(w[1:k], ' ') AS h1,
        |  array_to_string(w[k+1:n], ' ') AS h2,
        |  k, n - k AS k2 FROM h),
        |sel AS (SELECT doc_id,
        |  CASE WHEN k >= 10 AND k2 >= 10 THEN h1 || chr(10) || h2
        |       WHEN k >= 10 THEN h1
        |       WHEN k2 >= 10 THEN h2 ELSE '' END AS kept,
        |  (CASE WHEN k >= 10 THEN 1 ELSE 0 END
        |    + CASE WHEN k2 >= 10 THEN 1 ELSE 0 END) AS n_kept
        | FROM parts)
        |SELECT doc_id, CAST(5 AS BIGINT) AS n_blocks,
        | CAST(n_kept AS BIGINT) AS n_kept, md5(kept) AS kept_md5
        |FROM sel ORDER BY doc_id""".stripMargin),

    // ---- ustar member round-trip (the third container next to WARC
    // and gzip: file-per-document corpora ship as tar shards). Docs
    // serialize into per-archive blobs at the binaryFile grain, the
    // splitter walks the 512-byte block grid validating the
    // spaces-as-checksum-field header checksum and OCTAL size fields,
    // and every doc must come back byte-identical — the oracle reads
    // the fields off the table, so octal-termination or padding
    // off-by-ones mismatch. System-tar authenticity is spec-pinned ----
    QuerySpec("q297_tar_roundtrip", (s, d) => {
      import graft.ingest.Tar
      val e = Tar.entry(format_string("docs/doc%d.txt", col("doc_id")),
        encode(col("text"), "UTF-8"))
      tSpread(s, d, "documents")
        .select((col("doc_id") % 16).as("file_id"),
          struct(col("doc_id"), e.as("ent")).as("r"))
        .groupBy(col("file_id"))
        .agg(sort_array(collect_list(col("r"))).as("rs"))
        .select(Tar.concatEntries(expr("transform(rs, x -> x.ent)"))
          .as("blob"))
        .select(explode(Tar.splitUdf(col("blob"))).as("rec"))
        .select(col("rec._1").as("name"),
          expr("cast(regexp_extract(rec._1, 'doc(\\\\d+)\\\\.txt', 1) " +
            "as bigint)").as("doc_id"),
          length(col("rec._2")).cast("bigint").as("n_bytes"),
          md5(col("rec._2")).as("payload_md5"))
        .select(col("doc_id"), col("name"), col("n_bytes"),
          col("payload_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // tar replay: fields straight off the table — earned through
      // serialize -> concat -> block-grid split with checksum + octal
      // validation on the Spark side.
      """SELECT doc_id,
        | 'docs/doc' || doc_id || '.txt' AS name,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- charset sniff + transcode (the decode stage between WARC
    // framing and UnicodeNorm: archived bodies arrive as raw bytes in
    // the origin's charset, and a large share of archived web bytes is
    // not UTF-8). Six generator arms, one per resolution rung: plain
    // UTF-8 (heuristic), BOM'd UTF-8 under a LYING latin-1 header
    // (BOM must win), cp1252 by header, cp1252 via
    // <meta charset="latin1"> (WHATWG label folding: latin-1 labels
    // MEAN windows-1252), UTF-16LE by BOM, and undeclared cp1252
    // punctuation caught by the strict UTF-8-validity heuristic.
    // The oracle states each arm's decoded text from the generator
    // formula; md5 pins every decoded byte ----
    QuerySpec("q299_charset_decode", (s, d) => {
      import graft.ingest.CharsetSniff
      val arm = col("doc_id") % 6
      val utf8 = encode(col("text"), "UTF-8")
      val bomU8 = lit(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
      val bomLe = lit(Array[Byte](0xFF.toByte, 0xFE.toByte))
      // cp1252 bytes of " €’—é" (20 80 92 97 E9)
      val specials = lit(Array[Byte](0x20, 0x80.toByte, 0x92.toByte,
        0x97.toByte, 0xE9.toByte))
      // cp1252 curly-quoted "q" (93 71 94) — invalid as UTF-8
      val curly = lit(Array[Byte](0x93.toByte, 0x71, 0x94.toByte))
      val meta = lit("<meta charset=\"latin1\">")
      val body = when(arm === 0, utf8)
        .when(arm === 1, concat(bomU8, utf8))
        .when(arm === 2, concat(utf8, specials))
        .when(arm === 3,
          concat(encode(concat(meta, col("text")), "UTF-8"), specials))
        .when(arm === 4, concat(bomLe, encode(col("text"), "UTF-16LE")))
        .otherwise(concat(utf8, curly))
      val ct = when(arm === 1, lit("text/html; charset=iso-8859-1"))
        .when(arm === 2, lit("text/html; charset=windows-1252"))
        .otherwise(lit("text/html"))
      tSpread(s, d, "documents")
        .select(col("doc_id"), ct.as("ct"), body.as("body"))
        .select(col("doc_id"),
          CharsetSniff.sniffUdf(col("ct"), col("body")).as("charset"),
          CharsetSniff.decodeUdf(col("ct"), col("body")).as("dec"))
        .select(col("doc_id"), col("charset"),
          length(col("dec")).cast("bigint").as("n_chars"),
          md5(encode(col("dec"), "UTF-8")).as("text_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // charset replay: the oracle states each arm's decoded string from
      // the generator formula — arm 2/3 append cp1252 " euro rsquo
      // mdash eacute" (chr 8364/8217/8212/233), arm 3 keeps its meta
      // prefix, arm 5 appends curly-quoted q (chr 8220/8221); arms
      // 0/1/4 decode back to the text itself
      """SELECT doc_id,
        | CASE CAST(doc_id % 6 AS INT)
        |  WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8' WHEN 4 THEN 'utf-16le'
        |  ELSE 'windows-1252' END AS charset,
        | CAST(length(dec) AS BIGINT) AS n_chars,
        | md5(dec) AS text_md5
        |FROM (SELECT doc_id,
        | CASE CAST(doc_id % 6 AS INT)
        |  WHEN 2 THEN text || ' ' || chr(8364) || chr(8217)
        |    || chr(8212) || chr(233)
        |  WHEN 3 THEN '<meta charset="latin1">' || text || ' '
        |    || chr(8364) || chr(8217) || chr(8212) || chr(233)
        |  WHEN 5 THEN text || chr(8220) || 'q' || chr(8221)
        |  ELSE text END AS dec
        | FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // ---- HTML entity decoding before hashing/dedup: the same visible
    // string arrives plain, named (&eacute;), decimal (&#233;), and
    // hex + legacy-bare (&#xE9; / &amp) — four RAW forms per div-4
    // group that must collapse to ONE content hash after decode while
    // the raw hashes stay distinct. BeautifulSoup does this implicitly
    // on parse; a byte-level engine does it here, explicitly ----
    QuerySpec("q300_entity_dedup", (s, d) => {
      import graft.text.HtmlEntities
      val g = expr("doc_id div 4")
      val v = col("doc_id") % 4
      val gtext = format_string("doc group %d", g)
      val raw = when(v === 0, concat(gtext, lit(" café & bar")))
        .when(v === 1, concat(gtext, lit(" caf&eacute; &amp; bar")))
        .when(v === 2, concat(gtext, lit(" caf&#233; &#38; bar")))
        .otherwise(concat(gtext, lit(" caf&#xE9; &amp bar")))
      tSpread(s, d, "documents")
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"), col("raw"),
          HtmlEntities.decodeUdf(col("raw")).as("dec"))
        .groupBy(md5(encode(col("dec"), "UTF-8")).as("content_md5"))
        .agg(count(lit(1)).as("n_dups"),
          countDistinct(md5(encode(col("raw"), "UTF-8"))).as("n_raw_forms"),
          min(col("doc_id")).as("min_doc_id"))
        .orderBy(col("min_doc_id"))
    }, oracle =
      // entity replay: all four raw variants of a div-4 group decode to
      // 'doc group G caf(e-acute) & bar'; raw forms stay distinct
      """WITH g AS (SELECT doc_id, doc_id // 4 AS g FROM documents)
        |SELECT md5('doc group ' || CAST(g AS VARCHAR) || ' caf'
        |   || chr(233) || ' & bar') AS content_md5,
        | count(*) AS n_dups,
        | CAST(count(DISTINCT CAST(doc_id % 4 AS INT)) AS BIGINT)
        |   AS n_raw_forms,
        | min(doc_id) AS min_doc_id
        |FROM g GROUP BY g ORDER BY min_doc_id""".stripMargin),

    // ---- the byte-grain decode chain COMPOSED (q299+q296+q300+q290
    // in one pass, the order a real ingest runs them): raw cp1252
    // bytes --charset decode--> html --boilerplate--> block text
    // --entity decode--> content --NFC fold--> dedup key. The body
    // carries a link-dense nav (dropped), named + numeric-C1 entities
    // AND raw cp1252 punctuation bytes in the same <p> block — each
    // decode stage must fire exactly once, in order, or the md5s
    // diverge. Per-row projections end to end: no shuffle until the
    // presentation sort ----
    QuerySpec("q302_decode_chain", (s, d) => {
      import graft.ingest.CharsetSniff
      import graft.text.{HtmlEntities, UnicodeNorm}
      import graft.extract.Boilerplate
      val nav = "<div class=\"nav\"><a href=\"/\">home</a> " +
        "<a href=\"/a\">about</a> <a href=\"/c\">contact</a></div>"
      val part1 = concat(lit(nav + "<p>"), col("text"),
        lit(" caf&eacute; &amp; bar &#147;ok&#148; "))
      // raw cp1252 punctuation: 0x80 euro, 0x92 rsquo
      val specials = lit(Array[Byte](0x80.toByte, 0x92.toByte))
      val bytes = concat(encode(part1, "UTF-8"), specials,
        encode(lit("</p>"), "UTF-8"))
      val ct = lit("text/html; charset=windows-1252")
      tSpread(s, d, "documents")
        .select(col("doc_id"),
          CharsetSniff.decodeUdf(ct, bytes).as("html"))
        .select(col("doc_id"),
          Boilerplate.extractUdf(3)(col("html")).as("x"))
        .select(col("doc_id"), col("x._2").cast("bigint").as("n_kept"),
          HtmlEntities.decodeUdf(col("x._3")).as("content"))
        .select(col("doc_id"), col("n_kept"),
          length(col("content")).cast("bigint").as("n_chars"),
          md5(encode(col("content"), "UTF-8")).as("content_md5"),
          md5(encode(UnicodeNorm.foldKey(col("content")), "UTF-8"))
            .as("fold_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // decode-chain replay: content stated from the generator formula —
      // cp1252 0x80/0x92 AND the entity refs both land as the final
      // unicode punctuation; the nav block never reaches the content
      """WITH c AS (SELECT doc_id,
        |  text || ' caf' || chr(233) || ' & bar ' || chr(8220) || 'ok'
        |    || chr(8221) || ' ' || chr(8364) || chr(8217) AS content
        | FROM documents)
        |SELECT doc_id, CAST(1 AS BIGINT) AS n_kept,
        | CAST(length(content) AS BIGINT) AS n_chars,
        | md5(content) AS content_md5,
        | md5(lower(strip_accents(nfc_normalize(content)))) AS fold_md5
        |FROM c ORDER BY doc_id""".stripMargin),

    // ---- the WARC→HTTP→charset ingest chain COMPOSED: a WARC
    // response record's payload is an HTTP MESSAGE (status line +
    // headers + body), and nothing downstream can run until the
    // envelope is split off — the Content-Type header feeds the
    // charset sniff (q299's ladder), the Location header feeds the
    // redirect map (q304's edges), the status class gates the funnel.
    // Four arms per div-4 group: 200 with plain Content-Length
    // framing, 200 CHUNKED (multi-chunk: bodies exceed the 64-byte
    // write chunk), 301 with Location and an empty body, 404 with a
    // cp1252-labelled body whose 0x80/0x92 bytes are invalid UTF-8 —
    // the arm that proves the header really reached the sniffer.
    // Write→concat→split→parse→decode, all per-row projections around
    // one 16-file groupBy ----
    QuerySpec("q307_http_envelope", (s, d) => {
      import graft.ingest.{Warc, HttpMessage, CharsetSniff}
      val arm = col("doc_id") % 4
      // cp1252 punctuation (0x80 euro, 0x92 rsquo): invalid as UTF-8
      val specials = lit(Array[Byte](0x80.toByte, 0x92.toByte))
      val utf8 = encode(col("text"), "UTF-8")
      val status = when(arm === 2, lit(301))
        .when(arm === 3, lit(404)).otherwise(lit(200))
      val reason = when(arm === 2, lit("Moved Permanently"))
        .when(arm === 3, lit("Not Found")).otherwise(lit("OK"))
      val ct = when(arm === 0, lit("text/html; charset=utf-8"))
        .when(arm === 1, lit("text/html"))
        .when(arm === 3, lit("text/html; charset=windows-1252"))
        .otherwise(lit(null).cast("string"))
      val loc = when(arm === 2, format_string(
        "http://www.example.com/final/%d", expr("doc_id div 4")))
        .otherwise(lit(null).cast("string"))
      val body = when(arm === 2, lit(Array.emptyByteArray))
        .when(arm === 3, concat(encode(lit("not found "), "UTF-8"), specials))
        .otherwise(utf8)
      val payload = HttpMessage.writeUdf(status, reason, ct, loc,
        body, arm === 1)
      val rec = Warc.record(col("doc_id"),
        format_string("http://www.example.com/p/%d", col("doc_id")), payload)
      tSpread(s, d, "documents")
        .select((col("doc_id") % 16).as("file_id"),
          struct(col("doc_id"), rec.as("rec")).as("r"))
        .groupBy(col("file_id"))
        .agg(sort_array(collect_list(col("r"))).as("rs"))
        .select(Warc.concatBlobs(expr("transform(rs, x -> x.rec)"))
          .as("blob"))
        .select(explode(Warc.splitUdf(col("blob"))).as("rec"))
        .select(col("rec._1").as("doc_id"),
          HttpMessage.parseUdf(col("rec._3")).as("h"))
        .select(col("doc_id"),
          col("h._1").as("status"),
          coalesce(expr("h._2['transfer-encoding']") === "chunked",
            lit(false)).as("chunked"),
          expr("h._2['location']").as("location"),
          CharsetSniff.sniffUdf(expr("h._2['content-type']"), col("h._3"))
            .as("charset"),
          CharsetSniff.decodeUdf(expr("h._2['content-type']"), col("h._3"))
            .as("dec"))
        .select(col("doc_id"), col("status"), col("chunked"),
          col("location"), col("charset"),
          length(col("dec")).cast("bigint").as("n_chars"),
          md5(encode(col("dec"), "UTF-8")).as("content_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // envelope replay: statuses/framing/decoded content stated from
      // the generator arms — arm 2's body is empty, arm 3's cp1252
      // bytes decode to the euro/rsquo punctuation, arms 0/1 carry the
      // document text through either framing unchanged
      """SELECT doc_id,
        | CAST(CASE CAST(doc_id % 4 AS INT) WHEN 2 THEN 301
        |   WHEN 3 THEN 404 ELSE 200 END AS INT) AS status,
        | doc_id % 4 = 1 AS chunked,
        | CASE WHEN doc_id % 4 = 2 THEN 'http://www.example.com/final/'
        |   || CAST(doc_id // 4 AS VARCHAR) END AS location,
        | CASE WHEN doc_id % 4 = 3 THEN 'windows-1252'
        |   ELSE 'utf-8' END AS charset,
        | CAST(length(dec) AS BIGINT) AS n_chars,
        | md5(dec) AS content_md5
        |FROM (SELECT doc_id,
        | CASE CAST(doc_id % 4 AS INT)
        |  WHEN 2 THEN ''
        |  WHEN 3 THEN 'not found ' || chr(8364) || chr(8217)
        |  ELSE text END AS dec
        | FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // ---- Content-Encoding: most archived responses are gzipped on
    // the wire, so the decode chain grows a rung BEFORE charset:
    // envelope → (gunzip when Content-Encoding: gzip) → charset →
    // text. Three arms: gzipped (must round-trip to the same md5 as
    // the identity arm), identity, and a LYING encoding header over
    // corrupt bytes — the inflate NULL-dispatches and the row
    // quarantines instead of failing the scan ----
    QuerySpec("q316_content_encoding", (s, d) => {
      import graft.ingest.{CharsetSniff, HttpMessage}
      import graft.text.GzipText
      val arm = col("doc_id") % 3
      val gz = udf { (s0: String) => GzipText.gzipBytes(s0) }
      val body = when(arm === 0, gz(col("text")))
        .when(arm === 1, encode(col("text"), "UTF-8"))
        .otherwise(concat(lit(Array[Byte](0x1f.toByte, 0x8b.toByte)),
          encode(lit("corrupt"), "UTF-8")))
      val enc = when(arm === 1, lit("identity")).otherwise(lit("gzip"))
      val headers = map(
        lit("Content-Type"), lit("text/html; charset=utf-8"),
        lit("Content-Encoding"), enc)
      val payload = HttpMessage.writeWithHeadersUdf(lit(200), lit("OK"),
        headers, body, lit(false))
      tSpread(s, d, "documents")
        .select(col("doc_id"), HttpMessage.parseUdf(payload).as("h"))
        .select(col("doc_id"),
          expr("h._2['content-encoding']").as("encoding"),
          when(expr("h._2['content-encoding']") === "gzip",
            GzipText.gunzip(col("h._3")))
            .otherwise(CharsetSniff.decodeUdf(
              expr("h._2['content-type']"), col("h._3"))).as("content"))
        .select(col("doc_id"), col("encoding"),
          col("content").isNotNull.as("decoded"),
          length(col("content")).cast("bigint").as("n_chars"),
          md5(encode(col("content"), "UTF-8")).as("content_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // encoding replay: gzip and identity arms carry the text through,
      // the lying-header arm quarantines NULL
      """SELECT doc_id,
        | CASE WHEN doc_id % 3 = 1 THEN 'identity' ELSE 'gzip' END
        |   AS encoding,
        | doc_id % 3 <> 2 AS decoded,
        | CASE WHEN doc_id % 3 <> 2 THEN CAST(length(text) AS BIGINT) END
        |   AS n_chars,
        | CASE WHEN doc_id % 3 <> 2 THEN md5(text) END AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- CDX capture index: the random-access layer an archive
    // publishes next to its WARC shards (Common Crawl's cc-index
    // convention). Per doc, a 3-member shard: the SAME page captured
    // twice under two URL spellings (https+WWW+:443+/P/+reordered
    // query vs plain http) and a second page — the SURT key must
    // collate both spellings to ONE urlkey while offsets/lengths
    // stay byte-exact (the oracle recomputes every member's extent
    // from the WARC framing arithmetic: a one-byte drift anywhere in
    // writeRecord breaks every row after it). Index rows are ~60
    // bytes vs ~100 KB of payload — the grain every archive query
    // below joins on INSTEAD of the archive ----
    QuerySpec("q321_cdx_index", (s, d) => {
      import graft.ingest.{Cdx, Warc}
      val g = col("doc_id")
      val n = col("doc_id") % 50
      val uri0 = format_string(
        "https://WWW.Site%d.example.com:443/P/%d?b=2&a=1", n, g)
      val uri1 = format_string(
        "http://site%d.example.com/p/%d?a=1&b=2", n, g)
      val uri2 = format_string("https://site%d.example.com/q/%d", n, g)
      val p0 = encode(col("text"), "UTF-8")
      val p1 = encode(concat(col("text"), lit(" v2")), "UTF-8")
      val p2 = encode(format_string("other %d", g), "UTF-8")
      val blob = Warc.concatBlobs(array(
        Warc.record(g * 3, uri0, p0),
        Warc.record(g * 3 + 1, uri1, p1),
        Warc.record(g * 3 + 2, uri2, p2)))
      tSpread(s, d, "documents")
        .select(g.as("g"), blob.as("blob"))
        .select(explode(Cdx.indexUdf(col("blob"))).as("e"))
        .select(col("e._1").as("cdx_id"), col("e._3").as("urlkey"),
          col("e._4").as("rec_offset"), col("e._5").as("rec_len"),
          col("e._6").as("digest"))
        .orderBy(col("cdx_id"))
    }, oracle =
      // CDX replay: every member's byte extent restated from the WARC
      // framing arithmetic — 104 fixed framing bytes (magic + 3 fixed
      // headers + separators + trailing CRLFCRLF) plus the id digits,
      // the uri length, the Content-Length digits, and the payload
      // itself; offsets are the running sum. The urlkey states the SURT
      // collapse: both /p/ spellings key identically.
      """WITH m AS (
        | SELECT doc_id AS g, CAST(doc_id % 50 AS VARCHAR) AS n,
        |   octet_length(encode(text)) AS pl0, text
        | FROM documents),
        |l AS (
        | SELECT g, n, text, pl0,
        |  104 + length(CAST(g*3 AS VARCHAR))
        |      + length('https://www.site' || n || '.example.com:443/p/'
        |          || CAST(g AS VARCHAR) || '?b=2&a=1')
        |      + length(CAST(pl0 AS VARCHAR)) + pl0 AS len0,
        |  104 + length(CAST(g*3+1 AS VARCHAR))
        |      + length('http://site' || n || '.example.com/p/'
        |          || CAST(g AS VARCHAR) || '?a=1&b=2')
        |      + length(CAST(pl0+3 AS VARCHAR)) + pl0 + 3 AS len1,
        |  104 + length(CAST(g*3+2 AS VARCHAR))
        |      + length('https://site' || n || '.example.com/q/'
        |          || CAST(g AS VARCHAR))
        |      + length(CAST(6 + length(CAST(g AS VARCHAR)) AS VARCHAR))
        |      + 6 + length(CAST(g AS VARCHAR)) AS len2
        | FROM m),
        |x AS (SELECT unnest([0, 1, 2]) AS k)
        |SELECT g*3 + k AS cdx_id,
        | CASE WHEN k = 2
        |   THEN 'com,example,site' || n || ')/q/' || CAST(g AS VARCHAR)
        |   ELSE 'com,example,site' || n || ')/p/' || CAST(g AS VARCHAR)
        |     || '?a=1&b=2' END AS urlkey,
        | CAST(CASE k WHEN 0 THEN 0 WHEN 1 THEN len0
        |   ELSE len0 + len1 END AS BIGINT) AS rec_offset,
        | CAST(CASE k WHEN 0 THEN len0 WHEN 1 THEN len1
        |   ELSE len2 END AS BIGINT) AS rec_len,
        | CASE k WHEN 0 THEN md5(text) WHEN 1 THEN md5(text || ' v2')
        |   ELSE md5('other ' || CAST(g AS VARCHAR)) END AS digest
        |FROM l, x
        |ORDER BY cdx_id""".stripMargin),

    // ---- latest-capture + revisit audit on the index grain: per
    // urlkey, which capture is current (max id = newest) and how many
    // captures were revisits (same payload digest as an earlier
    // capture of the same key — CDX's revisit semantics, the dedup
    // that makes archives affordable). Every doc's /p/ page has two
    // captures; a third of them (g%3==0) didn't change between
    // crawls, so the second capture is a revisit. Runs ENTIRELY on
    // the index — no payload is touched, which is the point ----
    QuerySpec("q322_cdx_latest", (s, d) => {
      import graft.ingest.{Cdx, Warc}
      val g = col("doc_id")
      val n = col("doc_id") % 50
      val uri0 = format_string(
        "https://WWW.Site%d.example.com:443/P/%d?b=2&a=1", n, g)
      val uri1 = format_string(
        "http://site%d.example.com/p/%d?a=1&b=2", n, g)
      val uri2 = format_string("https://site%d.example.com/q/%d", n, g)
      val p0 = encode(col("text"), "UTF-8")
      val p1 = when(g % 3 === 0, p0)
        .otherwise(encode(concat(col("text"), lit(" v2")), "UTF-8"))
      val p2 = encode(format_string("other %d", g), "UTF-8")
      val blob = Warc.concatBlobs(array(
        Warc.record(g * 3, uri0, p0),
        Warc.record(g * 3 + 1, uri1, p1),
        Warc.record(g * 3 + 2, uri2, p2)))
      tSpread(s, d, "documents")
        .select(g.as("g"), blob.as("blob"))
        .select(explode(Cdx.indexUdf(col("blob"))).as("e"))
        .groupBy(col("e._3").as("urlkey"))
        .agg(count(lit(1)).as("n_captures"),
          (count(lit(1)) - countDistinct(col("e._6"))).as("n_revisits"),
          max(col("e._1")).as("latest_id"),
          expr("max_by(e._6, e._1)").as("latest_digest"))
        .orderBy(col("urlkey"))
    }, oracle =
      // latest/revisit replay: the /p/ key always has 2 captures whose
      // second is a revisit exactly when g%3=0 (payload unchanged); the
      // /q/ key has one capture, never a revisit.
      """WITH m AS (SELECT doc_id AS g, CAST(doc_id % 50 AS VARCHAR) AS n,
        |  text FROM documents)
        |SELECT 'com,example,site' || n || ')/p/' || CAST(g AS VARCHAR)
        |   || '?a=1&b=2' AS urlkey,
        | CAST(2 AS BIGINT) AS n_captures,
        | CAST(CASE WHEN g % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |   AS n_revisits,
        | g*3 + 1 AS latest_id,
        | CASE WHEN g % 3 = 0 THEN md5(text)
        |   ELSE md5(text || ' v2') END AS latest_digest
        |FROM m
        |UNION ALL
        |SELECT 'com,example,site' || n || ')/q/' || CAST(g AS VARCHAR),
        | CAST(1 AS BIGINT), CAST(0 AS BIGINT), g*3 + 2,
        | md5('other ' || CAST(g AS VARCHAR))
        |FROM m
        |ORDER BY urlkey""".stripMargin),

    // ---- crawl-epoch delta from two CDX files: the diff every
    // incremental crawl starts from — what's new, gone, changed,
    // unchanged since last time, decided by digest comparison on the
    // index grain (q314's revalidation tells you what a 304 SAVED;
    // this tells you what to schedule at all). Epoch 1 misses g%5==4
    // (those are 'new'), epoch 2 misses g%5==0 ('gone'), g%5==1
    // changed content. One shuffle join at index grain (~60 B/row) —
    // deliberately NOT broadcast: both sides scale with the archive ----
    QuerySpec("q323_crawl_delta", (s, d) => {
      import graft.ingest.{Cdx, Warc}
      val docs = tSpread(s, d, "documents")
      val g = col("doc_id")
      val a = col("doc_id") % 5
      val uri = format_string("https://site%d.example.com/d/%d",
        col("doc_id") % 50, g)
      val e1 = docs.filter(a =!= 4)
        .select(explode(Cdx.indexUdf(
          Warc.record(g, uri, encode(col("text"), "UTF-8")))).as("e"))
        .select(col("e._3").as("urlkey"), col("e._6").as("e1_digest"))
      val e2 = docs.filter(a =!= 0)
        .select(explode(Cdx.indexUdf(Warc.record(g, uri,
          encode(when(a === 1, concat(col("text"), lit(" v2")))
            .otherwise(col("text")), "UTF-8")))).as("e"))
        .select(col("e._3").as("urlkey"), col("e._6").as("e2_digest"))
      e1.join(e2, Seq("urlkey"), "full_outer")
        .select(col("urlkey"), col("e1_digest"), col("e2_digest"),
          when(col("e1_digest").isNull, lit("new"))
            .when(col("e2_digest").isNull, lit("gone"))
            .when(col("e1_digest") === col("e2_digest"), lit("unchanged"))
            .otherwise(lit("changed")).as("status"))
        .orderBy(col("urlkey"))
    }, oracle =
      // epoch-delta replay: membership and digests stated from the
      // generator arms — a=4 absent from epoch 1 (new), a=0 absent from
      // epoch 2 (gone), a=1 re-captured with changed content.
      """WITH d AS (SELECT doc_id AS g, CAST(doc_id % 50 AS VARCHAR) AS n,
        |  CAST(doc_id % 5 AS INT) AS a, text FROM documents)
        |SELECT 'com,example,site' || n || ')/d/' || CAST(g AS VARCHAR)
        |   AS urlkey,
        | CASE WHEN a = 4 THEN NULL ELSE md5(text) END AS e1_digest,
        | CASE WHEN a = 0 THEN NULL WHEN a = 1 THEN md5(text || ' v2')
        |   ELSE md5(text) END AS e2_digest,
        | CASE WHEN a = 4 THEN 'new' WHEN a = 0 THEN 'gone'
        |   WHEN a = 1 THEN 'changed' ELSE 'unchanged' END AS status
        |FROM d ORDER BY urlkey""".stripMargin),

    // ---- anchor-text index: what OTHER pages call a target — the
    // classic link-signal aggregation (search ranking's oldest
    // feature, and a quality signal LLM curation borrows). The full
    // chain per anchor: extract (href, text) → RFC 3986 resolve
    // against the linking page → canon (tracking params off) → SURT
    // (capture key) → group by target. Texts exercise entity decode
    // ('skip &amp; go'), nested-markup strip ('<b>bold</b>\n link'),
    // and dot-segment resolution ('../p/N#s'); two spellings of the
    // same target (plain and utm-tracked) must land on ONE key.
    // Shuffle on the target key only — anchor rows are tiny ----
    QuerySpec("q324_anchor_index", (s, d) => {
      import graft.extract.Outlinks
      import graft.ingest.Cdx
      import graft.text.{UrlCanon, UrlResolve}
      val g = col("doc_id")
      val base = format_string("https://www.example.com/p/%d", g)
      val html = format_string(
        "<html><body><a href=\"/p/%d\">next page</a>" +
          "<a href=\"/p/%d?utm_source=x&amp;fbclid=z\">continue</a>" +
          "<a href=\"../p/%d#s\">skip &amp; go</a>" +
          "<p><a href=\"/p/%d\"><b>bold</b>\n link</a></p></body></html>",
        g + 1, g + 1, g + 2, g + 3)
      tSpread(s, d, "documents")
        .select(g.as("g"), base.as("base"), html.as("html"))
        .select(col("g"), col("base"),
          explode(Outlinks.anchorsUdf(col("html"))).as("a"))
        .select(col("g"),
          Cdx.surtUdf(UrlCanon.canon(
            UrlResolve.resolveUdf(col("base"), col("a._1")))).as("urlkey"),
          col("a._2").as("txt"))
        .groupBy(col("urlkey"))
        .agg(count(lit(1)).as("n_anchors"),
          countDistinct(col("g")).as("n_linkers"),
          concat_ws("|", sort_array(collect_set(col("txt")))).as("texts"))
        .orderBy(col("urlkey"))
    }, oracle =
      // anchor-index replay: each doc's four anchors restated as
      // (target, text) contributions — t gets 'next page'+'continue'
      // from t-1 (the utm spelling collapses onto the same key),
      // 'skip & go' from t-2, 'bold link' from t-3.
      """WITH d AS (SELECT doc_id AS g FROM documents),
        |c AS (
        | SELECT g, g + 1 AS t, 'next page' AS txt FROM d
        | UNION ALL SELECT g, g + 1, 'continue' FROM d
        | UNION ALL SELECT g, g + 2, 'skip & go' FROM d
        | UNION ALL SELECT g, g + 3, 'bold link' FROM d)
        |SELECT 'com,example)/p/' || CAST(t AS VARCHAR) AS urlkey,
        | count(*) AS n_anchors,
        | CAST(count(DISTINCT g) AS BIGINT) AS n_linkers,
        | string_agg(DISTINCT txt, '|' ORDER BY txt) AS texts
        |FROM c GROUP BY t ORDER BY urlkey""".stripMargin),

    // ---- the archive connector under the oracle gate: build a real
    // 16-shard WARC archive from the corpus (members packed per shard
    // in id order), index it with WarcArchive.indexShards, then read
    // ONE site section back THROUGH graft.sources.WarcArchiveSource
    // with a urlkey-prefix pushdown — the connector's seek path, its
    // sidecar build, and the SURT keying all sit between the corpus
    // and the answer, and the oracle replays every member's offset as
    // a per-shard running sum of the WARC framing arithmetic. A drift
    // in shard packing, sidecar indexing, pushdown pruning, or seek
    // framing shifts rows or hashes ----
    QuerySpec("q325_archive_section", (s, d) => {
      import graft.ingest.Warc
      import graft.sources.WarcArchive
      val g = col("doc_id")
      val uri = format_string("https://site%d.example.com/p/%d",
        g % 50, g)
      val member = Warc.record(g, uri, encode(col("text"), "UTF-8"))
      val shards = tSpread(s, d, "documents")
        .select((g % 16).as("shard"),
          struct(g.as("id"), member.as("m")).as("sm"))
        .groupBy(col("shard"))
        .agg(Warc.concatBlobs(transform(
          sort_array(collect_list(col("sm"))), x => x("m"))).as("blob"))
        .collect()
      val dir = java.nio.file.Files
        .createTempDirectory("graft-q325-archive").toString
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/shards"))
      shards.foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(
            f"$dir/shards/shard-${r.getLong(0)}%02d.warc"),
          r.getAs[Array[Byte]](1))
      }
      WarcArchive.indexShards(s, dir)
      s.read.format("graft.sources.WarcArchiveSource")
        .option("path", dir).load()
        .filter(col("urlkey").startsWith("com,example,site7)"))
        .select(col("id").as("doc_id"), col("urlkey"),
          col("rec_offset"), col("rec_len"),
          md5(col("payload")).as("body_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // archive-section replay: member lengths from the WARC framing
      // arithmetic, offsets as per-shard running sums in id order (the
      // packing order the generator uses), site-7 membership from the
      // uri formula. The Spark side reads these THROUGH the connector's
      // sidecar + seek path; this restates them from documents alone.
      """WITH m AS (
        | SELECT doc_id AS g, CAST(doc_id % 50 AS VARCHAR) AS n,
        |   CAST(doc_id % 16 AS INT) AS shard,
        |   octet_length(encode(text)) AS pl, text
        | FROM documents),
        |l AS (
        | SELECT g, n, shard, pl, text,
        |  104 + length(CAST(g AS VARCHAR))
        |      + length('https://site' || n || '.example.com/p/'
        |          || CAST(g AS VARCHAR))
        |      + length(CAST(pl AS VARCHAR)) + pl AS len
        | FROM m),
        |o AS (
        | SELECT g, n, len, text,
        |  COALESCE(SUM(len) OVER (PARTITION BY shard ORDER BY g
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS rec_offset
        | FROM l)
        |SELECT g AS doc_id,
        | 'com,example,site' || n || ')/p/' || CAST(g AS VARCHAR)
        |   AS urlkey,
        | CAST(rec_offset AS BIGINT) AS rec_offset,
        | CAST(len AS BIGINT) AS rec_len,
        | md5(text) AS body_md5
        |FROM o WHERE n = '7'
        |ORDER BY doc_id""".stripMargin),

    // ---- content negotiation with the MODERN codec set: zstd (RFC
    // 8878 — what Common Crawl's index and every 2024+ CDN actually
    // ship) joins gzip and identity on the Content-Encoding rung.
    // Five arms: zstd and gzip round-trip to the same text as
    // identity; a corrupt zstd frame NULL-dispatches; and the
    // MISLABELED arm — valid zstd bytes under a gzip header — must
    // NULL out too (the decoder believes the header, not the magic:
    // trusting sniffed magic over the declared encoding would mask
    // real server bugs the crawl needs to surface) ----
    QuerySpec("q326_encoding_negotiation", (s, d) => {
      import graft.ingest.{CharsetSniff, HttpMessage}
      import graft.text.{GzipText, ZstdText}
      val arm = col("doc_id") % 5
      val gz = udf { (s0: String) => GzipText.gzipBytes(s0) }
      val zs = udf { (s0: String) => ZstdText.zstdBytes(s0) }
      // zstd magic (28 B5 2F FD little-endian) over garbage
      val corrupt = concat(lit(Array[Byte](0x28.toByte, 0xB5.toByte,
        0x2F.toByte, 0xFD.toByte)), encode(lit("corrupt"), "UTF-8"))
      val body = when(arm === 0, zs(col("text")))
        .when(arm === 1, gz(col("text")))
        .when(arm === 2, encode(col("text"), "UTF-8"))
        .when(arm === 3, corrupt)
        .otherwise(zs(col("text"))) // arm 4: zstd bytes, gzip header
      val enc = when(arm === 1 || arm === 4, lit("gzip"))
        .when(arm === 2, lit("identity"))
        .otherwise(lit("zstd"))
      val headers = map(
        lit("Content-Type"), lit("text/html; charset=utf-8"),
        lit("Content-Encoding"), enc)
      val payload = HttpMessage.writeWithHeadersUdf(lit(200), lit("OK"),
        headers, body, lit(false))
      tSpread(s, d, "documents")
        .select(col("doc_id"), HttpMessage.parseUdf(payload).as("h"))
        .select(col("doc_id"),
          expr("h._2['content-encoding']").as("encoding"),
          when(expr("h._2['content-encoding']") === "gzip",
            GzipText.gunzip(col("h._3")))
            .when(expr("h._2['content-encoding']") === "zstd",
              ZstdText.unzstd(col("h._3")))
            .otherwise(CharsetSniff.decodeUdf(
              expr("h._2['content-type']"), col("h._3"))).as("content"))
        .select(col("doc_id"), col("encoding"),
          col("content").isNotNull.as("decoded"),
          length(col("content")).cast("bigint").as("n_chars"),
          md5(encode(col("content"), "UTF-8")).as("content_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // negotiation replay: arms 0-2 decode to the text, the corrupt
      // frame and the zstd-under-gzip-header arm both NULL out.
      """SELECT doc_id,
        | CASE CAST(doc_id % 5 AS INT)
        |  WHEN 1 THEN 'gzip' WHEN 4 THEN 'gzip'
        |  WHEN 2 THEN 'identity' ELSE 'zstd' END AS encoding,
        | CAST(doc_id % 5 AS INT) <= 2 AS decoded,
        | CASE WHEN CAST(doc_id % 5 AS INT) <= 2
        |   THEN CAST(length(text) AS BIGINT) ELSE NULL END AS n_chars,
        | CASE WHEN CAST(doc_id % 5 AS INT) <= 2
        |   THEN md5(text) ELSE NULL END AS content_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // ---- the archive REFRESH loop composed in one plan — what an
    // incremental crawl actually does to its archive: epoch-1 CDX
    // state + epoch-2 observations → delta (q323) → fetch ONLY
    // new/changed (an unchanged page is the 304 skip — no new
    // capture, the q314 saving realized at archive grain) → appended
    // captures under fresh ids (captures are immutable; the id-offset
    // append is q320's epoch discipline) → the NEXT latest-capture
    // state per urlkey, with gone pages tombstoned rather than
    // silently dropped. Runs entirely on index grain; the single
    // full-outer join is the q323 shape ----
    QuerySpec("q327_archive_refresh", (s, d) => {
      import graft.ingest.{Cdx, Warc}
      val docs = tSpread(s, d, "documents")
      val g = col("doc_id")
      val a = col("doc_id") % 5
      val uri = format_string("https://site%d.example.com/d/%d",
        col("doc_id") % 50, g)
      val e1 = docs.filter(a =!= 4)
        .select(explode(Cdx.indexUdf(
          Warc.record(g, uri, encode(col("text"), "UTF-8")))).as("e"))
        .select(col("e._3").as("urlkey"), col("e._1").as("e1_id"),
          col("e._6").as("e1_digest"))
      val e2 = docs.filter(a =!= 0)
        .select(g.as("g2"), explode(Cdx.indexUdf(Warc.record(
          g + 10000000L, uri,
          encode(when(a === 1, concat(col("text"), lit(" v2")))
            .otherwise(col("text")), "UTF-8")))).as("e"))
        .select(col("e._3").as("urlkey"), col("e._1").as("e2_id"),
          col("e._6").as("e2_digest"))
      e1.join(e2, Seq("urlkey"), "full_outer")
        .select(col("urlkey"), col("e1_id"), col("e1_digest"),
          col("e2_id"), col("e2_digest"),
          when(col("e1_digest").isNull, lit("new"))
            .when(col("e2_digest").isNull, lit("gone"))
            .when(col("e1_digest") === col("e2_digest"),
              lit("unchanged"))
            .otherwise(lit("changed")).as("status"))
        .select(col("urlkey"), col("status"),
          // fetched = a new capture was appended (new/changed only)
          (col("status") === "new" || col("status") === "changed")
            .as("fetched"),
          // the archive's next latest state: unchanged keeps the
          // epoch-1 capture (304 — nothing appended), new/changed
          // take the appended id, gone tombstones with NULLs
          when(col("status") === "unchanged", col("e1_id"))
            .when(col("status") === "gone", lit(null).cast("long"))
            .otherwise(col("e2_id")).as("latest_id"),
          when(col("status") === "unchanged", col("e1_digest"))
            .when(col("status") === "gone",
              lit(null).cast("string"))
            .otherwise(col("e2_digest")).as("latest_digest"))
        .orderBy(col("urlkey"))
    }, oracle =
      // refresh replay: status arms from the q323 formula; the next
      // latest state keeps the epoch-1 id for unchanged (the 304 —
      // nothing appended), takes the offset-appended id for
      // new/changed, and tombstones gone with NULLs.
      """WITH d AS (SELECT doc_id AS g,
        |  CAST(doc_id % 50 AS VARCHAR) AS n,
        |  CAST(doc_id % 5 AS INT) AS a, text FROM documents)
        |SELECT 'com,example,site' || n || ')/d/' || CAST(g AS VARCHAR)
        |   AS urlkey,
        | CASE WHEN a = 4 THEN 'new' WHEN a = 0 THEN 'gone'
        |   WHEN a = 1 THEN 'changed' ELSE 'unchanged' END AS status,
        | a IN (4, 1) AS fetched,
        | CASE WHEN a = 0 THEN NULL
        |   WHEN a IN (4, 1) THEN g + 10000000 ELSE g END AS latest_id,
        | CASE WHEN a = 0 THEN NULL
        |   WHEN a = 1 THEN md5(text || ' v2')
        |   ELSE md5(text) END AS latest_digest
        |FROM d ORDER BY urlkey""".stripMargin),

    // ---- WET derivation: the text-conversion sibling every WARC
    // archive publishes (Common Crawl's .wet files — WARC conversion
    // records holding extracted text, offset-id'd against their
    // response originals). The chain: response HTML → boilerplate
    // (link-dense nav dropped) → entity decode → RE-SERIALIZED as
    // conversion members → shard-packed → SPLIT BACK, and the output
    // reads from the round-tripped members, so the container write,
    // the member framing, and the extraction are all load-bearing —
    // a drift in any of them shifts every hash ----
    QuerySpec("q328_wet_derivation", (s, d) => {
      import graft.ingest.Warc
      import graft.extract.Boilerplate
      import graft.text.HtmlEntities
      val g = col("doc_id")
      val nav = "<div class=\"nav\"><a href=\"/\">home</a> " +
        "<a href=\"/a\">about</a> <a href=\"/c\">contact</a></div>"
      val html = concat(lit(nav + "<p>"), col("text"),
        lit(" x &amp; y</p>"))
      val uri = format_string("https://site%d.example.com/p/%d",
        g % 50, g)
      val convText = HtmlEntities.decodeUdf(
        Boilerplate.extractUdf(3)(html).getField("_3"))
      tSpread(s, d, "documents")
        .select((g % 8).as("shard"),
          struct((g + 50000000L).as("cid"),
            Warc.record(g + 50000000L, uri,
              encode(convText, "UTF-8")).as("m")).as("sm"))
        .groupBy(col("shard"))
        .agg(Warc.concatBlobs(transform(
          sort_array(collect_list(col("sm"))), x => x("m"))).as("blob"))
        .select(explode(Warc.splitUdf(col("blob"))).as("r"))
        .select((col("r._1") - 50000000L).as("doc_id"),
          col("r._2").as("uri"),
          length(decode(col("r._3"), "UTF-8")).cast("bigint")
            .as("n_chars"),
          md5(col("r._3")).as("text_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // WET replay: conversion text stated from the generator formula
      // (nav dropped by link density, the <p> block kept verbatim,
      // entities decoded) — the Spark side reads it back out of
      // round-tripped conversion members.
      """WITH c AS (SELECT doc_id AS g,
        |  CAST(doc_id % 50 AS VARCHAR) AS n,
        |  text || ' x & y' AS content FROM documents)
        |SELECT g AS doc_id,
        | 'https://site' || n || '.example.com/p/' || CAST(g AS VARCHAR)
        |   AS uri,
        | CAST(length(content) AS BIGINT) AS n_chars,
        | md5(content) AS text_md5
        |FROM c ORDER BY doc_id""".stripMargin),

    // ---- change-rate recrawl scheduling from capture history — the
    // Cho & Garcia-Molina result the CDX makes actionable: a page's
    // observed change rate across its captures estimates how often
    // re-fetching it pays. Four captures per page; consecutive-digest
    // changes (a WINDOW over the bounded 4-row capture grain, never
    // the corpus) bucket each urlkey hot/warm/cold — the priority the
    // frontier's politeness waves consume. Four deterministic change
    // patterns (never / always / once / twice) pin the arithmetic ----
    QuerySpec("q329_change_rate", (s, d) => {
      import graft.ingest.{Cdx, Warc}
      import org.apache.spark.sql.expressions.Window
      val g = col("doc_id")
      val a = col("doc_id") % 4
      val uri = format_string("https://site%d.example.com/d/%d",
        col("doc_id") % 50, g)
      def body(k: Int) = {
        val c = lit(k)
        when(a === 0, col("text"))
          .when(a === 1, concat(col("text"), lit(" v"), c))
          .when(a === 2,
            when(c >= 2, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
          .otherwise( // a=3: d e e f
            when(c === 0, col("text"))
              .when(c === 3, concat(col("text"), lit(" v3")))
              .otherwise(concat(col("text"), lit(" v1"))))
      }
      val blob = Warc.concatBlobs(array((0 until 4).map(k =>
        Warc.record(g * 4 + k, uri, encode(body(k), "UTF-8"))): _*))
      val w = Window.partitionBy(col("urlkey")).orderBy(col("id"))
      tSpread(s, d, "documents")
        .select(blob.as("blob"))
        .select(explode(Cdx.indexUdf(col("blob"))).as("e"))
        .select(col("e._3").as("urlkey"), col("e._1").as("id"),
          col("e._6").as("digest"))
        .withColumn("changed",
          when(lag(col("digest"), 1).over(w).isNull, lit(0))
            .when(lag(col("digest"), 1).over(w) =!= col("digest"),
              lit(1))
            .otherwise(lit(0)))
        .groupBy(col("urlkey"))
        .agg(count(lit(1)).as("n_captures"),
          sum(col("changed")).cast("bigint").as("n_changes"))
        .select(col("urlkey"), col("n_captures"), col("n_changes"),
          // integer basis points (PLANS.md output-typing contract)
          (col("n_changes") * 10000 / (col("n_captures") - 1))
            .cast("bigint").as("rate_bp"),
          when(col("n_changes") >= 2, lit("hot"))
            .when(col("n_changes") === 1, lit("warm"))
            .otherwise(lit("cold")).as("bucket"))
        .orderBy(col("urlkey"))
    }, oracle =
      // change-rate replay: the four deterministic patterns (never /
      // always / once / twice) state n_changes directly.
      """WITH d AS (SELECT doc_id AS g,
        |  CAST(doc_id % 50 AS VARCHAR) AS n,
        |  CAST(doc_id % 4 AS INT) AS a FROM documents),
        |c AS (SELECT g, n,
        |  CASE a WHEN 0 THEN 0 WHEN 1 THEN 3 WHEN 2 THEN 1
        |    ELSE 2 END AS n_changes
        | FROM d)
        |SELECT 'com,example,site' || n || ')/d/' || CAST(g AS VARCHAR)
        |   AS urlkey,
        | CAST(4 AS BIGINT) AS n_captures,
        | CAST(n_changes AS BIGINT) AS n_changes,
        | CAST(n_changes * 10000 // 3 AS BIGINT) AS rate_bp,
        | CASE WHEN n_changes >= 2 THEN 'hot'
        |   WHEN n_changes = 1 THEN 'warm' ELSE 'cold' END AS bucket
        |FROM c ORDER BY urlkey""".stripMargin),

    // ---- URL-parameter significance mining — learning the canon
    // rules instead of hard-coding them: a param is STRIPPABLE when,
    // across all capture groups that differ ONLY in that param's
    // value, the content digest never changes (session ids), and
    // SIGNIFICANT when it does (real routing params). The evidence
    // grain is (context, param) where context = path + the OTHER
    // params — the classic crawler-dedup mining that turns the
    // capture index into better URL canonicalization. Here `sid`
    // varies twice per page with identical digests (strippable) and
    // `p` varies once with differing digests (significant) ----
    QuerySpec("q330_param_mining", (s, d) => {
      import graft.ingest.{Cdx, Warc}
      val g = col("doc_id")
      val n = col("doc_id") % 50
      def uri(q: String) = format_string(
        "https://site%d.example.com/i/%d" + q, n, g)
      def body(p: Int) =
        encode(concat(col("text"), lit(" p" + p)), "UTF-8")
      val blob = Warc.concatBlobs(array(
        Warc.record(g * 4, uri("?p=1&sid=aaa"), body(1)),
        Warc.record(g * 4 + 1, uri("?p=1&sid=bbb"), body(1)),
        Warc.record(g * 4 + 2, uri("?p=2&sid=aaa"), body(2)),
        Warc.record(g * 4 + 3, uri("?p=2&sid=ccc"), body(2))))
      tSpread(s, d, "documents")
        .select(blob.as("blob"))
        .select(explode(Cdx.indexUdf(col("blob"))).as("e"))
        .select(col("e._2").as("uri"), col("e._6").as("digest"))
        .select(col("digest"),
          substring_index(col("uri"), "?", 1).as("page"),
          split(substring_index(col("uri"), "?", -1), "&").as("params"))
        .select(col("page"), col("digest"), col("params"),
          explode(col("params")).as("kv"))
        .select(col("digest"),
          substring_index(col("kv"), "=", 1).as("param"),
          substring_index(col("kv"), "=", -1).as("value"),
          concat(col("page"), lit("?"), concat_ws("&",
            sort_array(array_remove(col("params"), col("kv")))))
            .as("context"))
        .groupBy(col("context"), col("param"))
        .agg(countDistinct(col("value")).as("n_vals"),
          countDistinct(col("digest")).as("n_digs"))
        .filter(col("n_vals") > 1)
        .withColumn("host", regexp_extract(col("context"),
          "https://site(\\d+)\\.", 1).cast("bigint"))
        .groupBy(col("host"), col("param"))
        .agg(count(lit(1)).as("n_varying"),
          sum(when(col("n_digs") === 1, 1L).otherwise(0L))
            .cast("bigint").as("n_clean"))
        .withColumn("strippable", col("n_clean") === col("n_varying"))
        .orderBy(col("host"), col("param"))
    }, oracle =
      // param-mining replay: per host with cnt pages, `sid` yields two
      // clean varying groups per page (p=1 and p=2 contexts), `p` one
      // dirty varying group (only sid=aaa pairs across p values).
      """WITH h AS (SELECT CAST(doc_id % 50 AS BIGINT) AS host,
        |  count(*) AS cnt FROM documents GROUP BY 1)
        |SELECT host, 'p' AS param, CAST(cnt AS BIGINT) AS n_varying,
        | CAST(0 AS BIGINT) AS n_clean, false AS strippable FROM h
        |UNION ALL
        |SELECT host, 'sid', CAST(2 * cnt AS BIGINT),
        | CAST(2 * cnt AS BIGINT), true FROM h
        |ORDER BY host, param""".stripMargin),

    // ---- archive repack (GC) end-to-end: the VACUUM that closes the
    // archive lifecycle — build an archive holding epoch-1 captures
    // plus q327's appended refreshes, then WarcArchive.repack keeps
    // only each page's latest capture, drops the tombstoned (gone)
    // pages, rewrites fresh shards id-sorted, and REBUILDS the
    // sidecar. The output reads from the rebuilt sidecar, so the
    // latest-pick window, the tombstone anti-join, the re-serialize,
    // and the re-index are all load-bearing — the oracle restates
    // every post-repack extent from the framing arithmetic ----
    QuerySpec("q331_archive_repack", (s, d) => {
      import graft.ingest.Warc
      import graft.sources.WarcArchive
      val g = col("doc_id")
      val a = col("doc_id") % 5
      val uri = format_string("https://site%d.example.com/d/%d",
        col("doc_id") % 50, g)
      // source members per arm: epoch-1 capture (id=g) for a!=4, an
      // appended refresh (id=g+10M) for a in {1 changed, 4 new}
      val e1 = Warc.record(g, uri, encode(col("text"), "UTF-8"))
      val ap = Warc.record(g + 10000000L, uri,
        encode(when(a === 1, concat(col("text"), lit(" v2")))
          .otherwise(col("text")), "UTF-8"))
      val memberBlob = when(a === 1, Warc.concatBlobs(array(e1, ap)))
        .when(a === 4, ap)
        .otherwise(e1)
      val docs = tSpread(s, d, "documents")
      val srcShards = docs
        .select((g % 16).as("shard"),
          struct(g.as("i"), memberBlob.as("m")).as("sm"))
        .groupBy(col("shard"))
        .agg(Warc.concatBlobs(transform(
          sort_array(collect_list(col("sm"))), x => x("m"))).as("blob"))
        .collect()
      val src = java.nio.file.Files
        .createTempDirectory("graft-q331-src").toString
      val dst = java.nio.file.Files
        .createTempDirectory("graft-q331-dst").toString
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$src/shards"))
      srcShards.foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(
            f"$src/shards/shard-${r.getLong(0)}%02d.warc"),
          r.getAs[Array[Byte]](1))
      }
      WarcArchive.indexShards(s, src)
      val tombstones = docs.filter(a === 0)
        .select(format_string("com,example,site%d)/d/%d",
          col("doc_id") % 50, g).as("urlkey"))
      WarcArchive.repack(s, src, dst,
        pmod(regexp_extract(col("uri"), "/d/(\\d+)", 1).cast("bigint"),
          lit(8)),
        Some(tombstones))
      WarcArchive.cdx(s, dst)
        .select(col("urlkey"), col("id").as("kept_id"),
          col("rec_offset"), col("rec_len"), col("digest"))
        .orderBy(col("kept_id"))
    }, oracle =
      // repack replay: kept set = non-tombstoned pages at their latest
      // capture; every post-repack extent restated from the framing
      // arithmetic with offsets as per-shard (g%8) running sums in
      // kept-id order — the order repack packs.
      """WITH k AS (
        | SELECT doc_id AS g, CAST(doc_id % 50 AS VARCHAR) AS n,
        |  CAST(doc_id % 5 AS INT) AS a, text,
        |  octet_length(encode(text)) AS pl0
        | FROM documents WHERE CAST(doc_id % 5 AS INT) <> 0),
        |m AS (
        | SELECT g, n, a, text,
        |  CASE WHEN a IN (1, 4) THEN g + 10000000 ELSE g END AS kept_id,
        |  CASE WHEN a = 1 THEN pl0 + 3 ELSE pl0 END AS pl
        | FROM k),
        |l AS (
        | SELECT g, n, a, text, kept_id, pl,
        |  104 + length(CAST(kept_id AS VARCHAR))
        |      + length('https://site' || n || '.example.com/d/'
        |          || CAST(g AS VARCHAR))
        |      + length(CAST(pl AS VARCHAR)) + pl AS len
        | FROM m),
        |o AS (
        | SELECT g, n, a, text, kept_id, len,
        |  COALESCE(SUM(len) OVER (PARTITION BY g % 8 ORDER BY kept_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS rec_offset
        | FROM l)
        |SELECT 'com,example,site' || n || ')/d/' || CAST(g AS VARCHAR)
        |   AS urlkey,
        | kept_id,
        | CAST(rec_offset AS BIGINT) AS rec_offset,
        | CAST(len AS BIGINT) AS rec_len,
        | CASE WHEN a = 1 THEN md5(text || ' v2')
        |   ELSE md5(text) END AS digest
        |FROM o ORDER BY kept_id""".stripMargin),
  )
}
