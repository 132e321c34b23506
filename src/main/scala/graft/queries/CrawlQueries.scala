package graft
package queries

import org.apache.spark.sql.functions._
import QueryHelpers._

/** Crawl queries: URL canonicalization, robots and sitemap handling,
  * redirects, politeness schedules and the crawl frontier. */
private[graft] object CrawlQueries {

  val specs: Seq[QuerySpec] = Seq(
    // ---- URL canonicalization dedup (the dedup grain ABOVE content:
    // the same logical page surfaces under scheme/host case, default
    // ports, fragments, tracking params, param order and trailing
    // slashes — here four messy variants per logical URL collapse to
    // ONE canonical key; the oracle computes that key straight from
    // the generator formula while the Spark side EARNS it by parsing
    // and normalizing the messy string. At 100 TB this is the cheapest
    // dedup in the pipeline: a projection over 100-byte keys before
    // any 100 KB document is fetched or hashed) ----
    QuerySpec("q288_url_canonical_dedup", (s, d) => {
      import graft.text.UrlCanon
      val g = expr("doc_id div 4")
      val k = g % 97
      val m = g % 7
      val v = col("doc_id") % 4
      // v0's path letter is %-encoded (%70 = 'p'): safe percent
      // decoding is part of what the oracle's clean formula earns
      val messy = when(v === 0, format_string(
          "http://www.Site%d.EXAMPLE.com/%%70/%d?b=%d&a=1#frag", k, g, m))
        .when(v === 1, format_string(
          "HTTP://www.site%d.example.com:80/p/%d?a=1&b=%d", k, g, m))
        .when(v === 2, format_string(
          "http://www.site%d.example.com/p/%d" +
            "?utm_source=feed&a=1&utm_campaign=x&b=%d", k, g, m))
        .otherwise(format_string(
          "http://www.site%d.example.com/p/%d/?a=1&b=%d", k, g, m))
      tSpread(s, d, "documents")
        .select(col("doc_id"), UrlCanon.canon(messy).as("u"))
        .groupBy(col("u"))
        .agg(count(lit(1)).as("n_dups"),
          min(col("doc_id")).as("min_doc_id"))
        .select(col("u").as("canonical_url"), col("n_dups"),
          col("min_doc_id"))
        .orderBy(col("canonical_url"))
    }, oracle =
      // canonical-URL replay: the oracle computes the canonical key
      // DIRECTLY from the variant generator's formula (doc_id div 4 is
      // the logical page); the Spark side earns the same key by parsing
      // and normalizing the four messy surface forms.
      """WITH c AS (SELECT doc_id, doc_id // 4 AS g FROM documents)
        |SELECT 'http://www.site' || (g % 97) || '.example.com/p/' || g
        |   || '?a=1&b=' || (g % 7) AS canonical_url,
        | CAST(count(*) AS BIGINT) AS n_dups,
        | min(doc_id) AS min_doc_id
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- registered-domain (eTLD+1) extraction: domain caps and
    // per-site crawl budgets group on "one more label than the longest
    // matching public suffix" (the publicsuffix.org algorithm), NOT on
    // the raw host — www./cdn.a. subdomains of one site must pool, and
    // multi-label suffixes must beat their single-label tails (the set
    // here contains both `uk` and `co.uk`, `io` and `github.io`, so a
    // shortest-match bug changes the key and fails the hash) ----
    QuerySpec("q291_registered_domain", (s, d) => {
      import graft.text.UrlCanon
      val suffixes = Set("com", "org", "net", "uk", "co.uk",
        "io", "github.io")
      val k = expr("doc_id div 3")
      val sub = element_at(array(lit(""), lit("www."), lit("cdn.a.")),
        (col("doc_id") % 3 + 1).cast("int"))
      val sfx = element_at(array(lit("com"), lit("co.uk"), lit("org"),
        lit("github.io")), (k % 4 + 1).cast("int"))
      val host = concat(sub, lit("site"), (k % 53).cast("string"),
        lit("."), sfx)
      tSpread(s, d, "documents")
        .select(col("doc_id"), host.as("host"))
        .select(col("doc_id"), col("host"),
          UrlCanon.registeredDomainUdf(suffixes)(col("host")).as("rd"))
        .groupBy(col("rd"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          min(col("doc_id")).as("min_doc_id"))
        .select(col("rd").as("registered_domain"), col("n_docs"),
          col("n_hosts"), col("min_doc_id"))
        .orderBy(col("registered_domain"))
    }, oracle =
      // registered-domain replay: the oracle computes eTLD+1 from the
      // generator formula; the Spark side earns it by longest-suffix
      // matching the host against a list containing both `uk`/`co.uk`
      // and `io`/`github.io` (shortest-match would change the key).
      """WITH h AS (SELECT doc_id, doc_id // 3 AS k,
        |  CAST(doc_id % 3 AS INT) AS v FROM documents),
        |f AS (SELECT doc_id,
        |  (CASE v WHEN 0 THEN '' WHEN 1 THEN 'www.' ELSE 'cdn.a.' END)
        |    || 'site' || (k % 53) || '.' ||
        |    (CASE CAST(k % 4 AS INT) WHEN 0 THEN 'com'
        |      WHEN 1 THEN 'co.uk' WHEN 2 THEN 'org'
        |      ELSE 'github.io' END) AS host,
        |  'site' || (k % 53) || '.' ||
        |    (CASE CAST(k % 4 AS INT) WHEN 0 THEN 'com'
        |      WHEN 1 THEN 'co.uk' WHEN 2 THEN 'org'
        |      ELSE 'github.io' END) AS rd
        | FROM h)
        |SELECT rd AS registered_domain,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        | min(doc_id) AS min_doc_id
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- robots.txt evaluation (the crawl-permission gate): per doc,
    // a synthetic robots body (host-stamped) is evaluated for agent
    // `graftbot` against one of five path shapes. The five verdicts
    // exercise the RFC 9309 rules naive evaluators get wrong — group
    // selection must NOT fall through to the deny-all `*` group when a
    // specific group exists (v0), longest-match must let a longer
    // Allow beat a shorter Disallow (v2), and `*`/`$` metacharacters
    // must match bytes, not be treated literally (v3 vs v4). The
    // oracle states each verdict from the generator formula; the
    // Spark side earns it through the full parse + evaluate path ----
    QuerySpec("q294_robots_gate", (s, d) => {
      import graft.ingest.Robots
      val h = expr("doc_id div 5")
      val robots = concat(lit("# host "), h, lit("\n"),
        lit("User-agent: graftbot\n" +
          "Disallow: /private/\n" +
          "Allow: /private/public*\n" +
          "Disallow: /data/*.json$\n" +
          "\n" +
          "User-agent: *\n" +
          "Disallow: /\n"))
      val v = col("doc_id") % 5
      val path = when(v === 0, format_string("/public/%d", h))
        .when(v === 1, format_string("/private/%d", h))
        .when(v === 2, format_string("/private/public%d", h))
        .when(v === 3, format_string("/data/%d.json", h))
        .otherwise(format_string("/data/%d.json2", h))
      tSpread(s, d, "documents")
        .select(col("doc_id"), path.as("path"),
          Robots.allowedUdf(robots, lit("graftbot"), path).as("allowed"))
        .orderBy(col("doc_id"))
    }, oracle =
      // robots replay: verdicts stated from the path-shape formula (v0
      // no rule matches -> allow; v1 Disallow prefix -> deny; v2 longer
      // Allow beats shorter Disallow -> allow; v3 wildcard+anchor
      // matches -> deny; v4 anchor blocks the suffix -> allow).
      """SELECT doc_id,
        | CASE CAST(doc_id % 5 AS INT)
        |  WHEN 0 THEN '/public/' || (doc_id // 5)
        |  WHEN 1 THEN '/private/' || (doc_id // 5)
        |  WHEN 2 THEN '/private/public' || (doc_id // 5)
        |  WHEN 3 THEN '/data/' || (doc_id // 5) || '.json'
        |  ELSE '/data/' || (doc_id // 5) || '.json2' END AS path,
        | (CAST(doc_id % 5 AS INT) IN (0, 2, 4)) AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- the crawl-funnel yield card: the q288/q294/q296 operators
    // COMPOSED end-to-end — canonical-URL dedup (keep each logical
    // page's first fetch), then the robots permission gate, then
    // block-level content extraction — with per-stage survivor counts
    // and bytes, the report every ingestion pipeline publishes. Each
    // stage is EARNED through the real operator (parse+groupBy+join,
    // rule evaluation, tag-scan density classify); the oracle states
    // each stage's survivors from the generator formulas the three
    // parent queries already pin ----
    QuerySpec("q298_crawl_funnel", (s, d) => {
      import graft.text.UrlCanon
      import graft.ingest.Robots
      import graft.extract.Boilerplate
      val docs0 = tSpread(s, d, "documents")
      // stage 1: canonical-URL dedup (q288's variants incl. %70)
      val g = expr("doc_id div 4")
      val k = g % 97
      val m = g % 7
      val v = col("doc_id") % 4
      val messy = when(v === 0, format_string(
          "http://www.Site%d.EXAMPLE.com/%%70/%d?b=%d&a=1#frag", k, g, m))
        .when(v === 1, format_string(
          "HTTP://www.site%d.example.com:80/p/%d?a=1&b=%d", k, g, m))
        .when(v === 2, format_string(
          "http://www.site%d.example.com/p/%d" +
            "?utm_source=feed&a=1&utm_campaign=x&b=%d", k, g, m))
        .otherwise(format_string(
          "http://www.site%d.example.com/p/%d/?a=1&b=%d", k, g, m))
      val keep1 = docs0.select(col("doc_id"), UrlCanon.canon(messy).as("u"))
        .groupBy(col("u")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val s1 = docs0.join(keep1, "doc_id")
      // stage 2: robots permission (q294's body and path shapes)
      val h5 = expr("doc_id div 5")
      val robots = concat(lit("# host "), h5, lit("\n"),
        lit("User-agent: graftbot\n" +
          "Disallow: /private/\n" +
          "Allow: /private/public*\n" +
          "Disallow: /data/*.json$\n" +
          "\n" +
          "User-agent: *\n" +
          "Disallow: /\n"))
      val v5 = col("doc_id") % 5
      val path = when(v5 === 0, format_string("/public/%d", h5))
        .when(v5 === 1, format_string("/private/%d", h5))
        .when(v5 === 2, format_string("/private/public%d", h5))
        .when(v5 === 3, format_string("/data/%d.json", h5))
        .otherwise(format_string("/data/%d.json2", h5))
      // stage 3: block-level content extraction (q296's 5-block page)
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
      // ONE corpus pass: per-doc stage flags, a single aggregate, a
      // stack unpivot — the 4-branch union form re-scanned the
      // lineage once per stage (measured 4.8x at 10x; this shape is
      // scan-once + the url groupBy/join shuffle + one 1-row agg)
      val flags = docs0
        .join(keep1.withColumn("u1", lit(true)), Seq("doc_id"), "left")
        .withColumn("u1", coalesce(col("u1"), lit(false)))
        .withColumn("ok2", col("u1") &&
          Robots.allowedUdf(robots, lit("graftbot"), path))
        .withColumn("ws", split(trim(col("text")), "\\s+"))
        .withColumn("h1",
          array_join(expr("slice(ws, 1, (size(ws) + 1) div 2)"), " "))
        .withColumn("h2", array_join(expr(
          "slice(ws, (size(ws) + 1) div 2 + 1, " +
            "size(ws) - (size(ws) + 1) div 2)"), " "))
        .withColumn("e",
          when(col("ok2"), Boilerplate.extractUdf()(html)))
        .select(octet_length(col("text")).cast("long").as("tb"),
          col("u1"), col("ok2"),
          (col("ok2") && col("e._2") >= 1).as("ok3"),
          when(col("ok2"), octet_length(col("e._3")).cast("long"))
            .otherwise(0L).as("kb"))
      flags.agg(
          count(lit(1)).as("n1"), sum(col("tb")).as("b1"),
          sum(when(col("u1"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("u1"), col("tb")).otherwise(0L)).as("b2"),
          sum(when(col("ok2"), 1L).otherwise(0L)).as("n3"),
          sum(when(col("ok2"), col("tb")).otherwise(0L)).as("b3"),
          sum(when(col("ok3"), 1L).otherwise(0L)).as("n4"),
          sum(when(col("ok3"), col("kb")).otherwise(0L)).as("b4"))
        .selectExpr("stack(4, " +
          "1L, 'fetched', n1, b1, " +
          "2L, 'url_unique', n2, b2, " +
          "3L, 'robots_allowed', n3, b3, " +
          "4L, 'content_extracted', n4, b4) " +
          "AS (stage, name, n_docs, n_bytes)")
        .orderBy(col("stage"))
    }, oracle =
      // funnel replay: stage survivors stated from the three parent
      // queries' pinned formulas — url-unique = each div-4 group's min
      // (contiguous ids => doc_id % 4 = 0), robots-allowed = path shape
      // in (0,2,4), content = at least one half clears the 10-word bar;
      // stage-4 bytes are the kept halves joined by newline.
      """WITH w AS (SELECT doc_id, text,
        |  regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |f AS (SELECT doc_id, text, ws, len(ws) AS n,
        |  (len(ws) + 1) // 2 AS k,
        |  len(ws) - (len(ws) + 1) // 2 AS k2,
        |  doc_id % 4 = 0 AS u1,
        |  (doc_id % 4 = 0)
        |    AND (CAST(doc_id % 5 AS INT) IN (0, 2, 4)) AS u2
        | FROM w),
        |sel AS (SELECT doc_id, u1, u2,
        |  CASE WHEN k >= 10 AND k2 >= 10
        |    THEN array_to_string(ws[1:k], ' ') || chr(10)
        |      || array_to_string(ws[k+1:n], ' ')
        |   WHEN k >= 10 THEN array_to_string(ws[1:k], ' ')
        |   WHEN k2 >= 10 THEN array_to_string(ws[k+1:n], ' ')
        |   ELSE '' END AS kept,
        |  (CASE WHEN k >= 10 THEN 1 ELSE 0 END
        |    + CASE WHEN k2 >= 10 THEN 1 ELSE 0 END) AS n_kept,
        |  octet_length(encode(text)) AS tb
        | FROM f)
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS stage, 'fetched' AS name,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(tb), 0) AS BIGINT) AS n_bytes FROM sel
        | UNION ALL
        | SELECT 2, 'url_unique', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(tb), 0) AS BIGINT) FROM sel WHERE u1
        | UNION ALL
        | SELECT 3, 'robots_allowed', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(tb), 0) AS BIGINT) FROM sel WHERE u2
        | UNION ALL
        | SELECT 4, 'content_extracted', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(octet_length(encode(kept))), 0) AS BIGINT)
        | FROM sel WHERE u2 AND n_kept >= 1
        |) ORDER BY stage""".stripMargin),

    // ---- sitemap frontier coverage: per host (div-10 of doc_id), a
    // root <sitemapindex> fans out to two child urlsets advertising
    // pages 0-4 and 5-8 of the host's ten; the crawl fetched pages
    // {0..5, 9}. Exercises index expansion, loc unescape (&amp; in
    // the advertised query string must become '&' BEFORE the param
    // split strips utm_*/fbclid), and the canonical-URL join against
    // the crawl — q288's dedup grain as the audit key. Coverage
    // counts per host are the frontier report every crawl publishes ----
    QuerySpec("q301_sitemap_coverage", (s, d) => {
      import graft.ingest.Sitemap
      import graft.text.UrlCanon
      val docs = tSpread(s, d, "documents")
      val hosts = docs.select(expr("doc_id div 10").as("h")).distinct()
      // third child is a CROSS-HOST decoy: the same-host guard must
      // drop it (followed, it would double the page-0..4 adverts and
      // break every n_advertised below — the card fails loudly if the
      // guard disappears)
      val root = format_string(
        "<sitemapindex><sitemap><loc>https://site%d.example.com/sm-0.xml" +
          "</loc></sitemap><sitemap><loc>https://site%d.example.com/sm-1.xml" +
          "</loc></sitemap><sitemap><loc>https://evil.example.com/sm-0.xml" +
          "</loc></sitemap></sitemapindex>", col("h"), col("h"))
      val parent = format_string(
        "https://site%d.example.com/sitemap.xml", col("h"))
      val withChild = hosts
        .select(col("h"),
          explode(Sitemap.childrenCheckedUdf(parent, root)).as("curl"))
        .withColumn("c", regexp_extract(col("curl"), "sm-(\\d)\\.xml", 1)
          .cast("int"))
      val childXml = concat(lit("<urlset>"),
        expr("concat_ws('', transform(sequence(5*c, least(5*c+4, 8)), " +
          "j -> concat('<url><loc>https://site', h, '.example.com/p/', " +
          "h*10+j, '?utm_source=sm&amp;fbclid=abc</loc><lastmod>2024-01-0', " +
          "j+1, '</lastmod></url>')))"),
        lit("</urlset>"))
      val adv = withChild
        .select(col("h"), explode(Sitemap.urlsUdf(childXml)).as("e"))
        .select(col("h"), UrlCanon.canon(col("e._1")).as("u"),
          col("e._2").as("lastmod"))
      val crawled = docs
        .filter(col("doc_id") % 10 <= 5 || col("doc_id") % 10 === 9)
        .select(expr("doc_id div 10").as("h"),
          UrlCanon.canon(format_string("https://site%d.example.com/p/%d",
            expr("doc_id div 10"), col("doc_id"))).as("u"))
      adv.withColumn("a", lit(1))
        .join(crawled.withColumn("cr", lit(1)), Seq("h", "u"), "full_outer")
        .groupBy(col("h"))
        .agg(count(col("a")).as("n_advertised"),
          count(col("cr")).as("n_crawled"),
          count(when(col("a").isNotNull && col("cr").isNotNull, 1))
            .as("n_both"),
          count(when(col("a").isNotNull && col("cr").isNull, 1))
            .as("n_sitemap_only"),
          count(when(col("a").isNull && col("cr").isNotNull, 1))
            .as("n_crawl_only"),
          max(col("lastmod")).as("last_lastmod"))
        .select(col("h").as("host_id"), col("n_advertised"),
          col("n_crawled"), col("n_both"), col("n_sitemap_only"),
          col("n_crawl_only"), col("last_lastmod"))
        .orderBy(col("host_id"))
    }, oracle =
      // sitemap replay: every host advertises pages 0-8 (9 urls via the
      // two children); the crawl holds the host's ACTUAL docs with
      // j in {0..5, 9}; both = advertised AND crawled = docs with j<=5
      """WITH docs AS (SELECT doc_id, doc_id // 10 AS h,
        |  CAST(doc_id % 10 AS INT) AS j FROM documents),
        |hosts AS (SELECT DISTINCT h FROM docs),
        |cr AS (SELECT h, j FROM docs WHERE j <= 5 OR j = 9),
        |agg AS (SELECT h, count(*) AS n_crawled,
        |  count(*) FILTER (WHERE j <= 5) AS n_both,
        |  count(*) FILTER (WHERE j = 9) AS n_crawl_only
        | FROM cr GROUP BY h)
        |SELECT hosts.h AS host_id,
        | CAST(9 AS BIGINT) AS n_advertised,
        | CAST(coalesce(agg.n_crawled, 0) AS BIGINT) AS n_crawled,
        | CAST(coalesce(agg.n_both, 0) AS BIGINT) AS n_both,
        | CAST(9 - coalesce(agg.n_both, 0) AS BIGINT) AS n_sitemap_only,
        | CAST(coalesce(agg.n_crawl_only, 0) AS BIGINT) AS n_crawl_only,
        | '2024-01-09' AS last_lastmod
        |FROM hosts LEFT JOIN agg ON hosts.h = agg.h
        |ORDER BY host_id""".stripMargin),

    // ---- robots directives beyond allow/deny: Sitemap: lines are
    // GLOBAL (position-independent — one sits between the two groups,
    // even hosts append another after them) and Crawl-delay is
    // per-group with the SAME specific-wins-no-merge selection as the
    // permission verdict. These feed the two frontier subsystems:
    // sitemap discovery (q301's input comes from exactly here on the
    // real web) and the per-host politeness budget a fetch scheduler
    // divides by ----
    QuerySpec("q303_robots_directives", (s, d) => {
      import graft.ingest.Robots
      val docs = tSpread(s, d, "documents")
      val hosts = docs.select(expr("doc_id div 5").as("h")).distinct()
      val robots = concat(
        lit("# host "), col("h"), lit("\n"),
        lit("Sitemap: https://s"), col("h"),
        lit(".example.com/sitemap.xml\n"),
        lit("User-agent: graftbot\nDisallow: /private/\n" +
          "Crawl-delay: 1.5\n\n"),
        lit("Sitemap: https://s"), col("h"),
        lit(".example.com/sitemap-mid.xml\n"),
        lit("User-agent: *\nDisallow: /\nCrawl-delay: 10\n"),
        when(col("h") % 2 === 0,
          concat(lit("Sitemap: https://s"), col("h"),
            lit(".example.com/sitemap-extra.xml\n")))
          .otherwise(lit("")))
      hosts.select(col("h").as("host_id"), robots.as("r"))
        .select(col("host_id"),
          size(Robots.sitemapsUdf(col("r"))).cast("bigint")
            .as("n_sitemaps"),
          element_at(Robots.sitemapsUdf(col("r")), 1).as("first_sitemap"),
          (Robots.crawlDelayUdf(col("r"), lit("GraftBot")) * 1000)
            .cast("bigint").as("bot_delay_ms"),
          (Robots.crawlDelayUdf(col("r"), lit("otherbot")) * 1000)
            .cast("bigint").as("other_delay_ms"),
          Robots.allowedUdf(col("r"), lit("graftbot"), lit("/public/x"))
            .as("bot_allowed"),
          Robots.allowedUdf(col("r"), lit("otherbot"), lit("/public/x"))
            .as("other_allowed"))
        .orderBy(col("host_id"))
    }, oracle =
      // directives replay: counts/values stated from the generator —
      // global sitemap collection order, per-group delay selection, the
      // two permission verdicts
      """WITH hosts AS (SELECT DISTINCT doc_id // 5 AS h FROM documents)
        |SELECT h AS host_id,
        | CAST(CASE WHEN h % 2 = 0 THEN 3 ELSE 2 END AS BIGINT)
        |   AS n_sitemaps,
        | 'https://s' || CAST(h AS VARCHAR) || '.example.com/sitemap.xml'
        |   AS first_sitemap,
        | CAST(1500 AS BIGINT) AS bot_delay_ms,
        | CAST(10000 AS BIGINT) AS other_delay_ms,
        | true AS bot_allowed,
        | false AS other_allowed
        |FROM hosts ORDER BY host_id""".stripMargin),

    // ---- redirect-chain resolution BEFORE URL dedup: the canonical
    // identity of a fetched page is its 301-chain's FINAL target.
    // Five arms per div-5 group: terminal, 1/2/3-hop chains onto the
    // group's terminal, and a self-loop that must quarantine as
    // unresolved (NULL final) rather than mis-assign. Pointer-doubling
    // joins — ⌈log2(hops)⌉ shuffle rounds, no driver loop over rows ----
    QuerySpec("q304_redirect_resolve", (s, d) => {
      import graft.graph.Redirects
      val docs = tSpread(s, d, "documents")
      val arm = col("doc_id") % 5
      val edges = docs.filter(arm >= 1)
        .select(col("doc_id").as("src"),
          when(arm === 4, col("doc_id"))
            .otherwise(col("doc_id") - 1).as("dst"))
      val resolved = Redirects.resolve(edges, maxHops = 4)
      docs.select(col("doc_id"))
        .join(resolved.withColumnRenamed("src", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("unresolved"), lit(null))
            .otherwise(coalesce(col("final_id"), col("doc_id")))
            .cast("bigint").as("final_id"),
          coalesce(col("unresolved"), lit(false)).as("unresolved"))
        .orderBy(col("doc_id"))
    }, oracle =
      // redirect replay: arm a in 1..3 walks a hops down to the group
      // terminal; arm 4 is a self-loop -> NULL + unresolved
      """WITH d AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS a
        |  FROM documents)
        |SELECT doc_id,
        | CASE WHEN a = 4 THEN NULL ELSE doc_id - a END AS final_id,
        | a = 4 AS unresolved
        |FROM d ORDER BY doc_id""".stripMargin),

    // ---- politeness fetch schedule: each host's URLs get serial
    // slots spaced by ITS OWN Crawl-delay (earned through the robots
    // parser, not assumed), then the per-host timelines merge into
    // global 1-second fetch waves — the throughput report a frontier
    // scheduler publishes (how many fetches land in each second, how
    // many hosts are concurrently active). Slot assignment goes
    // through HostSlots.assign — a probed choice between the per-host
    // window (one shuffle; serializes a mega-host onto ONE task) and
    // GlobalOrder's two-phase rank (skew-proof; a hot host spans
    // range partitions). The AB host_slot_* pairs measured the window
    // form 3.1× faster uniform and 2.7× slower at 90%-one-host skew —
    // neither dominates, so the operator probes max-host size first ----
    QuerySpec("q305_fetch_schedule", (s, d) => {
      import graft.ingest.Robots
      import graft.operators.HostSlots
      val h = expr("doc_id div 10")
      val robots = concat(lit("User-agent: *\nCrawl-delay: "),
        format_string("%.1f", (h % 4 + 1) * lit(0.5)), lit("\n"))
      val base = tSpread(s, d, "documents")
        .select(col("doc_id"), h.as("h"),
          (Robots.crawlDelayUdf(robots, lit("graftbot")) * 1000)
            .cast("bigint").as("delay_ms"))
      HostSlots.assign(base, "h", Seq(col("doc_id")), "slot")
        .withColumn("start_ms", (col("slot") - 1) * col("delay_ms"))
        .select(expr("start_ms div 1000").as("wave"), col("h"))
        .groupBy(col("wave"))
        .agg(count(lit(1)).as("n_fetches"),
          countDistinct(col("h")).as("n_hosts"))
        .orderBy(col("wave"))
    }, oracle =
      // schedule replay: per-host serial slots at the host's delay,
      // merged into 1-second waves
      """WITH d AS (SELECT doc_id, doc_id // 10 AS h,
        |  ((doc_id // 10) % 4 + 1) * 500 AS delay_ms FROM documents),
        |r AS (SELECT h, (row_number() OVER
        |  (PARTITION BY h ORDER BY doc_id) - 1) * delay_ms AS start_ms
        | FROM d)
        |SELECT start_ms // 1000 AS wave,
        | count(*) AS n_fetches,
        | CAST(count(DISTINCT h) AS BIGINT) AS n_hosts
        |FROM r GROUP BY 1 ORDER BY wave""".stripMargin),

    // ---- frontier identity COMPOSED (q304 into q288): a fetched
    // page's identity is canonical_url(redirect_final_target). Five
    // arms per div-5 group: a plain fetch of page P, a messy URL
    // variant of P (case/port/utm/fragment), a 1-hop and a 2-hop 301
    // chain landing on the variant, and a self-loop that must
    // QUARANTINE (identity NULL) rather than join any group. Dedup on
    // either key alone gets this wrong: URL-only sees the redirect
    // sources as distinct pages; redirect-only sees the two surface
    // forms of P as distinct. Composed, each group collapses to ONE
    // identity with n_merged=4 ----
    QuerySpec("q306_frontier_identity", (s, d) => {
      import graft.graph.Redirects
      import graft.text.UrlCanon
      val docs0 = tSpread(s, d, "documents")
      val arm = col("doc_id") % 5
      val g = expr("doc_id div 5")
      val k = g % 53
      val url = when(arm === 0, format_string(
          "http://www.site%d.example.com/p/%d?a=1", k, g))
        .when(arm === 1, format_string(
          "HTTP://www.Site%d.example.com:80/p/%d?utm_source=x&a=1#f", k, g))
        .otherwise(format_string(
          "http://www.site%d.example.com/r/%d", k, col("doc_id")))
      val docs = docs0.select(col("doc_id"), url.as("url"))
      val edges = docs0.filter(arm === 2 || arm === 3 || arm === 4)
        .select(col("doc_id").as("src"),
          when(arm === 4, col("doc_id"))
            .otherwise(col("doc_id") - 1).as("dst"))
      val resolved = Redirects.resolve(edges, maxHops = 4)
      val withFinal = docs
        .join(resolved.withColumnRenamed("src", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(coalesce(col("unresolved"), lit(false)), lit(null))
            .otherwise(coalesce(col("final_id"), col("doc_id")))
            .as("fid"))
      // identity = canonical URL of the FINAL doc (join back for its url)
      withFinal
        .join(docs.select(col("doc_id").as("fid"),
          UrlCanon.canon(col("url")).as("canonical_url")), Seq("fid"), "left")
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_merged"),
          min(col("doc_id")).as("min_doc_id"))
        // nulls LAST to match DuckDB's ASC default (Spark's is nulls
        // first) — the driver sorts rows before hashing so either
        // passes the gate, but the emitted order should match the
        // oracle's for any order-sensitive consumer
        .orderBy(col("canonical_url").asc_nulls_last)
    }, oracle =
      // identity replay: arms 0-3 of a group share one canonical key
      // (the terminal page's canonical URL); arm 4 quarantines as NULL
      """WITH d AS (SELECT doc_id, doc_id // 5 AS g,
        |  CAST(doc_id % 5 AS INT) AS a FROM documents)
        |SELECT * FROM (
        | SELECT 'http://www.site' || CAST(g % 53 AS VARCHAR)
        |   || '.example.com/p/' || CAST(g AS VARCHAR) || '?a=1'
        |   AS canonical_url,
        |  count(*) AS n_merged, min(doc_id) AS min_doc_id
        | FROM d WHERE a <= 3 GROUP BY g
        | UNION ALL
        | SELECT NULL, count(*), min(doc_id) FROM d WHERE a = 4
        |) ORDER BY canonical_url""".stripMargin),

    // ---- outlink discovery: the frontier's GROWTH edge, composed
    // end-to-end — generic <a href> extraction (Outlinks), RFC 3986
    // resolution against the page's own URL (UrlResolve), canonical
    // form (UrlCanon), robots gate (Robots). Seven links per page
    // exercise every resolution class: nested relative, ../ climb,
    // rooted with an &amp; entity in the query, scheme-relative onto
    // another host, absolute with case/port/fragment mess for canon,
    // query-only self-link, and a /private/ link the robots policy
    // blocks. One anchor has no href (dropped before numbering).
    // All per-row projections — the frontier loop costs no shuffle
    // until its dedup ----
    QuerySpec("q308_outlink_frontier", (s, d) => {
      import graft.extract.Outlinks
      import graft.text.{UrlCanon, UrlResolve}
      import graft.ingest.Robots
      val k = col("doc_id") % 31
      val base = format_string(
        "http://www.site%d.example.com/a/b/page.html", k)
      val html = concat(
        lit("<div><a href=\"c/d.html\">1</a> <a href='../up.html'>2</a> "),
        lit("<A HREF=\"/rooted?b=2&amp;a=1\">3</A> "),
        lit("<a href=//cdn.example.com/lib.js>4</a> "),
        lit("<a href=\"HTTPS://Abs.example.com:443/y#frag\">5</a> "),
        format_string("<a href=\"?q=%d\">6</a> ", col("doc_id")),
        format_string("<a href=\"/private/p%d\">7</a>", col("doc_id")),
        lit("<a name=\"no-href\">skip</a></div>"))
      val robots = lit("User-agent: *\nDisallow: /private/\n")
      tSpread(s, d, "documents")
        .select(col("doc_id"), base.as("base"),
          posexplode(Outlinks.hrefsUdf(html)))
        .select(col("doc_id"), (col("pos") + 1).cast("int").as("link_no"),
          UrlCanon.canon(
            UrlResolve.resolveUdf(col("base"), col("col"))).as("url"))
        .withColumn("path", coalesce(nullif(
          regexp_extract(col("url"), "^[a-z]+://[^/]+(/.*)?$", 1), lit("")),
          lit("/")))
        .select(col("doc_id"), col("link_no"), col("url"),
          Robots.allowedUdf(robots, lit("graftbot"), col("path"))
            .as("allowed"))
        .orderBy(col("doc_id"), col("link_no"))
    }, oracle =
      // frontier replay: each link's resolved+canonical form stated from
      // the RFC 3986 merge rules and the canon rules the parent specs
      // pin (lowercased host, default port stripped, fragment dropped,
      // params sorted); only the /private/ link is robots-blocked
      """WITH d AS (SELECT doc_id,
        |  'http://www.site' || CAST(doc_id % 31 AS VARCHAR)
        |    || '.example.com' AS h FROM documents),
        |l AS (
        | SELECT doc_id, 1 AS link_no, h || '/a/b/c/d.html' AS url,
        |   true AS allowed FROM d
        | UNION ALL SELECT doc_id, 2, h || '/a/up.html', true FROM d
        | UNION ALL SELECT doc_id, 3, h || '/rooted?a=1&b=2', true FROM d
        | UNION ALL SELECT doc_id, 4, 'http://cdn.example.com/lib.js',
        |   true FROM d
        | UNION ALL SELECT doc_id, 5, 'https://abs.example.com/y',
        |   true FROM d
        | UNION ALL SELECT doc_id, 6, h || '/a/b/page.html?q='
        |   || CAST(doc_id AS VARCHAR), true FROM d
        | UNION ALL SELECT doc_id, 7, h || '/private/p'
        |   || CAST(doc_id AS VARCHAR), false FROM d)
        |SELECT doc_id, CAST(link_no AS INT) AS link_no, url, allowed
        |FROM l ORDER BY doc_id, link_no""".stripMargin),

    // ---- the FULL frontier planner in ONE plan — the query a crawl
    // operator actually runs, composing every stage the pairwise cards
    // verify separately: redirect resolution (q304) → canonical
    // identity dedup (q288/q306) → robots permission + crawl-delay
    // (q294/q303) → politeness slots and waves (q305). Five arms per
    // div-5 group: clean page, messy variant of the SAME page, a 301
    // source landing on the variant (all three must merge to one
    // fetch), a /private/ page the gate blocks, and a self-loop that
    // quarantines before scheduling. Per-host report: candidates,
    // allowed, blocked, the host's own delay, makespan, wave count.
    // Plan shape pinned in PlanShapeSpec: no cartesian, no
    // single-task data-sized window, no global sort before the 7-row
    // presentation sort ----
    QuerySpec("q309_frontier_planner", (s, d) => {
      import graft.graph.Redirects
      import graft.text.UrlCanon
      import graft.ingest.Robots
      import graft.operators.HostSlots
      val docs0 = tSpread(s, d, "documents")
      val arm = col("doc_id") % 5
      val g = expr("doc_id div 5")
      val k = g % 7
      val url = when(arm === 0, format_string(
          "http://www.site%d.example.com/p/%d?x=1", k, g))
        .when(arm === 1, format_string(
          "HTTP://www.Site%d.example.com:80/p/%d?utm_source=f&x=1#top", k, g))
        .when(arm === 3, format_string(
          "http://www.site%d.example.com/private/%d", k, g))
        .otherwise(format_string(
          "http://www.site%d.example.com/r/%d", k, col("doc_id")))
      val docs = docs0.select(col("doc_id"), url.as("url"))
      // stage 1: redirect resolution (arm 2: one hop onto the arm-1
      // variant; arm 4: self-loop -> quarantined before scheduling)
      val edges = docs0.filter(arm === 2 || arm === 4)
        .select(col("doc_id").as("src"),
          when(arm === 4, col("doc_id"))
            .otherwise(col("doc_id") - 1).as("dst"))
      val resolved = Redirects.resolve(edges, maxHops = 4)
      val withFinal = docs
        .join(resolved.withColumnRenamed("src", "doc_id"),
          Seq("doc_id"), "left")
        .filter(!coalesce(col("unresolved"), lit(false)))
        .select(col("doc_id"),
          coalesce(col("final_id"), col("doc_id")).as("fid"))
      // stage 2: canonical identity of the FINAL fetch; dedup keeps
      // the earliest fetch as the group representative
      val canon = withFinal
        .join(docs.select(col("doc_id").as("fid"),
          UrlCanon.canon(col("url")).as("curl")), Seq("fid"))
        .groupBy(col("curl")).agg(min(col("doc_id")).as("first_doc"))
      // stage 3: host + path EARNED from the canonical URL, then the
      // robots verdict and the host's own crawl-delay
      val hosted = canon
        .withColumn("host_id",
          regexp_extract(col("curl"), "site(\\d+)\\.example", 1)
            .cast("bigint"))
        .withColumn("path",
          regexp_extract(col("curl"), "^[a-z]+://[^/]+(/[^?#]*)", 1))
      val robots = concat(
        lit("User-agent: *\nDisallow: /private/\nCrawl-delay: "),
        format_string("%.1f", (col("host_id") % 4 + 1) * lit(0.5)),
        lit("\n"))
      // r13: materialized once — `gated` feeds BOTH the politeness
      // schedule and the per-host candidate counts, and with pure
      // lineage each leg re-ran the whole resolve→canon→robots chain
      // (the two ~700 ms single-task stage groups in the profile)
      val gated = hosted.select(col("curl"), col("host_id"),
        col("first_doc"),
        Robots.allowedUdf(robots, lit("graftbot"), col("path"))
          .as("allowed"),
        (Robots.crawlDelayUdf(robots, lit("graftbot")) * 1000)
          .cast("bigint").as("delay_ms"))
        .localCheckpoint()
      // stage 4: politeness schedule over the allowed frontier
      val sched = HostSlots.assign(gated.filter(col("allowed")),
          "host_id", Seq(col("first_doc")), "slot")
        .withColumn("start_ms", (col("slot") - 1) * col("delay_ms"))
      val rep = sched.groupBy(col("host_id"))
        .agg(count(lit(1)).as("n_allowed"),
          max(col("delay_ms")).as("delay_ms"),
          max(col("start_ms")).as("makespan_ms"),
          countDistinct(expr("start_ms div 1000")).as("n_waves"))
      // stage 5: the per-host planner report
      gated.groupBy(col("host_id"))
        .agg(count(lit(1)).as("n_candidates"),
          count(when(!col("allowed"), 1)).as("n_blocked"))
        .join(rep, Seq("host_id"))
        .select(col("host_id"), col("n_candidates"), col("n_allowed"),
          col("n_blocked"), col("delay_ms"), col("makespan_ms"),
          col("n_waves"))
        .orderBy(col("host_id"))
    }, oracle =
      // planner replay: per group, arms 0-2 merge to one /p/ page and
      // arm 3 is one blocked /private/ page (arm 4 quarantines), so a
      // host with n groups has 2n candidates, n allowed, n blocked;
      // slots step by the host's delay, so makespan = (n-1)*delay and
      // the wave count is the distinct count of (slot-1)*delay // 1000
      """WITH grp AS (SELECT DISTINCT doc_id // 5 AS g,
        |  (doc_id // 5) % 7 AS k FROM documents),
        |h AS (SELECT k, count(*) AS n FROM grp GROUP BY k)
        |SELECT k AS host_id,
        | CAST(2 * n AS BIGINT) AS n_candidates,
        | CAST(n AS BIGINT) AS n_allowed,
        | CAST(n AS BIGINT) AS n_blocked,
        | CAST((k % 4 + 1) * 500 AS BIGINT) AS delay_ms,
        | CAST((n - 1) * (k % 4 + 1) * 500 AS BIGINT) AS makespan_ms,
        | CAST(len(list_distinct(list_transform(range(0, n),
        |   s -> (s * (k % 4 + 1) * 500) // 1000))) AS BIGINT) AS n_waves
        |FROM h ORDER BY host_id""".stripMargin),

    // ---- lastmod-driven recrawl: the freshness loop the sitemap
    // card left unconsumed — each host's sitemap advertises its pages
    // WITH lastmod (written by the deterministic writer, re-parsed by
    // the reader: the round trip earns the dates), the crawl state
    // holds each page's fetched_at, and a page whose lastmod is newer
    // than its fetch is STALE. The stale set becomes the re-fetch
    // frontier, ordered freshest-change-first within each host and
    // spaced into politeness waves by the host's own crawl-delay
    // (q305's machinery, HostSlots under it). ISO dates compare as
    // strings — no timestamp parsing in the hot path ----
    QuerySpec("q310_recrawl_schedule", (s, d) => {
      import graft.ingest.{Robots, Sitemap}
      import graft.operators.HostSlots
      val docs = tSpread(s, d, "documents")
      val h = expr("doc_id div 10")
      val j = col("doc_id") % 10
      val url = format_string(
        "https://site%d.example.com/p/%d", h, col("doc_id"))
      val lastmod = format_string("2024-01-%02d", j + 1)
      // per-host sitemap: write the entries, read them back
      val sm = docs
        .select(h.as("host_id"),
          struct(col("doc_id"), url.as("loc"), lastmod.as("lastmod"))
            .as("e"))
        .groupBy(col("host_id"))
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(col("host_id"), Sitemap.writeUrlsetUdf(
          expr("transform(es, x -> struct(x.loc, x.lastmod))")).as("xml"))
      val adv = sm
        .select(col("host_id"), explode(Sitemap.urlsUdf(col("xml"))).as("e"))
        .select(col("host_id"), col("e._1").as("url"),
          col("e._2").as("lastmod"))
      // crawl state: fetch days 2/5/8 by j%3
      val crawl = docs.select(col("doc_id"), h.as("host_id"), url.as("url"),
        format_string("2024-01-%02d", (j % 3) * 3 + 2).as("fetched_at"))
      val stale = crawl.join(adv, Seq("host_id", "url"))
        .filter(col("lastmod") > col("fetched_at"))
      val robots = concat(lit("User-agent: *\nCrawl-delay: "),
        format_string("%.1f", (col("host_id") % 4 + 1) * lit(0.5)),
        lit("\n"))
      HostSlots.assign(stale, "host_id",
          Seq(col("lastmod").desc, col("doc_id")), "slot")
        .withColumn("delay_ms",
          (Robots.crawlDelayUdf(robots, lit("graftbot")) * 1000)
            .cast("bigint"))
        .select(col("doc_id"), col("host_id"), col("lastmod"), col("slot"),
          expr("((slot - 1) * delay_ms) div 1000").as("wave"))
        .orderBy(col("doc_id"))
    }, oracle =
      // recrawl replay: stale iff lastmod day j+1 exceeds fetch day
      // (j%3)*3+2 (j in {3,6,7,8,9}); slots rank lastmod DESC per host,
      // waves step by the host's delay
      """WITH d AS (SELECT doc_id, doc_id // 10 AS h,
        |  CAST(doc_id % 10 AS INT) AS j FROM documents),
        |st AS (SELECT doc_id, h, j FROM d
        |  WHERE j + 1 > (j % 3) * 3 + 2),
        |r AS (SELECT doc_id, h, j, row_number() OVER
        |  (PARTITION BY h ORDER BY j DESC, doc_id) AS slot FROM st)
        |SELECT doc_id, h AS host_id,
        | '2024-01-' || lpad(CAST(j + 1 AS VARCHAR), 2, '0') AS lastmod,
        | CAST(slot AS BIGINT) AS slot,
        | ((slot - 1) * (h % 4 + 1) * 500) // 1000 AS wave
        |FROM r ORDER BY doc_id""".stripMargin),

    // ---- one full frontier ROUND — the feedback loop that makes a
    // crawler a crawler, composed from the operators the pairwise
    // cards verify: every FETCHED page's anchors are extracted
    // (Outlinks), resolved against the page URL (UrlResolve),
    // canonicalized (UrlCanon), matched against the already-fetched
    // set (the dedup anti-join that stops re-crawling), robots-gated,
    // and the surviving NEW URLs scheduled into politeness waves.
    // Four links per page: a tracking-param variant of an
    // already-fetched page (must collapse onto the crawl state and be
    // dropped as known), a relative NEW page, a /private/ page the
    // gate blocks, and a scheme-relative link onto the NEIGHBOR host
    // (discovered links cross hosts; the schedule must land it on the
    // TARGET host's budget). Per-host report ----
    QuerySpec("q311_frontier_round", (s, d) => {
      import graft.extract.Outlinks
      import graft.text.{UrlCanon, UrlResolve}
      import graft.ingest.Robots
      import graft.operators.HostSlots
      val docs = tSpread(s, d, "documents")
      val k = col("doc_id") % 13
      val base = format_string(
        "http://www.site%d.example.com/p/%d", k, col("doc_id"))
      val html = concat(
        format_string("<p><a href=\"/p/%d?utm_source=x\">s</a> ",
          col("doc_id")),
        format_string("<a href=\"new/%d.html\">n</a> ", col("doc_id")),
        format_string("<a href=\"/private/x%d\">b</a> ", col("doc_id")),
        format_string("<a href=\"//www.site%d.example.com/ext/%d\">e</a></p>",
          (k + 1) % 13, col("doc_id")))
      val fetched = docs.select(UrlCanon.canon(base).as("url"),
        lit(true).as("known0"))
      val discovered = docs
        .select(base.as("base"), explode(Outlinks.hrefsUdf(html)).as("href"))
        .select(UrlCanon.canon(
          UrlResolve.resolveUdf(col("base"), col("href"))).as("url"))
      val robots = lit("User-agent: *\nDisallow: /private/\n")
      val flagged = discovered
        .join(fetched, Seq("url"), "left")
        .withColumn("known", coalesce(col("known0"), lit(false)))
        .withColumn("host_id",
          regexp_extract(col("url"), "site(\\d+)\\.example", 1)
            .cast("bigint"))
        .withColumn("path",
          regexp_extract(col("url"), "^[a-z]+://[^/]+(/[^?#]*)", 1))
        .withColumn("allowed",
          Robots.allowedUdf(robots, lit("graftbot"), col("path")))
      val sched = HostSlots.assign(
          flagged.filter(!col("known") && col("allowed")),
          "host_id", Seq(col("url")), "slot")
        .withColumn("start_ms",
          (col("slot") - 1) * (col("host_id") % 4 + 1) * 500)
        .groupBy(col("host_id"))
        .agg(count(lit(1)).as("n_new_allowed"),
          max(col("start_ms")).as("makespan_ms"))
      flagged.groupBy(col("host_id"))
        .agg(count(lit(1)).as("n_discovered"),
          count(when(col("known"), 1)).as("n_known"),
          count(when(!col("known") && !col("allowed"), 1))
            .as("n_new_blocked"))
        .join(sched, Seq("host_id"))
        .select(col("host_id"), col("n_discovered"), col("n_known"),
          col("n_new_blocked"), col("n_new_allowed"), col("makespan_ms"))
        .orderBy(col("host_id"))
    }, oracle =
      // round replay: host k's discoveries are its own pages' self/new/
      // blocked links plus the neighbor host's ext links; the self link
      // collapses onto the crawl state (known), the new set schedules
      // at the host's delay
      """WITH d AS (SELECT doc_id, doc_id % 13 AS k FROM documents),
        |c AS (SELECT k, count(*) AS n FROM d GROUP BY k),
        |j AS (SELECT a.k, a.n AS n_own, coalesce(b.n, 0) AS n_ext
        |  FROM c a LEFT JOIN c b ON b.k = (a.k + 12) % 13)
        |SELECT k AS host_id,
        | CAST(3 * n_own + n_ext AS BIGINT) AS n_discovered,
        | CAST(n_own AS BIGINT) AS n_known,
        | CAST(n_own AS BIGINT) AS n_new_blocked,
        | CAST(n_own + n_ext AS BIGINT) AS n_new_allowed,
        | CAST((n_own + n_ext - 1) * (k % 4 + 1) * 500 AS BIGINT)
        |   AS makespan_ms
        |FROM j ORDER BY host_id""".stripMargin),

    // ---- redirect edges EARNED from the wire: q304 takes (src, dst)
    // as a given table; a real archive replay derives it from 301
    // responses — WARC split, HTTP envelope parse, status gate, and
    // the Location header (RELATIVE, as RFC 7231 allows) resolved
    // against the fetched URI, canonicalized, then pointer-doubled to
    // the chain's terminal. Four arms per div-4 group: a 200 terminal,
    // a 1-hop and a 2-hop 301 chain landing on it (relative
    // Locations), and a self-Location loop that must quarantine.
    // The card closes the claim in q307's charter: "the Location
    // header feeds the redirect map" — here it actually does ----
    QuerySpec("q312_location_redirects", (s, d) => {
      import graft.ingest.{Warc, HttpMessage}
      import graft.text.{UrlCanon, UrlResolve}
      import graft.graph.Redirects
      val arm = col("doc_id") % 4
      val g = expr("doc_id div 4")
      val m = g % 11
      val uri = format_string(
        "http://www.h%d.example.com/u/%d", m, col("doc_id"))
      val locTarget = when(arm === 3, col("doc_id"))
        .otherwise(col("doc_id") - 1)
      val loc = when(arm >= 1, format_string("/u/%d", locTarget))
        .otherwise(lit(null).cast("string"))
      val status = when(arm === 0, lit(200)).otherwise(lit(301))
      val reason = when(arm === 0, lit("OK"))
        .otherwise(lit("Moved Permanently"))
      val ct = when(arm === 0, lit("text/html; charset=utf-8"))
        .otherwise(lit(null).cast("string"))
      val body = when(arm === 0, encode(col("text"), "UTF-8"))
        .otherwise(lit(Array.emptyByteArray))
      val payload = HttpMessage.writeUdf(status, reason, ct, loc,
        body, lit(false))
      val rec = Warc.record(col("doc_id"), uri, payload)
      val parsed = tSpread(s, d, "documents")
        .select((col("doc_id") % 16).as("file_id"),
          struct(col("doc_id"), rec.as("rec")).as("r"))
        .groupBy(col("file_id"))
        .agg(sort_array(collect_list(col("r"))).as("rs"))
        .select(Warc.concatBlobs(expr("transform(rs, x -> x.rec)"))
          .as("blob"))
        .select(explode(Warc.splitUdf(col("blob"))).as("rec"))
        .select(col("rec._1").as("doc_id"),
          UrlCanon.canon(col("rec._2")).as("url"),
          HttpMessage.parseUdf(col("rec._3")).as("h"))
        .select(col("doc_id"), col("url"), col("h._1").as("status"),
          expr("h._2['location']").as("location"))
      val edges = parsed
        .filter(col("status") === 301 && col("location").isNotNull)
        .select(col("url").as("src"),
          UrlCanon.canon(
            UrlResolve.resolveUdf(col("url"), col("location"))).as("dst"))
      val resolved = Redirects.resolve(edges, maxHops = 4)
      parsed
        .join(resolved.withColumnRenamed("src", "url"), Seq("url"), "left")
        .select(col("doc_id"), col("status"),
          when(coalesce(col("unresolved"), lit(false)), lit(null))
            .otherwise(coalesce(col("final_id"), col("url")))
            .as("final_url"),
          coalesce(col("unresolved"), lit(false)).as("unresolved"))
        .orderBy(col("doc_id"))
    }, oracle =
      // location replay: arms 0-2 land on the group terminal (doc 4g =
      // doc_id - a), the self-Location arm quarantines
      """WITH d AS (SELECT doc_id, doc_id // 4 AS g,
        |  CAST(doc_id % 4 AS INT) AS a FROM documents)
        |SELECT doc_id,
        | CAST(CASE WHEN a = 0 THEN 200 ELSE 301 END AS INT) AS status,
        | CASE WHEN a = 3 THEN NULL ELSE
        |  'http://www.h' || CAST(g % 11 AS VARCHAR) || '.example.com/u/'
        |    || CAST(doc_id - a AS VARCHAR) END AS final_url,
        | a = 3 AS unresolved
        |FROM d ORDER BY doc_id""".stripMargin),

    // ---- frontier PRIORITY from the link graph: a crawl budget fetches
    // important pages first, and "important" is link-graph rank —
    // OPIC/PageRank-style scheduling. The edge list is EARNED through
    // the discovery stack (outlinks → resolve → canon → url→id join,
    // q308's machinery): arms 1-4 of each group link to the group hub,
    // the hub links onward, so rank concentrates on hubs
    // deterministically. Integer fixed-point PageRank (bit-reproducible
    // across engines), then the global priority order through
    // GlobalOrder — one range shuffle, never a single-task window ----
    QuerySpec("q313_frontier_priority", (s, d) => {
      import graft.extract.Outlinks
      import graft.text.{UrlCanon, UrlResolve}
      import graft.graph.Graph
      import graft.operators.GlobalOrder
      val docs0 = tSpread(s, d, "documents")
      val arm = col("doc_id") % 5
      val g = expr("doc_id div 5")
      val k = g % 9
      val base = format_string(
        "http://www.s%d.example.com/p/%d", k, col("doc_id"))
      val target = when(arm === 0, g * 5 + 1).otherwise(g * 5)
      val html = format_string(
        "<p>see <a href=\"/p/%d\">link</a></p>", target)
      val docs = docs0.select(col("doc_id"), base.as("base"),
        html.as("html"))
      val urlToId = docs.select(UrlCanon.canon(col("base")).as("url"),
        col("doc_id").as("dst"))
      val edges = docs
        .select(col("doc_id").as("src"), col("base"),
          explode(Outlinks.hrefsUdf(col("html"))).as("href"))
        .select(col("src"), UrlCanon.canon(
          UrlResolve.resolveUdf(col("base"), col("href"))).as("url"))
        .join(urlToId, Seq("url"))
        .select(col("src"), col("dst")).distinct()
      val ranks = Graph.pageRankFixedPoint(edges, iterations = 2)
        .select(col("id"), col("rank").as("pr"))
      GlobalOrder.withRowNumber(ranks,
          Seq(col("pr").desc, col("id")), "priority")
        .orderBy(col("id"))
    }, oracle =
      // priority replay: edges from the link formula (arms 1-4 -> hub
      // 5g, hub -> 5g+1), two fixed-point iterations in exact integer
      // arithmetic (the q125 replay shape), then the global priority
      // rank
      """WITH d AS (SELECT doc_id, doc_id // 5 AS g,
        |  CAST(doc_id % 5 AS INT) AS a FROM documents),
        |edges AS (
        | SELECT doc_id AS src, g * 5 AS dst FROM d WHERE a >= 1
        | UNION ALL
        | SELECT doc_id, doc_id + 1 FROM d WHERE a = 0),
        |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |r0 AS (SELECT id, CAST(1000000000000 // (SELECT n FROM nn)
        |  AS BIGINT) AS pr FROM nodes),
        |tp AS (SELECT CAST(((1000000000000 // (SELECT n FROM nn)) * 15)
        |  // 100 AS BIGINT) AS t),
        |r1 AS (
        | SELECT nodes.id, CAST((SELECT t FROM tp)
        |   + (coalesce(s.m, 0) * 85) // 100 AS BIGINT) AS pr
        | FROM nodes LEFT JOIN (
        |   SELECT e.dst AS id, sum(r.pr // o.deg) AS m
        |   FROM edges e JOIN r0 r ON e.src = r.id
        |   JOIN outdeg o ON e.src = o.src
        |   GROUP BY e.dst) s ON nodes.id = s.id),
        |r2 AS (
        | SELECT nodes.id, CAST((SELECT t FROM tp)
        |   + (coalesce(s.m, 0) * 85) // 100 AS BIGINT) AS pr
        | FROM nodes LEFT JOIN (
        |   SELECT e.dst AS id, sum(r.pr // o.deg) AS m
        |   FROM edges e JOIN r1 r ON e.src = r.id
        |   JOIN outdeg o ON e.src = o.src
        |   GROUP BY e.dst) s ON nodes.id = s.id)
        |SELECT id, pr,
        | CAST(row_number() OVER (ORDER BY pr DESC, id) AS BIGINT)
        |   AS priority
        |FROM r2 ORDER BY id""".stripMargin),

    // ---- conditional revalidation: the recrawl's cheap path — a
    // fetch with If-Modified-Since earns a 304 (keep the stored
    // content, near-zero bytes) or a 200 (replace). The third arm is
    // the wasted fetch every crawl audits for: a 200 whose body
    // hashes identical to the stored content (the server ignored the
    // conditional). Status and body come off the parsed envelope,
    // never assumed ----
    QuerySpec("q314_conditional_revalidation", (s, d) => {
      import graft.ingest.{CharsetSniff, HttpMessage}
      val arm = col("doc_id") % 3
      val newBody = when(arm === 1,
          encode(concat(col("text"), lit(" v2")), "UTF-8"))
        .when(arm === 2, encode(col("text"), "UTF-8"))
        .otherwise(lit(Array.emptyByteArray))
      val status = when(arm === 0, lit(304)).otherwise(lit(200))
      val reason = when(arm === 0, lit("Not Modified")).otherwise(lit("OK"))
      val ct = when(arm === 0, lit(null).cast("string"))
        .otherwise(lit("text/html; charset=utf-8"))
      val payload = HttpMessage.writeUdf(status, reason, ct,
        lit(null).cast("string"), newBody, lit(false))
      tSpread(s, d, "documents")
        .select(col("doc_id"), col("text").as("old_content"),
          HttpMessage.parseUdf(payload).as("h"))
        .select(col("doc_id"), col("h._1").as("status"),
          col("old_content"),
          when(col("h._1") === 304, col("old_content"))
            .otherwise(CharsetSniff.decodeUdf(
              lit("text/html; charset=utf-8"), col("h._3"))).as("content"))
        .select(col("doc_id"), col("status"),
          when(col("status") === 304, lit("revalidated"))
            .when(col("content") === col("old_content"), lit("wasted"))
            .otherwise(lit("updated")).as("outcome"),
          md5(encode(col("content"), "UTF-8")).as("content_md5"))
        .orderBy(col("doc_id"))
    }, oracle =
      // revalidation replay: outcome and final content per arm
      """SELECT doc_id,
        | CAST(CASE WHEN doc_id % 3 = 0 THEN 304 ELSE 200 END AS INT)
        |   AS status,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'revalidated'
        |   WHEN 1 THEN 'updated' ELSE 'wasted' END AS outcome,
        | md5(CASE WHEN doc_id % 3 = 1 THEN text || ' v2' ELSE text END)
        |   AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin),
  )
}
