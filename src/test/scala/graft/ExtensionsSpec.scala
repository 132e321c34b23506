package graft

/** The library's SQL surface: custom Catalyst functions usable from pure
  * SQL, injected at session build by GraftExtensions. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim and topk_by_score usable from pure SQL") {
    Seq(
      (1L, "a", Array(1.0f, 0.0f)),
      (2L, "a", Array(0.6f, 0.8f)),
      (3L, "b", Array(0.0f, 1.0f)),
    ).toDF("id", "grp", "emb").createOrReplaceTempView("vecs")

    val sim = spark.sql(
      "SELECT id, cosine_sim(emb, array(1.0f, 0.0f)) AS s FROM vecs ORDER BY id")
      .collect()
    assert(sim(0).getDouble(1) == 1.0)
    assert(math.abs(sim(1).getDouble(1) - 0.6) < 1e-7)

    val top = spark.sql(
      """SELECT grp, topk_by_score(cosine_sim(emb, array(1.0f, 0.0f)), id, 1) AS t
        |FROM vecs GROUP BY grp ORDER BY grp""".stripMargin).collect()
    assert(top.length == 2)
    val topA = top(0).getSeq[org.apache.spark.sql.Row](1)
    assert(topA.length == 1 && topA.head.getLong(1) == 1L)
    spark.catalog.dropTempView("vecs")
  }

  test("GraftExtensions applies cleanly to a SparkSessionExtensions") {
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(exts) // builder-injection path wires up
  }

  test("text/ttl functions usable from pure SQL, same results as Column API") {
    Seq(
      (1L, "the cat and the dog, it is fine"),
      (2L, "el perro de la casa que ladra y"),
      (3L, ""),
    ).toDF("id", "text").createOrReplaceTempView("docs_sql")
    val rows = spark.sql(
      """SELECT id, lang_id(text) AS lang, token_count(text) AS toks,
        |  bpe_token_count(text) AS bpe, quality_score(text) AS q,
        |  doc_fingerprint(text) AS fp
        |FROM docs_sql ORDER BY id""".stripMargin).collect()
    assert(rows(0).getString(1) == "en")
    assert(rows(1).getString(1) == "es")
    assert(rows(2).getString(1) == "und")
    assert(rows(0).getInt(2) == 8)
    // Column-API parity on the same data
    import org.apache.spark.sql.functions.col
    val viaColumns = spark.table("docs_sql")
      .select(col("id"), graft.text.TextFunctions.langId(col("text")),
        graft.text.TextFunctions.fingerprint(col("text")))
      .orderBy("id").collect()
    rows.zip(viaColumns).foreach { case (a, b) =>
      assert(a.getString(1) == b.getString(1))
      assert(a.getLong(5) == b.getLong(2))
    }
    val ttl = spark.sql(
      "SELECT ttl_seconds(DATE'2024-01-03', DATE'2024-01-01') AS t").collect()
    assert(ttl(0).getLong(0) == 43200L) // <=7 days ahead tier
    spark.catalog.dropTempView("docs_sql")
  }

  test("hll_distinct usable from pure SQL") {
    spark.range(3).selectExpr("concat('v', id % 3) AS t")
      .createOrReplaceTempView("hll_sql")
    val est = spark.sql("SELECT hll_distinct(t, 9) AS e FROM hll_sql")
      .head().getLong(0)
    assert(est == 3L)
    spark.catalog.dropTempView("hll_sql")
  }

  test("SQL DDL: ANN index lifecycle (create/show/drop/attach) purely through spark.sql") {
    import graft.plans.AnnCatalog
    // the shared session is built with GraftExtensions, so it has the
    // injected parser: the path a library user takes
    // (spark.sql.extensions=graft.GraftExtensions)
    try {
      spark.conf.set("spark.graft.ann.minTableBytes", "0")
      val dir = java.nio.file.Files.createTempDirectory("ann-sql").toString
      val rng = new scala.util.Random(11)
      (0 until 200).map { i =>
        (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat))
      }.toDF("vec_id", "embedding").repartition(3)
        .write.parquet(s"$dir/base")

      // CREATE builds, persists (descriptor) and registers
      val created = spark.sql(
        s"""GRAFT CREATE ANN INDEX USING IVF ON '$dir/base'
           |  (embedding, vec_id) AT '$dir/ivf'
           |  OPTIONS (cells = 6, nprobe = 6, kmeans_iters = 2)""".stripMargin).collect()
      assert(created.head.getString(0).contains("created ivf index"))
      assert(AnnCatalog.list.nonEmpty)
      val shown = spark.sql("GRAFT SHOW ANN INDEXES").collect()
      assert(shown.exists(r => r.getString(1) == "ivf" &&
        r.getString(2) == s"$dir/ivf"))

      // the q169 shape now plans onto the index in THIS session —
      // nprobe = cells makes the probe exhaustive, so rows must equal
      // brute force exactly
      val q = Array.fill(8)(0.5f)
      val qSql = q.mkString("array(", "F,", "F)")
      def topk = spark.sql(
        s"""SELECT vec_id, cosine_sim(embedding, $qSql) AS score
           |FROM parquet.`$dir/base`
           |ORDER BY score DESC, vec_id LIMIT 7""".stripMargin)
      val viaIndex = topk.collect().map(_.getLong(0)).toSeq
      assert(topk.queryExecution.executedPlan.toString.contains("/ivf"),
        "SQL top-k did not plan onto the created index")

      // DROP → brute force, same rows (exhaustive probe was exact)
      spark.sql(s"GRAFT DROP ANN INDEX ON '$dir/base'").collect()
      val brute = topk.collect().map(_.getLong(0)).toSeq
      assert(!topk.queryExecution.executedPlan.toString.contains("/ivf"))
      assert(viaIndex == brute)

      // ATTACH restores the registration from the at-rest descriptor
      // (the fresh-session half of CREATE-once)
      val attached = spark.sql(
        s"GRAFT ATTACH ANN INDEX '$dir/ivf' TO '$dir/base'").collect()
      assert(attached.head.getString(0).contains("attached"))
      assert(topk.queryExecution.executedPlan.toString.contains("/ivf"))
      assert(topk.collect().map(_.getLong(0)).toSeq == brute)

      // MAINTAIN on a healthy index is a no-op (the k-means candidate
      // re-derives the same clustering); the rebuild path is proven in
      // IvfIndexSpec's drift test
      val maint = spark.sql(
        s"GRAFT MAINTAIN ANN INDEX ON '$dir/base' OPTIONS (kmeans_iters = 2)")
        .collect()
      assert(maint.head.getString(0).contains("healthy"), maint.head.getString(0))

      // non-GRAFT SQL still parses through the delegate
      assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
      // malformed GRAFT statement surfaces the option error
      val err = intercept[Exception] {
        spark.sql(s"""GRAFT CREATE ANN INDEX USING IVF ON '$dir/base'
          |  (embedding, vec_id) AT '$dir/ivf2' OPTIONS (bogus = 1)""".stripMargin)
          .collect()
      }
      assert(err.getMessage.contains("unknown ivf index option"))
    } finally AnnCatalog.clear()
  }

  test("hist_quantile usable from pure SQL, matches Column API") {
    spark.range(1, 1001).selectExpr("CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("hq_sql")
    val viaSql = spark.sql(
      "SELECT hist_quantile(v, 0.5, 0.0, 1000.0, 100) AS e FROM hq_sql")
      .head().getDouble(0)
    val viaCol = spark.table("hq_sql")
      .agg(graft.sketch.HistQuantile.hist_quantile(
        org.apache.spark.sql.functions.col("v"), 0.5, 0.0, 1000.0, 100))
      .head().getDouble(0)
    assert(viaSql == viaCol)
    assert(math.abs(viaSql - 500.0) <= 10.0)
    spark.catalog.dropTempView("hq_sql")
  }

  test("curation operators usable from pure SQL, same results as Column API") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "The cat and the dog sat with a hat that fit " * 4),
      (2L, "spam spam spam spam spam spam"),
      (3L, "unique words only here today friends of mine and that"),
      (4L, "   "), // blank: struct forms still evaluate; score() keeps it
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("cur_docs")

    // gopher_repetition / gopher_quality: SQL == DataFrame API
    val viaSql = spark.sql(
      """SELECT doc_id, gopher_repetition(text) AS r,
        |  gopher_quality(text) AS q
        |FROM cur_docs WHERE length(trim(text)) > 0
        |ORDER BY doc_id""".stripMargin).collect()
    val repCol = graft.text.TextFunctions
      .gopherRepetition(docs, "text", "doc_id").orderBy("doc_id").collect()
    val qualCol = graft.text.TextFunctions
      .gopherQuality(docs, "text", "doc_id").orderBy("doc_id").collect()
    assert(viaSql.length == repCol.length && viaSql.length == qualCol.length)
    viaSql.zip(repCol).foreach { case (s, c) =>
      val r = s.getStruct(1)
      assert(r.getLong(0) == c.getLong(1) && r.getDouble(1) == c.getDouble(2)
        && r.getDouble(2) == c.getDouble(3) && r.getDouble(3) == c.getDouble(4)
        && r.getBoolean(4) == c.getBoolean(5), s"repetition: $s vs $c")
    }
    viaSql.zip(qualCol).foreach { case (s, c) =>
      val q = s.getStruct(2)
      assert(q.getLong(0) == c.getLong(1) && q.getDouble(1) == c.getDouble(2)
        && q.getDouble(2) == c.getDouble(3) && q.getLong(3) == c.getLong(4)
        && q.getBoolean(4) == c.getBoolean(5), s"quality: $s vs $c")
    }
    // sentence-initial capitalized stopwords count (the lowercase fix)
    assert(viaSql(0).getStruct(2).getLong(3) >= 4, "The/that/with/and/a")

    // quality_prob: SQL (weights via scalar subquery) == score()
    val m = graft.operators.HashedLogReg.train(docs,
      "text", col("doc_id") <= 2L, "doc_id", dim = 64, iters = 5)
    spark.createDataFrame(Seq(Tuple2(m.weights.toSeq, m.bias)))
      .toDF("w", "b").createOrReplaceTempView("cur_model")
    // model rides a broadcast 1-row cross join (a scalar subquery is
    // not allowed inside the HOF lambda the scorer folds with)
    val probSql = spark.sql(
      """SELECT doc_id, quality_prob(text, w, b) AS prob
        |FROM cur_docs CROSS JOIN cur_model ORDER BY doc_id""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val probScore = graft.operators.HashedLogReg
      .score(docs, "text", "doc_id", m)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(probSql.keySet == Set(1L, 2L, 3L, 4L))
    assert(probScore.keySet == Set(1L, 2L, 3L, 4L),
      "score() must emit a row for the blank doc")
    probSql.foreach { case (id, p) =>
      assert(math.abs(p - probScore(id)) < 1e-9, s"doc $id: $p vs ${probScore(id)}")
    }
    // blank doc scores the no-evidence prior
    assert(math.abs(probSql(4L) - 1.0 / (1.0 + math.exp(-m.bias))) < 1e-12)

    // dsir_weights TABLE function == ImportanceSelect.dsirWeights
    docs.filter(col("doc_id") <= 2L).createOrReplaceTempView("cur_target")
    val tvf = spark.sql(
      """SELECT * FROM dsir_weights('cur_docs', 'cur_target')
        |ORDER BY doc_id""".stripMargin).collect()
    val api = graft.operators.ImportanceSelect
      .dsirWeights(docs, docs.filter(col("doc_id") <= 2L), "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(tvf.map(_.toString).toSeq == api.map(_.toString).toSeq)

    Seq("cur_docs", "cur_model", "cur_target")
      .foreach(spark.catalog.dropTempView)
  }

  test("pii_redact / pii_count usable from pure SQL, same as Column API") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "mail me at a.b@example.com or 504-555-0123 from 10.0.0.1"),
      (2L, "nothing sensitive here")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("pii_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, pii_redact(text) AS c, pii_count(text) AS n
        |FROM pii_docs ORDER BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(viaSql(0)._2 == "mail me at <EMAIL> or <PHONE> from <IP>")
    assert(viaSql(0)._3 == 3L && viaSql(1)._3 == 0L)
    val viaCol = docs.select(col("doc_id"),
        graft.text.Pii.redact(col("text")).as("c"),
        (graft.text.Pii.emailCount(col("text")) +
          graft.text.Pii.phoneCount(col("text")) +
          graft.text.Pii.ipCount(col("text"))).cast("bigint").as("n"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(viaSql.toSeq == viaCol.toSeq)
    spark.catalog.dropTempView("pii_docs"): Unit
  }

  test("shard_by_tokens TABLE function == Curation.shardByTokens") {
    import org.apache.spark.sql.functions._
    val docs = (1L to 400L).map(i => (i, 100L + i % 37))
      .toDF("doc_id", "n_toks")
    docs.createOrReplaceTempView("sbt_docs")
    val tvf = spark.sql(
      "SELECT doc_id, shard FROM shard_by_tokens('sbt_docs', 'doc_id', " +
        "'n_toks', 5000) ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val api = graft.operators.Curation
      .shardByTokens(docs, "doc_id", "n_toks", 5000L)
      .select(col("doc_id"), col("shard"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tvf == api && tvf.values.toSet.size > 1)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM shard_by_tokens()").collect()
    }
    assert(e.getMessage.contains("requires at least"))
    spark.catalog.dropTempView("sbt_docs"): Unit
  }

  test("clean_stutter and contamination_spans usable from pure SQL, " +
      "same results as Column API") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the the cat sat sat sat on the mat"),
      (2L, "no stutter here at all"),
      (3L, "a a a a a")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("st_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, clean_stutter(text) AS c FROM st_docs ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaSql(1L) == "the cat sat on the mat")
    assert(viaSql(2L) == "no stutter here at all")
    assert(viaSql(3L) == "a")
    val viaCol = docs
      .select(col("doc_id"),
        graft.text.TextFunctions.stutterCollapse(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaSql == viaCol)

    // contamination_spans TABLE function == Dedup.contaminationSpans
    val shared = "S" * 30 + "-leaked-benchmark-span-" + "T" * 7 // 60 chars
    val train = Seq((10L, shared + "Qtrain tail padding padding"),
      (11L, "x" * 70)).toDF("doc_id", "text")
    val bench = Seq((90L, "intro " + shared + "Zout")).toDF("doc_id", "text")
    train.createOrReplaceTempView("ct_train")
    bench.createOrReplaceTempView("ct_bench")
    val tvf = spark.sql(
      """SELECT * FROM contamination_spans('ct_train', 'ct_bench',
        |  'text', 'doc_id', 20) ORDER BY doc_id, span_start""".stripMargin)
      .collect().map(_.toString).toSeq
    val api = graft.dedup.Dedup.contaminationSpans(train, bench,
        "text", "doc_id", window = 20)
      .orderBy("doc_id", "span_start").collect().map(_.toString).toSeq
    assert(tvf == api && tvf.nonEmpty)

    // missing required args → a usage message, not an opaque
    // spark.table("") parse error
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM contamination_spans()").collect()
    }
    assert(e1.getMessage.contains("requires at least"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM dsir_weights('ct_train')").collect()
    }
    assert(e2.getMessage.contains("requires at least"))
    Seq("st_docs", "ct_train", "ct_bench").foreach(spark.catalog.dropTempView)
  }

  test("media codec functions usable from pure SQL, same results as Column API") {
    import graft.multimodal.{Multimodal, PpmCodec, WavCodec, Y4mCodec}
    import spark.implicits._
    val wav = WavCodec.encode(WavCodec.Clip(8000, 1,
      Array.tabulate[Short](40)(i => ((i * 777) % 65536 - 32768).toShort)))
    val vid = Y4mCodec.encode(Y4mCodec.Video(2, 2, 10, 1,
      Vector.tabulate(3)(f => Array.tabulate(6)(i => ((f * 30 + i * 5) % 256).toByte))))
    val img = PpmCodec.encode(PpmCodec.Image(2, 2,
      Array.tabulate[Byte](12)(i => (i * 21).toByte)))
    Seq((1L, wav), (2L, vid), (3L, img)).toDF("id", "content")
      .createOrReplaceTempView("media_sql")

    val sqlRows = spark.sql(
      """SELECT id,
        | wav_stats(content).duration_ms AS wdur,
        | wav_stats(content).clipped AS wclip,
        | y4m_stats(content).n_frames AS vframes,
        | y4m_stats(content).motion_mean AS vmotion,
        | media_features(content)[0] AS f0
        |FROM media_sql ORDER BY id""".stripMargin).collect()
    // WAV row: stats match the codec; video/image rows are NULL for wav_stats
    val wst = WavCodec.stats(WavCodec.decode(wav).get)
    val vst = Y4mCodec.stats(Y4mCodec.decode(vid).get)
    assert(sqlRows(0).getLong(1) == wst.durationMs &&
      sqlRows(0).getLong(2) == wst.clipped)
    assert(sqlRows(0).isNullAt(3)) // wav is not a y4m
    assert(sqlRows(1).getInt(3) == vst.nFrames &&
      sqlRows(1).getDouble(4) == vst.motionMean)
    assert(sqlRows(1).isNullAt(1)) // y4m is not a wav
    // media_features dispatches per modality, equal to the Column API
    import org.apache.spark.sql.functions.{col => c}
    val apiF0 = Seq((1L, wav), (2L, vid), (3L, img)).toDF("id", "content")
      .select(c("id"),
        Multimodal.mediaFeatures(c("content")).getItem(0).as("f0"))
      .orderBy("id").collect().map(_.getFloat(1))
    assert(sqlRows.map(_.getFloat(5)).toSeq == apiF0.toSeq)

    // img_stats: the image-modality sibling — exact channel sums for
    // P6 AND PNG of the same pixels (container tag differs, sums don't)
    import graft.multimodal.PngCodec
    val decoded = PpmCodec.decode(img).get
    Seq((1L, img), (2L, PngCodec.encode(decoded)), (3L, wav))
      .toDF("id", "content").createOrReplaceTempView("img_sql")
    val ist = spark.sql(
      """SELECT id, img_stats(content).container AS c,
        | img_stats(content).sum_r AS sr, img_stats(content).sum_g AS sg,
        | img_stats(content).n_pixels AS np
        |FROM img_sql ORDER BY id""".stripMargin).collect()
    val wantR = decoded.rgb.grouped(3).map(p => p(0) & 0xff).sum.toLong
    val wantG = decoded.rgb.grouped(3).map(p => p(1) & 0xff).sum.toLong
    assert(ist(0).getString(1) == "p6" && ist(1).getString(1) == "png")
    Seq(0, 1).foreach { i =>
      assert(ist(i).getLong(2) == wantR && ist(i).getLong(3) == wantG &&
        ist(i).getLong(4) == 4L)
    }
    assert(ist(2).isNullAt(1)) // a wav is not an image
    spark.catalog.dropTempView("img_sql")
    spark.catalog.dropTempView("media_sql"): Unit
  }

  test("phash usable from pure SQL: dHash hex for P6 payloads, NULL otherwise") {
    import graft.multimodal.{PerceptualHash, PpmCodec, WavCodec}
    import spark.implicits._
    val img = PpmCodec.Image(5, 4,
      Array.tabulate[Byte](60)(i => (i * 37).toByte))
    val wav = WavCodec.encode(WavCodec.Clip(8000, 1,
      Array.tabulate[Short](20)(i => (i * 999).toShort)))
    Seq((1L, PpmCodec.encode(img)), (2L, wav))
      .toDF("id", "content").createOrReplaceTempView("phash_sql")
    val rows = spark.sql(
      "SELECT id, phash(content) AS h FROM phash_sql ORDER BY id").collect()
    assert(rows(0).getString(1) ==
      PerceptualHash.hex(PerceptualHash.dHash(img)))
    assert(rows(1).isNullAt(1))
    spark.catalog.dropTempView("phash_sql"): Unit
  }

  test("afp/vfp usable from pure SQL: fingerprints in-modality, NULL across") {
    import graft.multimodal.{PerceptualHash, SyntheticMedia, WavCodec, Y4mCodec}
    import spark.implicits._
    val wav = SyntheticMedia.wavPayload(7L)
    val y4m = SyntheticMedia.y4mPayload(8L)
    Seq((1L, wav), (2L, y4m))
      .toDF("id", "content").createOrReplaceTempView("fp_sql")
    val rows = spark.sql(
      "SELECT id, afp(content) AS a, vfp(content) AS v FROM fp_sql " +
        "ORDER BY id").collect()
    assert(rows(0).getInt(1) == PerceptualHash.energyFingerprint(
      WavCodec.decode(wav).get))
    assert(rows(0).isNullAt(2)) // WAV bytes are not a video
    assert(rows(1).isNullAt(1)) // Y4M bytes are not audio
    assert(rows(1).getInt(2) == PerceptualHash.videoFingerprint(
      Y4mCodec.decode(y4m).get))
    spark.catalog.dropTempView("fp_sql"): Unit
  }

  test("crawl-ingestion surface usable from pure SQL (one shared definition)") {
    Seq((1L,
      "HTTP://User@WWW.Ex.COM:80/a/b/?utm_source=x&b=2&a=1#frag",
      "cdn.a.site7.co.uk",
      "Cafe\u0301 \uFB01ne"))
      .toDF("id", "url", "host", "txt").createOrReplaceTempView("crawl_sql")
    val r = spark.sql(
      """SELECT url_canon(url) AS cu, url_host(url) AS h,
        |  registered_domain(host, 'uk,co.uk,com') AS rd,
        |  nfc(txt) AS n, nfkc(txt) AS nk, fold_key(txt) AS fk,
        |  robots_allowed('User-agent: *' || chr(10) || 'Disallow: /a',
        |    'bot', '/a/b') AS blocked,
        |  multi_match(txt, 'ne,e') AS mm
        |FROM crawl_sql""".stripMargin).collect().head
    assert(r.getString(0) == "http://www.ex.com/a/b?a=1&b=2")
    assert(r.getString(1) == "www.ex.com")
    assert(r.getString(2) == "site7.co.uk")
    assert(r.getString(3) == "Caf\u00e9 \uFB01ne") // NFC composes, keeps ligature
    assert(r.getString(4) == "Caf\u00e9 fine") // NFKC folds the ligature
    assert(r.getString(5) == "cafe \uFB01ne") // strip accent + casefold
    assert(!r.getBoolean(6))                  // Disallow /a matches
    // "Café ﬁne" raw: 'e' x2 ('e'+combining, plain 'e'), "ne" x1
    assert(r.getStruct(7).getLong(0) == 3L)
    val chunks = spark.sql(
      "SELECT cdc_chunks(repeat('word soup ', 40)) AS c").collect()
      .head.getSeq[String](0)
    assert(chunks.mkString == "word soup " * 40)
    spark.catalog.dropTempView("crawl_sql"): Unit
  }

  test("round-11 crawl surface usable from pure SQL: charset, entities, sitemap") {
    import graft.GraftFunctions
    // charset: cp1252 curly quotes under a latin1 label (WHATWG folds
    // the label to windows-1252); binary literal via unhex
    val cs = spark.sql(
      """SELECT sniff_charset('text/html; charset=latin1', unhex('937194')) AS c,
        |  decode_text('text/html; charset=latin1', unhex('937194')) AS t
        |""".stripMargin).collect().head
    assert(cs.getString(0) == "windows-1252")
    assert(cs.getString(1) == "“q”")
    val ent = spark.sql(
      "SELECT decode_entities('caf&eacute; &amp; bar &#147;x&#148;') AS e")
      .collect().head.getString(0)
    assert(ent == "café & bar “x”")
    val sm = spark.sql(
      """SELECT sitemap_urls('<urlset><url><loc>https://e.com/a?x=1&amp;y=2</loc>
        |<lastmod>2024-01-01</lastmod></url></urlset>') AS u,
        |  sitemap_children('<sitemapindex><sitemap><loc>https://e.com/s1.xml</loc>
        |</sitemap></sitemapindex>') AS ch""".stripMargin).collect().head
    val u = sm.getSeq[org.apache.spark.sql.Row](0)
    assert(u.size == 1 && u.head.getString(0) == "https://e.com/a?x=1&y=2" &&
      u.head.getString(1) == "2024-01-01")
    assert(sm.getSeq[String](1) == Seq("https://e.com/s1.xml"))
    // robots directives: global sitemap collection + per-group delay
    val rb = spark.sql(
      """SELECT robots_sitemaps('Sitemap: https://e.com/s.xml' || chr(10)
        |  || 'User-agent: *' || chr(10) || 'Crawl-delay: 2.5') AS sm,
        |  crawl_delay('User-agent: *' || chr(10) || 'Crawl-delay: 2.5',
        |    'anybot') AS cd""".stripMargin).collect().head
    assert(rb.getSeq[String](0) == Seq("https://e.com/s.xml"))
    assert(rb.getDouble(1) == 2.5)
  }

  test("round-12 crawl surface usable from pure SQL: http, resolve, outlinks") {
    import graft.GraftFunctions
    // http_parse: status/headers/body off a wire literal
    val h = spark.sql(
      """SELECT http_parse(cast('HTTP/1.1 301 Moved' || chr(13) || chr(10)
        |  || 'Location: /next' || chr(13) || chr(10)
        |  || 'Content-Length: 2' || chr(13) || chr(10)
        |  || chr(13) || chr(10) || 'ok' AS BINARY)) AS r""".stripMargin)
      .selectExpr("r._1 AS status", "r._2['location'] AS loc",
        "cast(r._3 AS STRING) AS body")
      .collect().head
    assert(h.getInt(0) == 301 && h.getString(1) == "/next" &&
      h.getString(2) == "ok")
    // url_resolve: the RFC merge + dot-segment rules
    val r = spark.sql(
      "SELECT url_resolve('http://a/b/c/d;p?q', '../g') AS u")
      .collect().head.getString(0)
    assert(r == "http://a/b/g")
    // outlinks: entity-decoded hrefs in document order
    val links = spark.sql(
      """SELECT outlinks('<a href="/x?a=1&amp;b=2">1</a><a href=y>2</a>')
        | AS ls""".stripMargin).collect().head.getSeq[String](0)
    assert(links == Seq("/x?a=1&b=2", "y"))
    // sitemap_children_checked: the same-host guard from SQL
    val ch = spark.sql(
      """SELECT sitemap_children_checked('https://a.com/sm.xml',
        |  '<sitemapindex><sitemap><loc>https://a.com/s1.xml</loc></sitemap>
        |   <sitemap><loc>https://evil.com/s2.xml</loc></sitemap>
        |  </sitemapindex>') AS ch""".stripMargin)
      .collect().head.getSeq[String](0)
    assert(ch == Seq("https://a.com/s1.xml"))
  }

  test("archive-index surface usable from pure SQL: surt, cdx, anchors") {
    import graft.GraftFunctions
    // surt_key: spelling collapse as a SQL scalar
    val k = spark.sql(
      """SELECT surt_key('https://WWW.Example.com:443/A?b=2&a=1') AS k1,
        |  surt_key('http://example.com/a?a=1&b=2') AS k2""".stripMargin)
      .collect().head
    assert(k.getString(0) == "com,example)/a?a=1&b=2")
    assert(k.getString(1) == k.getString(0))
    // cdx_index → cdx_fetch round-trip entirely in SQL: index a
    // two-member blob, fetch the SECOND member by its recorded extent
    val blob = graft.ingest.Warc.writeRecord(1L, "http://a/1",
      "one".getBytes("UTF-8")) ++
      graft.ingest.Warc.writeRecord(2L, "http://a/2",
        "two".getBytes("UTF-8"))
    spark.createDataFrame(Seq(Tuple1(blob))).toDF("blob")
      .createOrReplaceTempView("shard")
    val f = spark.sql(
      """SELECT cast(f._3 AS STRING) AS body, f._2 AS uri FROM (
        |  SELECT cdx_fetch(blob, e._4, e._5) AS f
        |  FROM (SELECT blob, explode(cdx_index(blob)) AS e FROM shard)
        |  WHERE e._1 = 2)""".stripMargin).collect().head
    assert(f.getString(0) == "two" && f.getString(1) == "http://a/2")
    // anchor_pairs: text alongside the href
    val a = spark.sql(
      """SELECT anchor_pairs(
        |  '<a href="/x"><b>bold</b> link</a><a href="/y">b &amp; c</a>')
        | AS ps""".stripMargin).collect().head
      .getSeq[org.apache.spark.sql.Row](0)
    assert(a.map(r => (r.getString(0), r.getString(1))) ==
      Seq(("/x", "bold link"), ("/y", "b & c")))
  }
}
