package graft

import graft.ingest.StagingReader
import graft.schema.Schemas
import graft.streaming.StreamingIngest
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Structured-Streaming surface: file-source streams, windowed counts
  * with watermark, streaming sketch aggregates and foreachBatch
  * pipelines that must equal their batch runs. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** The events parquet as a file-source stream, with `ts` normalized
    * the way [[Tables.events]] normalizes the batch read. */
  private def eventStream(dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.option("pathGlobFilter", "events.parquet")
      .parquet(dir).schema
    val raw = StreamingIngest.readStream(spark, dir, schema,
      globFilter = "events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** A staging directory as a file-source stream: the multiLine
    * EventDTO read of [[StagingReader.readStaged]], related artists
    * lifted the same way. */
  private def stagedStream(dir: String): DataFrame = {
    def lifted(c: String) = col(c).withField("related_artists_lifted",
      StagingReader.liftRelatedArtists(col(s"$c.related_artists")))
    spark.readStream.schema(Schemas.eventDto)
      .option("multiLine", true).json(dir)
      .withColumn("artist_data", lifted("artist_data"))
      .withColumn("event_data", lifted("event_data"))
  }

  test("windowed counts over a file stream equal the batch aggregation") {
    val sf = "/root/testdata/sf0.001"
    val batchEvents = Tables.events(spark, sf)
    val streamed = eventStream(sf)
    val agg = StreamingIngest.windowedCounts(streamed)
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_counts")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("win_counts")
      .orderBy("window_start_us", "event_type").collect()
    val want = StreamingIngest.windowedCounts(batchEvents)
      .orderBy("window_start_us", "event_type").collect()
    assert(got.length == want.length)
    assert(got.zip(want).forall { case (a, b) => a == b })
  }

  test("streaming incremental near-dup detection: arriving docs probe the " +
       "corpus LSH index per micro-batch, equal to the batch run (q65 " +
       "streaming mode)") {
    import graft.dedup.Dedup
    val sf = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200).cache()
    corpus.count()
    // the "arriving" docs: copies of corpus docs (guaranteed near-dups)
    // plus fresh ids, written as two json files = two micro-batches
    val dir = Files.createTempDirectory("graft-stream-docs").toString
    val batch1 = corpus.limit(5)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val batch2 = corpus.filter(col("doc_id") >= 5).limit(5)
      .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
    batch1.coalesce(1).write.json(s"$dir/b1")
    batch2.coalesce(1).write.json(s"$dir/b2")

    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .json(s"$dir/*")
    val ckpt = Files.createTempDirectory("graft-dedup-ckpt").toString
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val cands = Dedup.minhashIncrementalCandidates(
          corpus, batch, "text", "doc_id")
        results.synchronized {
          results ++= cands.collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }.start()
    q.processAllAvailable(); q.stop()

    // batch reference: the same probe over the union of both batches
    val want = Dedup.minhashIncrementalCandidates(
        corpus, batch1.unionByName(batch2), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(results.toSet == want, s"streaming=${results.toSet} batch=$want")
    // every copied doc found its source in the corpus
    assert(want.map(_._1).map(id => id % 100000L).toSet
      .subsetOf(corpus.collect().map(_.getLong(0)).toSet))
    assert(want.nonEmpty)
    corpus.unpersist()
  }

  test("streaming incremental ExactSubstr: each micro-batch is " +
       "span-checked against the fingerprint index, then appended to it " +
       "— a later batch's verbatim copy of an earlier batch flags") {
    import graft.dedup.Dedup
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
    val idx = Files.createTempDirectory("graft-stream-fp").toString + "/idx"
    Dedup.writeWindowFingerprints(corpus, "text", "doc_id", idx)
    // two micro-batches: b1 copies a corpus doc AND introduces fresh
    // text; b2 copies b1's FRESH text — only detectable because the
    // foreachBatch sink appended b1's fingerprints after probing
    val fresh = "entirely new boilerplate that only batch one carries " * 3
    val dir = Files.createTempDirectory("graft-stream-fp-docs").toString
    val corpusText = corpus.filter(col("doc_id") === 0)
      .select("text").head().getString(0)
    Seq((100001L, corpusText), (100002L, fresh))
      .toDF("doc_id", "text").coalesce(1).write.json(s"$dir/b1")
    Seq((200001L, fresh), (200002L, "genuinely unique text " * 10))
      .toDF("doc_id", "text").coalesce(1).write.json(s"$dir/b2")

    val flagged = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .json(s"$dir/*")
    val ckpt = Files.createTempDirectory("graft-fp-ckpt").toString
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val spans = Dedup.crossDocSpansIncremental(
          spark, idx, batch, "text", "doc_id")
        flagged.synchronized {
          flagged ++= spans.select("doc_id").distinct()
            .collect().map(_.getLong(0))
        }
        // probe-then-append: this batch's text now owns its windows
        Dedup.appendWindowFingerprintStats(
          Dedup.batchWindowStats(batch, "text", "doc_id"), idx)
        ()
      }.start()
    q.processAllAvailable(); q.stop()

    // b1: the corpus copy flags, the fresh text doesn't; b2: the copy
    // of b1's fresh text flags (via the append), the unique doc doesn't
    assert(flagged.toSet == Set(100001L, 200001L), s"got ${flagged.toSet}")
  }

  test("custom sketch aggregates work in streaming: hll_distinct per group") {
    import graft.sketch.HllSketch.hll_distinct
    val sf = "/root/testdata/sf0.001"
    val streamed = eventStream(sf)
    val agg = streamed.groupBy(col("event_type"))
      .agg(hll_distinct(col("user_id").cast("string"), 9).as("est_users"))
    val ckpt = Files.createTempDirectory("graft-ckpt-hll").toString
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("hll_stream")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    val streamedEst = spark.table("hll_stream")
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // identical to the batch sketch: register max-merge is incremental-
    // execution-proof, the property that makes it a streaming aggregate
    val batchEst = Tables.events(spark, sf).groupBy(col("event_type"))
      .agg(hll_distinct(col("user_id").cast("string"), 9).as("est_users"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamedEst == batchEst)
    assert(streamedEst.forall(_._2 > 0))
  }

  test("hist_quantile sketch streams: complete-mode agg == batch") {
    import graft.sketch.HistQuantile.hist_quantile
    val sf = "/root/testdata/sf0.001"
    val streamed = eventStream(sf)
      .groupBy(col("event_type"))
      .agg(hist_quantile(col("value"), 0.9, 0.0, 500.0, 128).as("p90"))
    val ckpt = Files.createTempDirectory("graft-ckpt-hq").toString
    val q = streamed.writeStream.outputMode("complete")
      .format("memory").queryName("hq_stream")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("hq_stream").orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val batch = Tables.events(spark, sf).groupBy(col("event_type"))
      .agg(hist_quantile(col("value"), 0.9, 0.0, 500.0, 128).as("p90"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == batch) // vector-add merge is incremental-execution-proof
  }

  test("update output mode emits per-batch changed groups") {
    val sf = "/root/testdata/sf0.001"
    val agg = StreamingIngest.windowedCounts(
      eventStream(sf))
    val ckpt = Files.createTempDirectory("graft-upd-ckpt").toString
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("upd_counts")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    // single batch -> the update stream carries every group exactly once,
    // equal to the batch aggregation
    val got = spark.table("upd_counts")
      .orderBy("window_start_us", "event_type").collect()
    val want = StreamingIngest.windowedCounts(Tables.events(spark, sf))
      .orderBy("window_start_us", "event_type").collect()
    assert(got.length == want.length && got.zip(want).forall(p => p._1 == p._2))
  }

  test("streaming flush to the DSv2 KV sink via foreachBatch (S7 streaming mode)") {
    val src = Files.createTempDirectory("graft-kv-stream-src").toString
    val out = Files.createTempDirectory("graft-kv-stream-out").toString
    val ckpt = Files.createTempDirectory("graft-kv-stream-ckpt").toString
    Seq(("events:2024-01-01", """[1]""", 3600L),
        ("events:2024-01-02", """[2]""", 43200L))
      .toDF("cache_key", "payload_json", "ttl_s")
      .write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    val q = StreamingIngest.readStream(spark, src, schema)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // append per micro-batch; the connector's 2-phase commit makes
        // each batch's flush atomic even mid-stream
        batch.write.format("graft.sources.KvCacheSink")
          .option("path", out).mode("append").save()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val back = spark.read.format("graft.sources.KvCacheSink")
      .option("path", out).load()
    assert(back.count() == 2)
    assert(back.orderBy("cache_key").collect().map(_.getString(0)).toSeq ==
      Seq("events:2024-01-01", "events:2024-01-02"))
  }

  test("streaming SCD2: per-batch history rebuild converges to the batch answer") {
    // incremental SCD2 via foreachBatch: each micro-batch appends its
    // raw changes to an accumulator table and rebuilds the history from
    // it (recompute-from-accumulated — exact, idempotent under replay;
    // at scale the same loop merges only affected keys). The invariant:
    // after all batches, the maintained history == one-shot batch Scd2.
    import graft.dims.Scd2
    val srcDir = Files.createTempDirectory("graft-scd2-src")
    val ckpt = Files.createTempDirectory("graft-scd2-ckpt").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq((9L, 1L, ts("2024-02-01 10:00:00"), "new"),
      (9L, 2L, ts("2024-02-01 11:00:00"), "active"))
      .toDF("uid", "seq", "ts", "status")
    b1.write.mode("overwrite").parquet(srcDir.toString)
    val schema = spark.read.parquet(srcDir.toString).schema

    var history: Array[org.apache.spark.sql.Row] = Array.empty
    val accum = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    def runOnce(): Unit = {
      val q = StreamingIngest.readStream(spark, srcDir.toString, schema)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          accum.synchronized { accum ++= b.collect() }
          val all = spark.createDataFrame(
            spark.sparkContext.parallelize(accum.toSeq), schema)
          history = Scd2.fromChanges(all, Seq("uid"), "ts", "seq",
            Seq("status")).orderBy("uid", "valid_from").collect()
          (): Unit
        }
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(history.length == 2) // new -> active, open-ended

    // batch 2 arrives: a churn event closes the active version
    Seq((9L, 3L, ts("2024-02-01 12:00:00"), "churned"))
      .toDF("uid", "seq", "ts", "status")
      .write.mode("append").parquet(srcDir.toString)
    runOnce()

    val want = Scd2.fromChanges(
      spark.read.parquet(srcDir.toString), Seq("uid"), "ts", "seq",
      Seq("status")).orderBy("uid", "valid_from").collect()
    assert(history.length == 3 && want.length == 3)
    assert(history.toSeq == want.toSeq)
    assert(history.count(_.getAs[Boolean]("is_current")) == 1)
  }

  test("e2e daily loader as a stream: ingest→dims→fact→serve via " +
       "foreachBatch + KV sink equals the sequential batch runs") {
    import graft.pipeline.{Pipeline, SyntheticStaging, Warehouse}
    import graft.serve.CacheManager
    import graft.ingest.StagingReader
    val sf = sys.env.getOrElse("SPARK_GRAFT_E2E_SF", "/root/testdata/sf0.001")
    val srcDir = Files.createTempDirectory("graft-e2e-src")
    val ckpt = Files.createTempDirectory("graft-e2e-ckpt").toString
    val kvStreamDir = Files.createTempDirectory("graft-e2e-kv-s").toString
    val kvBatchDir = Files.createTempDirectory("graft-e2e-kv-b").toString
    val today = "2024-01-15"

    // the reference's daily staged S3 arrays: the synthetic staging
    // corpus split into two "scrape day" JSON array files
    val staged = SyntheticStaging.fromOrders(spark, sf)
    val split = pmod(xxhash64(col("event_data.wwoz_event_href")), lit(2))
    def arrayJson(df: org.apache.spark.sql.DataFrame): String =
      df.toJSON.collect().mkString("[\n", ",\n", "\n]")
    val day1 = arrayJson(staged.filter(split === 0))
    val day2 = arrayJson(staged.filter(split === 1))

    // serve the two busiest event dates (deterministic pick)
    val serveDates = staged
      .groupBy(col("event_data.event_date").as("d")).count()
      .orderBy(desc("count"), asc("d")).limit(2)
      .collect().map(_.getString(0)).toSeq.sorted

    def serve(w: Warehouse, dir: String): Unit =
      CacheManager.warmRange(w, serveDates, today)
        .select(col("cache_key"), col("payload_json"), col("ttl_s"))
        .write.format("graft.sources.KvCacheSink")
        .option("path", dir).mode("overwrite").save()

    // day-over-day state: localCheckpoint pins each day's warehouse so
    // batch N+1 neither re-reads batch N's (gone) micro-batch source nor
    // replans the whole prefix — the iterative-Spark guard applied to
    // the daily-merge loop
    def pin(w: Warehouse): Warehouse = w.copy(
      genres = w.genres.localCheckpoint(),
      artists = w.artists.localCheckpoint(),
      venues = w.venues.localCheckpoint(),
      events = w.events.localCheckpoint(),
      artistGenres = w.artistGenres.localCheckpoint(),
      venueGenres = w.venueGenres.localCheckpoint(),
      eventGenres = w.eventGenres.localCheckpoint(),
      artistRelations = w.artistRelations.localCheckpoint(),
      quarantine = w.quarantine.localCheckpoint())

    var wh: Warehouse = Pipeline.emptyWarehouse(spark)
    def runOnce(): Unit = {
      val q = stagedStream(srcDir.toString)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) {
            wh = pin(Pipeline.run(spark, b, wh, today))
            serve(wh, kvStreamDir)
          }: Unit
        }
        .start()
      q.awaitTermination()
    }

    Files.writeString(srcDir.resolve("event_data_2024-01-13.json"), day1)
    runOnce()
    val eventsAfterDay1 = wh.events.count()
    Files.writeString(srcDir.resolve("event_data_2024-01-14.json"), day2)
    runOnce()

    // batch reference: the same two files as sequential daily runs
    val wb1 = Pipeline.run(spark,
      StagingReader.readStaged(spark,
        srcDir.resolve("event_data_2024-01-13.json").toString),
      Pipeline.emptyWarehouse(spark), today)
    val wb2 = Pipeline.run(spark,
      StagingReader.readStaged(spark,
        srcDir.resolve("event_data_2024-01-14.json").toString),
      wb1, today)
    serve(wb2, kvBatchDir)

    assert(eventsAfterDay1 > 0)
    assert(wh.events.count() > eventsAfterDay1) // day 2 merged new facts

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.toJSON.collect().toSeq.sorted
    assert(rows(wh.events) == rows(wb2.events))
    assert(rows(wh.artists) == rows(wb2.artists))
    assert(rows(wh.venues) == rows(wb2.venues))
    assert(rows(wh.genres) == rows(wb2.genres))
    assert(rows(wh.artistGenres) == rows(wb2.artistGenres))
    assert(rows(wh.eventGenres) == rows(wb2.eventGenres))
    assert(rows(wh.artistRelations) == rows(wb2.artistRelations))
    assert(wh.summary == wb2.summary)

    // the serving cache written FROM the stream equals the batch one,
    // read back THROUGH the connector
    def kv(dir: String) = spark.read.format("graft.sources.KvCacheSink")
      .option("path", dir).load()
    assert(rows(kv(kvStreamDir)) == rows(kv(kvBatchDir)))
    val served = kv(kvStreamDir).collect()
    assert(served.length == serveDates.length)
    assert(served.forall(r => r.getAs[String]("payload_json").startsWith("[")))
  }

  test("streaming curation funnel: gopher → near-dup probe → decontaminate " +
       "→ DSIR → classifier per micro-batch equals the one-shot batch run, " +
       "survivor counts equal per stage") {
    import graft.dedup.Dedup
    import graft.operators.{HashedLogReg, ImportanceSelect}
    import graft.text.TextFunctions
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    // the production split: docs % 3 != 0 is the HISTORICAL corpus all
    // frozen artifacts derive from; % 3 == 0 arrives later as a stream
    val hist = docs.filter(col("doc_id") % 3 =!= 0).cache()
    hist.count()
    val evalSet = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), col("text")).cache()
    evalSet.count()
    val model = HashedLogReg.train(hist, "text",
      TextFunctions.langId(col("text")) === "en", "doc_id",
      dim = 256, iters = 10, lr = 4.0)
    val ratio = ImportanceSelect.dsirRatio(hist,
      hist.filter(col("lang") === "en"), "text").cache()
    ratio.count()

    // arrivals: two id-range slices of the held-out third, plus planted
    // exact copies of historical docs (guaranteed near-dup hits)
    val dir = Files.createTempDirectory("graft-funnel").toString
    val copies = hist.filter(col("doc_id") < 3)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val arrive1 = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") < 120)
      .select(col("doc_id"), col("text")).unionByName(copies)
    val arrive2 = docs
      .filter(col("doc_id") % 3 === 0 &&
        col("doc_id") >= 120 && col("doc_id") < 240)
      .select(col("doc_id"), col("text"))
    arrive1.coalesce(1).write.json(s"$dir/b1")
    arrive2.coalesce(1).write.json(s"$dir/b2")

    // the per-batch funnel — every stage probes a FROZEN artifact
    // (corpus LSH index, eval-set grams, ratio frame, model weights);
    // nothing rescans or retrains on the historical corpus per batch
    def funnel(batch: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val rep = TextFunctions.gopherRepetition(batch, "text", "doc_id")
        .select(col("doc_id"), col("keep").as("_k1"))
      val qual = TextFunctions.gopherQuality(batch, "text", "doc_id")
        .select(col("doc_id"), col("keep").as("_k2"))
      val nd = Dedup.minhashIncrementalCandidates(hist, batch,
          "text", "doc_id")
        .select(col("id_new").as("doc_id")).distinct()
        .withColumn("_nd", lit(true))
      val contam = Dedup.decontaminate(batch, evalSet, "text", "doc_id")
        .select(col("doc_id"), lit(true).as("_c"))
      val dsir = ImportanceSelect.scoreWith(ratio, batch, "text", "doc_id")
        .select(col("doc_id"), col("selected").as("_k5"))
      val clf = HashedLogReg.score(batch, "text", "doc_id", model)
        .select(col("doc_id"), (col("prob") > 0.5).as("_k6"))
      batch.select(col("doc_id"))
        .join(rep, Seq("doc_id"), "left")
        .join(qual, Seq("doc_id"), "left")
        .join(nd, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left")
        .join(dsir, Seq("doc_id"), "left")
        .join(clf, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("_k1"), lit(false)).as("k1"),
          coalesce(col("_k2"), lit(false)).as("k2"),
          col("_nd").isNull.as("k3"),
          col("_c").isNull.as("k4"),
          coalesce(col("_k5"), lit(false)).as("k5"),
          coalesce(col("_k6"), lit(false)).as("k6"))
    }
    def flagsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
    def survivors(rows: Iterable[(Long, Boolean, Boolean, Boolean,
        Boolean, Boolean, Boolean)]): Seq[Int] = {
      val ks = rows.toSeq.map(t => Seq(t._2, t._3, t._4, t._5, t._6, t._7))
      (0 to 6).map(i => ks.count(_.take(i).forall(identity)))
    }

    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .json(s"$dir/*")
    val ckpt = Files.createTempDirectory("graft-funnel-ckpt").toString
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= flagsOf(funnel(batch)) }
        ()
      }.start()
    q.processAllAvailable(); q.stop()

    val want = flagsOf(funnel(arrive1.unionByName(arrive2))).toSet
    assert(got.toSet == want,
      s"streaming flags != one-shot batch flags (diff: " +
        s"${(got.toSet diff want) ++ (want diff got.toSet)})")
    val sGot = survivors(got); val sWant = survivors(want)
    info(s"survivors per stage: $sGot")
    assert(sGot == sWant, s"survivor counts: streaming=$sGot batch=$sWant")
    // non-degenerate: the planted copies died at the near-dup probe,
    // the funnel actually filters, and someone survives it all
    val copyIds = copies.collect().map(_.getLong(0)).toSet
    assert(want.filter(t => copyIds(t._1)).forall(!_._4),
      "planted exact copies must be flagged by the near-dup probe")
    assert(sWant.head > sWant.last && sWant.last > 0,
      s"degenerate funnel: $sWant")
    hist.unpersist(); evalSet.unpersist(); ratio.unpersist()
  }

  test("streaming quality gate: arriving docs pass the frozen classifier " +
       "+ Gopher rules per micro-batch, equal to the batch filter") {
    import graft.operators.HashedLogReg
    import graft.text.TextFunctions
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).cache()
    docs.count()
    // train ONCE on the historical corpus (label = the langId rule),
    // then serve the frozen model against the stream — the production
    // split: training is offline, the stream only scores
    val model = HashedLogReg.train(docs, "text",
      TextFunctions.langId(col("text")) === "en", "doc_id",
      dim = 256, iters = 10, lr = 4.0)

    val dir = Files.createTempDirectory("graft-qgate").toString
    // id-range filters, not limit(): these frames are evaluated twice
    // (JSON write + batch reference) and limit without order is not
    // deterministic across executions
    val arrive1 = docs.filter(col("doc_id") < 6)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val arrive2 = docs.filter(col("doc_id") >= 6 && col("doc_id") < 12)
      .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
    arrive1.coalesce(1).write.json(s"$dir/b1")
    arrive2.coalesce(1).write.json(s"$dir/b2")

    def gate(batch: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val rules = TextFunctions.gopherRepetition(batch, "text", "doc_id")
        .filter(col("top_word_frac") <= 0.3)
        .select(col("doc_id"))
      HashedLogReg.score(batch, "text", "doc_id", model)
        .join(rules, "doc_id")
        .select(col("doc_id"), (col("prob") > 0.5).as("pred_en"))
    }

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .json(s"$dir/*")
    val ckpt = Files.createTempDirectory("graft-qgate-ckpt").toString
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= gate(batch).collect()
            .map(r => (r.getLong(0), r.getBoolean(1)))
        }
        ()
      }.start()
    q.processAllAvailable(); q.stop()

    val want = gate(arrive1.unionByName(arrive2))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(got.toSet == want, s"streaming=${got.toSet} batch=$want")
    assert(want.nonEmpty)
    docs.unpersist()
  }

  test("streaming media decode: mediaFeatures over a file stream equals batch") {
    // the multimodal path in Structured Streaming: real P6/WAV payloads
    // arrive as a parquet file stream, the streaming-safe mediaFeatures
    // UDF decodes them per micro-batch, and the features equal the
    // batch extractFeatures dispatch on the same rows
    import graft.multimodal.{Multimodal, PpmCodec, WavCodec}
    val dir = Files.createTempDirectory("graft-media-src")
    val ckpt = Files.createTempDirectory("graft-media-ckpt").toString
    val rows = (0L until 12L).map { i =>
      val bytes =
        if (i % 2 == 0) {
          val w = (i % 5 + 2).toInt; val h = (i % 3 + 2).toInt
          PpmCodec.encode(PpmCodec.Image(w, h,
            Array.tabulate[Byte](w * h * 3)(c => ((i * 31 + c * 7) % 256).toByte)))
        } else WavCodec.encode(WavCodec.Clip(8000, 1,
          Array.tabulate[Short](64)(j => ((i * 17 + j * 997) % 65536 - 32768).toShort)))
      (i, bytes)
    }
    rows.toDF("doc_id", "content")
      .write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val collected = scala.collection.mutable.ArrayBuffer[(Long, Seq[Float])]()
    val q = StreamingIngest.readStream(spark, dir.toString, schema)
      .select(col("doc_id"), Multimodal.mediaFeatures(col("content")).as("f"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(r =>
            (r.getLong(0), r.getSeq[Float](1)))
        }: Unit
      }.start()
    q.awaitTermination()
    val batch = Multimodal.extractFeatures(
        rows.toDF("doc_id", "content").withColumn("media_type", lit("x")))
      .select("doc_id", "features").as[(Long, Seq[Float])].collect().toMap
    assert(collected.size == 12)
    collected.foreach { case (id, f) => assert(f == batch(id), s"doc $id") }
  }

  test("streaming index ingestion: foreachBatch adds keep the probe exact") {
    // the serving-side write path as a stream: a stored graph index
    // built from a base batch, arriving vectors added per micro-batch
    // through the SAME addToGraphIndex the batch path uses; at
    // covering efSearch the probe is exhaustive per sub-graph, so the
    // final index must answer EXACTLY the brute top-k over base+stream
    import graft.vector.{HnswIndex, VectorFunctions}
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dir = Files.createTempDirectory("graft-annstream-src")
    val ckpt = Files.createTempDirectory("graft-annstream-ckpt").toString
    val idx = Files.createTempDirectory("graft-annstream-idx").toString + "/g"
    val p = HnswIndex.Params(m = 8, efConstruction = 64,
      efSearch = 1 << 20)
    HnswIndex.writeGraphIndex(emb.filter(col("vec_id") < 200),
      "embedding", "vec_id", idx, p)
    val schema = emb.schema
    def runOnce(): Unit = {
      val q = StreamingIngest.readStream(spark, dir.toString, schema)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty)
            HnswIndex.addToGraphIndex(spark, idx, b, "embedding",
              "vec_id", p): Unit
        }
        .start()
      q.awaitTermination()
    }
    emb.filter(col("vec_id") >= 200 && col("vec_id") < 350)
      .write.mode("overwrite").parquet(dir.toString)
    runOnce()
    emb.filter(col("vec_id") >= 350)
      .write.mode("append").parquet(dir.toString)
    runOnce()

    val qv = emb.filter(col("vec_id") === 7)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val got = HnswIndex.searchGraphIndex(spark, idx, "vec_id",
        Seq((0L, qv)), k = 10, p)
      .select(col("vec_id")).as[Long].collect().toSeq
    val brute = emb
      .select(col("vec_id"),
        VectorFunctions.cosine_sim(col("embedding"), lit(qv)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(10)
      .select(col("vec_id")).as[Long].collect().toSeq
    assert(got == brute, s"probe=$got brute=$brute")
    // the streamed adds really landed (the index covers the full set)
    assert(spark.read.parquet(idx).agg(sum(col("n_vectors")))
      .head().getLong(0) == emb.count())
  }

  test("streaming image dedup: arriving payloads probe the stored signature table") {
    // the incremental form of q234: a stored distinct-phash table built
    // from the base corpus; arriving image batches compute phash with
    // the streaming-safe UDF, probe the store (exact-signature match),
    // and append their novel hashes — so a dup arriving in a LATER
    // batch is caught by an EARLIER batch's append. Semantics are
    // batch-grain: two same-hash docs inside one micro-batch are both
    // novel (the q234 exact-group view would collapse them offline).
    import graft.multimodal.{Multimodal, PerceptualHash, PpmCodec, SyntheticMedia}
    val dir = Files.createTempDirectory("graft-phash-src")
    val ckpt = Files.createTempDirectory("graft-phash-ckpt").toString
    val seenPath = Files.createTempDirectory("graft-phash-seen").toString + "/seen"
    def hashOf(id: Long): String = {
      val img = PpmCodec.decode(SyntheticMedia.ppmPayload(id)).get
      PerceptualHash.hex(PerceptualHash.dHash(img))
    }
    val baseIds = (0L until 60L by 3L).toSeq
    // pixel formulas are 256-periodic in doc_id, so id+256 is a planted
    // exact dup: 262/265 dup base docs 6/9; 359 dups batch-1's 103
    val batch1 = Seq(100L, 101L, 102L, 103L, 262L)
    val batch2 = Seq(110L, 111L, 265L, 359L)
    baseIds.map(i => (i, SyntheticMedia.ppmPayload(i)))
      .toDF("doc_id", "content")
      .select(Multimodal.phash(col("content")).as("phash"))
      .distinct().write.mode("overwrite").parquet(seenPath)
    val schema = spark.createDataFrame(
      Seq((0L, Array[Byte]())).toDF("doc_id", "content").rdd,
      Seq((0L, Array[Byte]())).toDF("doc_id", "content").schema).schema
    val dupIds = scala.collection.mutable.ArrayBuffer[Long]()
    def runOnce(): Unit = {
      val q = StreamingIngest.readStream(spark, dir.toString, schema)
        .select(col("doc_id"), Multimodal.phash(col("content")).as("phash"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) {
            val seen = spark.read.parquet(seenPath)
            val flagged = b.join(seen.withColumn("_dup", lit(1)),
              Seq("phash"), "left").cache()
            dupIds.synchronized {
              dupIds ++= flagged.filter(col("_dup").isNotNull)
                .select(col("doc_id")).as[Long].collect()
            }
            flagged.filter(col("_dup").isNull).select(col("phash"))
              .distinct().write.mode("append").parquet(seenPath)
            flagged.unpersist(): Unit
          }
        }
        .start()
      q.awaitTermination()
    }
    batch1.map(i => (i, SyntheticMedia.ppmPayload(i)))
      .toDF("doc_id", "content").write.mode("overwrite").parquet(dir.toString)
    runOnce()
    batch2.map(i => (i, SyntheticMedia.ppmPayload(i)))
      .toDF("doc_id", "content").write.mode("append").parquet(dir.toString)
    runOnce()

    // ground truth replayed at hash level with the same batch semantics
    var seenSet = baseIds.map(hashOf).toSet
    val expected = scala.collection.mutable.ArrayBuffer[Long]()
    Seq(batch1, batch2).foreach { ids =>
      expected ++= ids.filter(i => seenSet.contains(hashOf(i)))
      seenSet ++= ids.map(hashOf)
    }
    assert(dupIds.sorted == expected.sorted)
    assert(dupIds.contains(262L) && dupIds.contains(265L) &&
      dupIds.contains(359L)) // cross-batch dup caught by batch-1 append
    assert(spark.read.parquet(seenPath).distinct().count() == seenSet.size)
  }

  test("streaming frontier: per-batch discovery anti-joins the seen set " +
    "across waves (q311's loop run continuously)") {
    // the crawl loop as it actually runs: fetch results arrive in
    // waves; each wave's outlinks resolve→canon→robots-gate, then
    // anti-join the accumulated seen set (fetched ∪ already-emitted),
    // and only the NOVEL urls are emitted as the next frontier. Wave 2
    // fetches urls wave 1 emitted and re-discovers wave-1 links — the
    // cross-batch state must swallow both.
    import graft.extract.Outlinks
    import graft.text.{UrlCanon, UrlResolve}
    import graft.ingest.Robots
    import org.apache.spark.sql.DataFrame
    val dir = Files.createTempDirectory("graft-frontier-src")
    val ckpt = Files.createTempDirectory("graft-frontier-ckpt").toString
    val seenPath = Files.createTempDirectory("graft-frontier-seen")
      .toString + "/seen"
    val robots = "User-agent: *\nDisallow: /private/\n"

    def page(host: Int, id: String, hrefs: Seq[String]): (String, String) = (
      s"http://www.site$host.example.com/p/$id",
      hrefs.map(h => s"""<a href="$h">x</a>""").mkString(" "))

    def fetchedUrls(b: DataFrame): DataFrame =
      b.select(UrlCanon.canon(col("base")).as("url")).distinct()
    def discovered(b: DataFrame): DataFrame = b
      .select(col("base"), explode(Outlinks.hrefsUdf(col("html"))).as("href"))
      .select(UrlCanon.canon(
        UrlResolve.resolveUdf(col("base"), col("href"))).as("url"))
      .withColumn("path",
        regexp_extract(col("url"), "^[a-z]+://[^/]+(/[^?#]*)", 1))
      .filter(Robots.allowedUdf(lit(robots), lit("graftbot"), col("path")))
      .select("url").distinct()

    Seq.empty[String].toDF("url").write.parquet(seenPath)
    val emitted = scala.collection.mutable.ArrayBuffer[String]()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("base", "string").add("html", "string")
    def runOnce(): Unit = {
      val q = StreamingIngest.readStream(spark, dir.toString, schema)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) {
            val seen = spark.read.parquet(seenPath)
            val fetched = fetchedUrls(b)
            val fresh = discovered(b)
              .join(seen.unionByName(fetched).distinct(),
                Seq("url"), "left_anti")
              .collect().map(_.getString(0)).sorted
            emitted.synchronized { emitted ++= fresh }: Unit
            fetched.unionByName(
                fresh.toSeq.toDF("url"))
              .write.mode("append").parquet(seenPath)
          }
        }
        .start()
      q.awaitTermination()
    }

    // wave 1: two fetched pages; /private/ blocked; the utm variant,
    // the relative new/3.html and a scheme-relative cross-host link
    val wave1 = Seq(
      page(1, "1", Seq("/p/2?utm_source=a", "new/3.html", "/private/x1")),
      page(2, "9", Seq("//www.site1.example.com/p/2", "/p/10")))
    wave1.toDF("base", "html").write.mode("overwrite").parquet(dir.toString)
    runOnce()
    val wave1Emitted = emitted.toList
    assert(wave1Emitted.size == 3, wave1Emitted) // s1/p/2, s1/p/new/3.html, s2/p/10

    // wave 2 fetches two urls wave 1 emitted; re-discovers /p/2 and
    // new/3.html (must NOT re-emit), self-links its own page (now
    // fetched), and finds two genuinely new urls
    val wave2 = Seq(
      page(1, "2", Seq("/p/2", "/p/4", "new/3.html")),
      page(2, "10", Seq("/private/y", "/p/11")))
    wave2.toDF("base", "html").write.mode("append").parquet(dir.toString)
    runOnce()
    val wave2Emitted = emitted.toList.drop(wave1Emitted.size)
    assert(wave2Emitted.size == 2, wave2Emitted) // s1/p/4, s2/p/11
    assert(wave2Emitted.exists(_.endsWith("/p/4")) &&
      wave2Emitted.exists(_.endsWith("/p/11")), wave2Emitted)
    // no url ever emitted twice across waves
    assert(emitted.distinct.size == emitted.size, emitted)
    assert(emitted.count(_.endsWith("site1.example.com/p/2")) == 1)

    // the streamed seen set equals the batch-mode computation over all
    // four pages at once: fetched ∪ allowed-discovered
    val all = (wave1 ++ wave2).toDF("base", "html")
    val want = fetchedUrls(all).unionByName(discovered(all)).distinct()
      .as[String].collect().toSet
    val got = spark.read.parquet(seenPath).distinct()
      .as[String].collect().toSet
    assert(got == want, s"got=$got want=$want")
  }

  test("streaming capture index: WARC shard waves append CDX rows; " +
    "latest/revisit state converges to the batch index (q322 continuously)") {
    // how an archive actually grows: crawl waves land as WARC shards;
    // each shard appends its CDX rows (a CDX file IS append-only —
    // captures are immutable, only the 'latest' VIEW changes), and the
    // latest-capture/revisit answer is recomputed from the accumulated
    // index without ever re-reading payload bytes.
    import graft.ingest.{Cdx, Warc}
    import org.apache.spark.sql.DataFrame
    val dir = Files.createTempDirectory("graft-cdx-src")
    val ckpt = Files.createTempDirectory("graft-cdx-ckpt").toString
    val cdxPath = Files.createTempDirectory("graft-cdx-idx")
      .toString + "/cdx"

    def rec(id: Long, uri: String, body: String): Array[Byte] =
      Warc.writeRecord(id, uri, body.getBytes("UTF-8"))

    val schema = new org.apache.spark.sql.types.StructType()
      .add("blob", "binary")
    def runOnce(): Unit = {
      val q = StreamingIngest.readStream(spark, dir.toString, schema)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) {
            b.select(explode(Cdx.indexUdf(col("blob"))).as("e"))
              .select(col("e._1").as("id"), col("e._3").as("urlkey"),
                col("e._6").as("digest"))
              .write.mode("append").parquet(cdxPath)
          }
        }
        .start()
      q.awaitTermination()
    }
    def latest(): Map[String, (Long, Long, String)] =
      spark.read.parquet(cdxPath)
        .groupBy("urlkey")
        .agg((count(lit(1)) - countDistinct(col("digest")))
          .as("n_revisits"),
          max(col("id")).as("latest_id"),
          expr("max_by(digest, id)").as("latest_digest"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(2), r.getLong(1), r.getString(3)))).toMap

    // wave 1: pages A and B, one shard
    val wave1 = Seq(
      rec(1L, "http://www.a.com/x", "A v1") ++ rec(2L, "http://b.com/y", "B v1"))
    wave1.map(Tuple1(_)).toDF("blob")
      .write.mode("overwrite").parquet(dir.toString)
    runOnce()
    val s1 = latest()
    assert(s1("com,a)/x")._1 == 1L) // latest = capture 1
    assert(s1.size == 2 && s1.values.forall(_._2 == 0L)) // no revisits yet

    // wave 2: A unchanged (revisit), B changed, C new — two shards
    val wave2 = Seq(
      rec(3L, "https://a.com/x", "A v1") ++ rec(4L, "http://b.com/y", "B v2"),
      rec(5L, "http://c.com/z", "C v1"))
    wave2.map(Tuple1(_)).toDF("blob")
      .write.mode("append").parquet(dir.toString)
    runOnce()
    val s2 = latest()
    assert(s2.size == 3)
    // A: the https spelling keys with the http one; same digest → revisit
    assert(s2("com,a)/x")._1 == 3L && s2("com,a)/x")._2 == 1L)
    // B: changed content → latest digest differs from wave 1's, no revisit
    assert(s2("com,b)/y")._1 == 4L && s2("com,b)/y")._2 == 0L)
    assert(s2("com,b)/y")._3 != s1("com,b)/y")._3)
    // C: new page, single capture
    assert(s2("com,c)/z") == ((5L, 0L, s2("com,c)/z")._3)))

    // append-only: wave 1's rows are still present verbatim (5 total)
    val allRows = spark.read.parquet(cdxPath)
    assert(allRows.count() == 5L)

    // the streamed accumulated index equals the batch index over all
    // three shards at once
    val batch = (wave1 ++ wave2).map(Tuple1(_)).toDF("blob")
      .select(explode(Cdx.indexUdf(col("blob"))).as("e"))
      .select(col("e._1").as("id"), col("e._3").as("urlkey"),
        col("e._6").as("digest"))
    assert(allRows.orderBy("id").collect().toSeq ==
      batch.orderBy("id").collect().toSeq)
  }
}
