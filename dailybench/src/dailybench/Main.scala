package dailybench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDate
import com.fasterxml.jackson.databind.ObjectMapper
import graft.enrich.{Embedder, HashingEmbedder, TransformerEmbedder}
import graft.extract.{Extractor, HtmlParse}
import graft.ingest.StagingReader
import graft.pipeline.{Pipeline, Warehouse}
import graft.serve.CacheManager
import graft.store.BucketedStore
import graft.vector.{HnswIndex, VectorFunctions}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's view of one JVM: session, scratch directory, tracer. */
final class Ctx(val spark: SparkSession, val work: File) {
  val tracer = new Tracer(spark.sparkContext)
  val listener = new SpanListener
  val embedAccs = new CountingEmbedder.Accs(spark.sparkContext)
  val today: LocalDate = Gen.Today
  val todayS: String = today.toString
  /** The 31 dates one daily run scrapes and publishes. */
  val window: Seq[String] = (0 to 30).map(today.plusDays(_).toString)

  def dir(name: String): File = new File(work, name)

  /** The embedder handed to `Pipeline.run`: in the traced run it is
    * wrapped so every embed call is counted and timed. */
  def embedder(inner: Embedder): Embedder =
    if (tracer.on) new CountingEmbedder(inner, embedAccs.calls, embedAccs.nanos, embedAccs.texts)
    else inner
}

/** What one measured iteration produced. Only iterations whose checks
  * all passed contribute a time. */
final case class Outcome(ok: Boolean, wallS: Double, latMs: Seq[Double],
                         attempted: Int, failed: Int, heapMb: Double)

/** The pages of one scrape as the frames the extractor reads. */
final class Frames(spark: SparkSession, val scrape: Scrape) {
  import spark.implicits._
  val listings: DataFrame = scrape.listings.toDF("scrape_date", "html")
  val venuePages: DataFrame = scrape.venuePages.toDF("href", "html")
  val artistPages: DataFrame = scrape.artistPages.toDF("artist_name", "html")
  val eventPages: DataFrame = scrape.eventPages.toDF("href", "html")
}

object Layers {
  private val descUdf = udf { (html: String) =>
    val d = HtmlParse.parseEventDescription(html)
    if (d.isEmpty) null else d
  }

  /** The extractor's dataflow. */
  def extract(f: Frames): DataFrame = Extractor.run(f.listings, f.venuePages, f.artistPages)

  /** The benchmark's own step: `Extractor.run` leaves descriptions
    * empty, so each event's description is parsed from its detail page
    * and joined in. */
  def describe(extracted: DataFrame, f: Frames): DataFrame = {
    val descs = f.eventPages.select(col("href").as("_eh"), descUdf(col("html")).as("_desc"))
    extracted
      .join(broadcast(descs), col("event_data.wwoz_event_href") === col("_eh"), "left")
      .withColumn("event_data", col("event_data").withField("description", col("_desc")))
      .drop("_eh", "_desc")
  }

  /** Warehouse table → its merge key, as the store buckets it. */
  val tables: Seq[(String, Seq[String], Warehouse => DataFrame)] = Seq(
    ("genres", Seq("name"), _.genres),
    ("artists", Seq("name"), _.artists),
    ("venues", Seq("name", "full_address"), _.venues),
    ("events", Seq("wwoz_event_href"), _.events),
    ("artist_genres", Seq("artist_id", "genre_id"), _.artistGenres),
    ("venue_genres", Seq("venue_id", "genre_id"), _.venueGenres),
    ("event_genres", Seq("event_id", "genre_id"), _.eventGenres),
    ("artist_relations", Seq("artist_id", "related_artist_id"), _.artistRelations))

  /** One bucket per core, as the session has one shuffle partition per core. */
  val Buckets = 4

  def store(w: Warehouse, prefix: String): Unit =
    tables.foreach { case (t, keys, f) => BucketedStore.saveBucketed(f(w), s"${prefix}_$t", keys, Buckets) }

  def load(spark: SparkSession, prefix: String): Warehouse = {
    def t(n: String) = spark.table(s"${prefix}_$n")
    val empty = Pipeline.emptyWarehouse(spark)
    Warehouse(t("genres"), t("artists"), t("venues"), t("events"), t("artist_genres"),
      t("venue_genres"), t("event_genres"), t("artist_relations"), empty.quarantine, Map.empty)
  }

  /** The benchmark's own step: stage extracted events the way the
    * reference's extractor does and `StagingReader.readStaged` reads
    * them, one JSON array file per scrape date.
    * (`StagingReader.writeStaged` writes JSON lines, which the multi-line
    * `readStaged` reads back as one event per file.) */
  def stage(extracted: DataFrame, dir: File): Unit = {
    dir.mkdirs()
    extracted.select(col("event_data.event_date").as("_d"),
        to_json(struct(extracted.columns.map(col).toIndexedSeq: _*)).as("_j"))
      .groupBy("_d").agg(concat(lit("["), concat_ws(",", collect_list("_j")), lit("]")))
      .collect().foreach { r =>
        Files.write(new File(dir, s"event_data_${r.getString(0)}.json").toPath,
          r.getString(1).getBytes("UTF-8"))
      }
  }

  /** Extract → stage → read back: the loader's input, as the daily run
    * builds it. */
  def staged(spark: SparkSession, f: Frames, dir: File): DataFrame = {
    stage(describe(extract(f), f), dir)
    StagingReader.readStaged(spark, dir.getPath)
  }

  def drop(spark: SparkSession, prefix: String): Unit =
    tables.foreach { case (t, _, _) => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t") }

  def kvWrite(df: DataFrame, dir: File): Unit =
    df.select("cache_key", "payload_json", "ttl_s").write.format("graft.sources.KvCacheSink")
      .option("path", dir.getPath).mode("overwrite").save()

  def kvRead(spark: SparkSession, dir: File): DataFrame =
    spark.read.format("graft.sources.KvCacheSink").option("path", dir.getPath).load()
}

object Files2 {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }
  def copy(src: File, dst: File): Unit = {
    val s = src.toPath
    Files.walk(s).iterator().asScala.foreach { p =>
      val t = dst.toPath.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }
  /** (bytes, files) under `f`, Hadoop checksum files excluded. */
  def size(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
}

/** Expected answers derived from the generator alone. */
object Expect {
  private val json = new ObjectMapper()

  /** Warehouse event rows keyed by href → description, from the events
    * loaded yesterday (`before`, as yesterday saw them) and today. */
  def warehouse(before: Seq[Ev], today: Seq[Ev]): Map[String, (Ev, Option[String])] = {
    val old = before.filter(_.valid).map(e => e.href -> (e, e.descYesterday)).toMap
    old ++ today.filter(_.valid).map { e =>
      // an existing row only gains a missing description
      e.href -> (e, old.get(e.href).flatMap(_._2).orElse(e.desc))
    }
  }

  /** Per served date, the (href → description) the payload must hold. */
  def byServedDate(w: Map[String, (Ev, Option[String])]): Map[String, Map[String, String]] =
    w.values.groupBy(_._1.servedOn.toString).map { case (d, xs) =>
      d -> xs.map { case (e, desc) => e.href -> desc.orNull }.toMap
    }

  /** href → description as one published payload lists them. */
  def parsePayload(payload: String): Map[String, String] =
    json.readTree(payload).elements().asScala.map { n =>
      val d = n.get("description")
      n.get("wwoz_event_href").asText() -> (if (d == null || d.isNull) null else d.asText())
    }.toMap

  def ttl(date: String, today: LocalDate): Long = {
    val diff = LocalDate.parse(date).toEpochDay - today.toEpochDay
    if (diff < 0) 604800L else if (diff == 0) 3600L else if (diff <= 7) 43200L else 86400L
  }
}

/** The daily run: scrape 31 dates, stage, load, store, index, publish,
  * and read the snapshot back; then its checks and the serving traffic
  * that sits behind the new snapshot. `daily_steady` starts from
  * yesterday's warehouse and index with the hashing embedder;
  * `backfill_embed` from an empty warehouse with a MiniLM-shaped
  * transformer embedder.
  *
  * Serving traffic is a closed loop of one client, 100 requests after
  * the run, against the snapshot with three of its keys invalidated:
  * 97 KV lookups that hit (dates skewed over the TTL tiers: today,
  * within a week, later) and 3 refills of the invalidated dates, each
  * holding events, which miss and go to the serving query over the
  * warehouse. */
final class DailyRun(ctx: Ctx, seed: Long, shape: Shape) {
  private val cold = shape.cold
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val setupDir = ctx.dir("setup")
  private val iterDir = ctx.dir("iter")
  private val modelPath = new File(setupDir, "model.gft").getPath
  private var gen: Gen = _
  private var before: Seq[Ev] = Seq.empty
  private var todayEvs: Seq[Ev] = Seq.empty
  private var frames: Frames = _
  private var inner: Embedder = _
  private var expected: Map[String, Map[String, String]] = Map.empty
  private var expectedRows: Map[String, (Ev, Option[String])] = Map.empty
  private var requests: Seq[Either[String, String]] = Seq.empty
  private var invalidated: Seq[String] = Seq.empty

  /** Inputs, the starting warehouse and index, and the model artifact. */
  def setup(): Unit = {
    Files2.delete(setupDir); setupDir.mkdirs()
    gen = shape.gen(seed)
    val (b, t) = shape.inputs(gen)
    before = b
    todayEvs = t
    frames = new Frames(spark, gen.render(todayEvs, asOfToday = true))
    if (cold) {
      // a MiniLM-shaped artifact; its vocabulary covers the calendar's
      // words the way a trained vocabulary covers common English
      TransformerEmbedder.save(modelPath, d = 384, nLayers = 6, nHeads = 12, ffDim = 1536,
        maxLen = 128, seed = seed, vocabTokens = (TransformerEmbedder.defaultVocab ++
          gen.vocabulary).distinct)
      inner = new TransformerEmbedder(modelPath)
    } else {
      inner = new HashingEmbedder()
      val y = new Frames(spark, gen.render(before, asOfToday = false))
      val w = Pipeline.run(spark, Layers.staged(spark, y, new File(setupDir, "staging")),
        Pipeline.emptyWarehouse(spark), ctx.today.minusDays(1).toString, inner)
      Layers.store(w, "setup")
      HnswIndex.writeGraphIndex(Layers.load(spark, "setup").artists
        .filter(col("description_embedding").isNotNull),
        "description_embedding", "id", new File(setupDir, "index").getPath)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
  }

  /** Expected answers and the seeded request mix; computed once, after
    * set-up, outside any timing. */
  def prepare(): Unit = {
    expectedRows = Expect.warehouse(before, todayEvs)
    expected = Expect.byServedDate(expectedRows)
    val r = new scala.util.Random(seed * 7 + 3)
    invalidated = r.shuffle(ctx.window.tail.filter(d => expected.get(d).exists(_.nonEmpty))).take(3)
    def hit(): String = {
      val d = r.nextInt(10) match {
        case x if x < 3 => ctx.todayS
        case x if x < 7 => ctx.today.plusDays(1 + r.nextInt(7)).toString
        case _ => ctx.today.plusDays(8 + r.nextInt(23)).toString
      }
      if (invalidated.contains(d)) hit() else d
    }
    val hits = Seq.fill(97)(hit())
    requests = r.shuffle(hits.map(Left(_)) ++ invalidated.map(Right(_)))
  }

  /** The first refill and the first two lookups of the request mix:
    * enough to check every serving path, at a small share of its cost. */
  private def sample: Seq[Either[String, String]] =
    requests.filter(_.isRight).take(1) ++ requests.filter(_.isLeft).take(2)

  /** One daily run from the set-up state, its checks and serving
    * traffic: all of it when `fullTraffic`, else the sample. Only a run
    * whose checks all pass contributes a time. */
  def iteration(fullTraffic: Boolean): Outcome = {
    val staging = new File(iterDir, "staging")
    val kvDir = new File(iterDir, "kv")
    val index = new File(iterDir, "index")
    Files2.delete(iterDir); iterDir.mkdirs()
    // identical starting state: a fresh copy of the set-up index
    if (!cold) Files2.copy(new File(setupDir, "index"), index)
    val prev = if (cold) Pipeline.emptyWarehouse(spark) else Layers.load(spark, "setup")
    val embedder = ctx.embedder(inner)
    val lat = mutable.ArrayBuffer.empty[Double]
    var attempted = 1
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    /** One checked operation, its latency sampled when `sampled`; a
      * throw or a wrong answer is a failure, never a time. */
    def request(what: String, sampled: Boolean = false)(answer: => Boolean): Unit = {
      attempted += 1
      val q0 = System.nanoTime()
      val ok = try answer catch { case e: Exception => problems += s"$what threw $e"; false }
      if (!ok) { failed += 1; problems += s"wrong answer to $what" }
      else if (sampled) lat += (System.nanoTime() - q0) / 1e6
    }

    val t0 = System.nanoTime()
    val (stored, summary, rows, kv, fresh, added) = tr.span("iteration") {
      val extracted = tr.span("extract") {
        val df = Layers.extract(frames).cache()
        tr.add("extract.events_out", df.count().toDouble)
        df
      }
      tr.add("extract.pages_in", frames.scrape.pages)
      tr.span("bench.own")(Layers.stage(Layers.describe(extracted, frames), staging))
      val staged = tr.span("ingest.read") {
        val df = StagingReader.readStaged(spark, staging.getPath).cache()
        df.count()
        df
      }
      val w = tr.span("pipeline")(Pipeline.run(spark, staged, prev, ctx.todayS, embedder))
      w.summary.foreach { case (k, v) => tr.add(s"pipeline.$k", v.toDouble) }
      val stored = tr.span("store") {
        Layers.store(w, "today")
        Layers.load(spark, "today")
      }
      val fresh = stored.artists.filter(col("description_embedding").isNotNull)
      val added = if (cold) fresh else fresh.join(prev.artists.select("id"), Seq("id"), "left_anti")
      tr.span("vector.add") {
        if (cold) HnswIndex.writeGraphIndex(added, "description_embedding", "id", index.getPath)
        else HnswIndex.addToGraphIndex(spark, index.getPath, added, "description_embedding", "id")
      }
      val payload = tr.span("serve.publish") {
        val df = CacheManager.warmRange(stored, ctx.window, ctx.todayS).cache()
        (df, df.select("cache_key", "payload_json", "ttl_s", "n_events").collect())
      }
      tr.span("sources.kv_write")(Layers.kvWrite(payload._1, kvDir))
      // verify: the snapshot read back through the KV source ...
      val kv = Layers.kvRead(spark, kvDir)
      request("snapshot read-back") {
        val back = tr.span("sources.kv_read")(kv.collect())
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
        back == payload._2.map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
      }
      (stored, w.summary, payload._2, kv, fresh, added)
    }
    val wall = (System.nanoTime() - t0) / 1e9

    tr.span("verify") {
      // the index answers for the vectors just added, topped up with
      // stored ones to three probes
      val vecs = (df: DataFrame) => df.select("id", "description_embedding").orderBy("id").limit(3)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      (vecs(added) ++ vecs(fresh)).distinctBy(_._1).take(3).foreach { case (id, v) =>
        val exact = exactTop10(stored.artists, v)
        request(s"index probe $id")(probe(index, v, exact))
      }
      tr.add("vector.vectors_added", added.count().toDouble)
    }
    val byKey = rows.map(r => r.getString(0).stripPrefix("events:") -> r.getString(1)).toMap
    System.gc()
    val live = CacheManager.cacheDelete(kv, invalidated)
    tr.span("serving")((if (fullTraffic) requests else sample).foreach {
      case Left(d) => request(s"lookup of $d", sampled = true) {
        val got = kvGet(live, d)
        got.length == 1 && got(0).getString(1) == byKey(d) && got(0).getLong(2) == Expect.ttl(d, ctx.today)
      }
      case Right(d) => request(s"refill of $d", sampled = true) {
        kvGet(live, d).isEmpty && {
          val got = tr.span("serve.query")(CacheManager.eventsByDate(stored, d).collect())
          tr.add("serve.rows_returned", got.length)
          got.map(r => r.getAs[String]("wwoz_event_href") -> r.getAs[String]("description")).toMap ==
            expected(d)
        }
      }
    })

    problems ++= check(stored, summary, rows)
    val (tb, tf) = Layers.tables.map { case (t, _, _) =>
      Files2.size(new File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, s"today_$t"))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    tr.add("store.bytes_written", tb); tr.add("store.files_written", tf)
    tr.add("serve.keys_published", rows.length)
    tr.add("serve.payload_mb", rows.map(_.getString(1).length.toLong).sum / 1048576.0)
    Layers.drop(spark, "today")
    val heap = reset()
    val ok = problems.isEmpty
    if (!ok) {
      problems.foreach(p => System.err.println(s"[dailybench] check failed: $p"))
      if (failed == 0) failed = 1
    }
    Outcome(ok, wall, if (ok) lat.toSeq else Seq.empty, attempted, failed, heap)
  }

  private def kvGet(kv: DataFrame, date: String): Array[Row] = {
    val got = tr.span("sources.kv_read")(CacheManager.cacheGet(kv, date).collect())
    tr.add("sources.kv_lookups", 1)
    tr.add("sources.kv_hits", if (got.nonEmpty) 1 else 0)
    got
  }

  /** Top-10 probe of the index, checked against the exact top-10. A
    * probe passes when every answer it returns is at least as similar
    * as the exact 10th answer, up to ties, for 9 of the 10. */
  private def probe(index: File, vec: Array[Float], exact: Seq[(Long, Double)]): Boolean = {
    val got = tr.span("vector.search") {
      HnswIndex.searchGraphIndex(spark, index.getPath, "id", Seq(0L -> vec), 10).collect()
    }.map(r => (r.getAs[Long]("id"), r.getAs[Double]("score")))
    val kth = exact.last._2
    val exactIds = exact.map(_._1).toSet
    val recall = got.count { case (i, s) => exactIds(i) || s >= kth - 1e-6 }.toDouble / exact.size
    tr.add("vector.searches", 1)
    tr.add("vector.recall_sum", recall)
    got.length == exact.size && recall >= 0.9
  }

  private def exactTop10(base: DataFrame, vec: Array[Float]): Seq[(Long, Double)] =
    VectorFunctions.topK(base.filter(col("description_embedding").isNotNull),
      "description_embedding", "id", vec, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Drop everything the iteration left behind, then measure the heap
    * it retained after a full GC. */
  private def reset(): Double = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Files2.delete(iterDir)
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Counts against the generator, every payload's events against the
    * generator, and one seeded key against a recompute from the stored
    * warehouse. */
  private def check(stored: Warehouse, summary: Map[String, Long], rows: Array[Row]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    def eq(what: String, got: Long, want: Long): Unit =
      if (got != want) out += s"$what: got $got, want $want"
    val valid = todayEvs.count(_.valid)
    eq("events_validated", summary.getOrElse("events_validated", -1L), valid)
    eq("events_quarantined", summary.getOrElse("events_quarantined", -1L), todayEvs.size - valid)
    val oldHrefs = before.filter(_.valid).map(_.href).toSet
    eq("events_created", summary.getOrElse("events_created", -1L),
      todayEvs.count(e => e.valid && !oldHrefs(e.href)))
    eq("events total", stored.events.count(), expectedRows.size)
    eq("descriptions filled", stored.events.filter(col("description").isNotNull).count(),
      expectedRows.values.count(_._2.isDefined))
    eq("keys published", rows.length, ctx.window.size)
    rows.foreach { r =>
      val date = r.getString(0).stripPrefix("events:")
      val want = expected.getOrElse(date, Map.empty)
      if (Expect.parsePayload(r.getString(1)) != want) out += s"payload of $date differs from the generator"
      eq(s"ttl of $date", r.getLong(2), Expect.ttl(date, ctx.today))
      eq(s"n_events of $date", r.getLong(3), want.size)
    }
    val d = ctx.window((seed % ctx.window.size).toInt.abs)
    val again = CacheManager.cachePayload(stored, d, ctx.todayS).select("payload_json").head().getString(0)
    if (!rows.exists(r => r.getString(0) == s"events:$d" && r.getString(1) == again))
      out += s"payload of $d differs from a recompute"
    out.toSeq
  }
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      new File(m.getOrElse("work", ".bench_build/work")).getAbsoluteFile)
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder().master("local[4]").appName("dailybench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(ctx: Ctx, name: String, seed: Long): DailyRun =
    new DailyRun(ctx, seed, Shape.of(name))

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files2.delete(o.work); o.work.mkdirs()
    val spark = session(o.work)
    val code = try {
      println(Bench.run(new Ctx(spark, o.work), o))
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    } finally spark.stop()
    System.exit(code)
  }
}
