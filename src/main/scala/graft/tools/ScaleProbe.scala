package graft.tools

import graft.dedup.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probes for the flagship linearity claims. Modes (arg 1):
  *
  *  - `dedup` (default): the composed exact-first-then-fuzzy dedup
  *    pipeline over the scaled dataset at arg 0 — the production-shape
  *    counterpoint to running n-gram Jaccard directly over a corpus
  *    full of exact duplicates.
  *  - `xsubstr`: ExactSubstr window-fingerprint BUILD over a fully
  *    synthetic corpus (md5-block text — every 40-char window distinct,
  *    so distinct-window work scales with bytes) at 1× / 10× / 100×.
  *    Claim: bytes-linear.
  *  - `contam`: incremental contamination probe of a FIXED 500-doc
  *    batch against indexes built from 1× / 10× / 100× corpora.
  *    Claim: O(batch text + index bytes) — probe time must grow far
  *    slower than the corpus, because only the 16-byte-per-window
  *    hash index is read, never corpus text.
  *  - `hnsw`: routed-HNSW probe against stored indexes of 1× / 10× /
  *    100× vector counts. Claim: a WARM probe is manifest-bounded —
  *    it scans routed cells' (centroid_id, seg_hash) manifest columns
  *    and walks cached graphs, so probe latency is governed by cells
  *    probed, not corpus size.
  *
  * Synthetic generators are pure integer/md5 formulas (no RNG), so
  * runs are reproducible and the 100× corpus never has to exist on
  * disk. */
object ScaleProbe {

  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** `n` docs of `words` md5 blocks each — every 40-char window is
    * globally distinct (block content depends on (doc, pos)). */
  private def synthDocs(spark: SparkSession, n: Long,
                        words: Int): org.apache.spark.sql.DataFrame =
    spark.range(n).repartition(32)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until words).map(j =>
          md5(concat(col("id"), lit(":" + j)))): _*).as("text"))

  /** `n` synthetic 64-dim unit-ish vectors from integer hash math. */
  private def synthVecs(spark: SparkSession,
                        n: Long): org.apache.spark.sql.DataFrame =
    spark.range(n).repartition(32)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), j -> " +
          "cast(pmod(id * 2654435761 + j * 40503, 1000) / 1000.0 - 0.5 " +
          "as float))").as("embedding"))

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    spark.range(2000000L).selectExpr("sum(id)").collect()
    val mode = args.lift(1).getOrElse("dedup")

    mode match {
      case "dedup" =>
        val sfDir = args.headOption.getOrElse("/tmp/graft-sf1")
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .repartition(32)
        time("exact-dedup survivors") {
          Dedup.exact(docs, "text", "doc_id").count()
        }
        time("exact-first THEN ngram-jaccard") {
          val surv = Dedup.exact(docs, "text", "doc_id")
          Dedup.ngramJaccardPairs(surv, "text", "doc_id",
            n = 3, threshold = 0.2, maxShingleFreq = 1000).count()
        }

      case "xsubstr" =>
        // 1× = 1k docs × ~990 chars ≈ 1 MB of text; 100× ≈ 100 MB with
        // ~100M distinct windows hashed + aggregated
        Seq(1L, 10L, 100L).foreach { m =>
          val docs = synthDocs(spark, 1000L * m, words = 30).cache()
          docs.count() // pin input; exclude generation from the timing
          val dir = java.nio.file.Files
            .createTempDirectory(s"graft-probe-xs$m").toString + "/idx"
          time(s"xsubstr window-agg ${m}x") {
            Dedup.distinctWindowCount(docs, "text", "doc_id", 40)
          }
          time(s"xsubstr build ${m}x") {
            Dedup.writeWindowFingerprints(docs, "text", "doc_id", dir,
              window = 40)
          }
          docs.unpersist()
        }

      case "contam" =>
        val batch = synthDocs(spark, 500L, words = 30).cache()
        batch.count()
        Seq(1L, 10L, 100L).foreach { m =>
          // corpus ids offset past the batch so hits come only from the
          // first 500 overlapping ids' formulas (fixed hit mass)
          val corpus = synthDocs(spark, 1000L * m, words = 30)
          val dir = java.nio.file.Files
            .createTempDirectory(s"graft-probe-ct$m").toString + "/idx"
          Dedup.writeWindowFingerprints(corpus, "text", "doc_id", dir,
            window = 40)
          time(s"contam probe ${m}x (fixed 500-doc batch)") {
            Dedup.contaminationSpansIncremental(spark, dir, batch,
              "text", "doc_id", window = 40).count()
          }
        }
        batch.unpersist()

      case "hnsw" =>
        import graft.vector.{HnswIndex, IvfIndex, RoutedHnsw}
        Seq(1L, 10L, 100L).foreach { m =>
          val vecs = synthVecs(spark, 2000L * m).cache()
          vecs.count()
          val cs = IvfIndex.centroids(vecs, "embedding", "vec_id",
            math.max(16, (m * 16).toInt))
          val p = HnswIndex.Params(m = 4, efConstruction = 16,
            efSearch = 32)
          val dir = java.nio.file.Files
            .createTempDirectory(s"graft-probe-hn$m").toString + "/idx"
          time(s"hnsw build ${m}x") {
            RoutedHnsw.writeRoutedIndex(vecs, "embedding", "vec_id", dir,
              cs, p)
          }
          val q = vecs.filter(col("vec_id") === 7)
            .head().getSeq[Float](1).toArray
          time(s"hnsw COLD probe ${m}x") {
            RoutedHnsw.search(spark, dir, "vec_id", cs, q, k = 20,
              nProbe = 4, p).count()
          }
          time(s"hnsw WARM probe ${m}x") {
            RoutedHnsw.search(spark, dir, "vec_id", cs, q, k = 20,
              nProbe = 4, p).count()
          }
          vecs.unpersist()
        }

      case "cdc" =>
        // chunker bytes-linearity + automaton pattern-count invariance
        // (q292/q293's scale claims): 1x = 1k docs x ~990 chars.
        import graft.text.{AhoCorasick, Chunker}
        import org.apache.spark.sql.functions.{count => fcount, _}
        Seq(1L, 10L, 100L).foreach { m =>
          val docs = synthDocs(spark, 1000L * m, words = 30).cache()
          docs.count()
          time(s"cdc chunk+dedup ${m}x") {
            val ch = docs.select(col("doc_id"),
                explode(Chunker.chunksUdf()(col("text"))).as("chunk"))
              .select(col("doc_id"), md5(col("chunk")).as("h"))
            val g = ch.groupBy(col("h")).agg(fcount(lit(1)).as("c"))
            ch.join(g, "h").groupBy(col("doc_id"))
              .agg(fcount(lit(1)).as("n")).count()
          }
          // same corpus, 10 vs 100 patterns: the walk is ONE pass per
          // doc either way — time must track bytes, not pattern count
          Seq(10, 100).foreach { np =>
            val pats = (0 until np).map(i => f"$i%02x")
            time(s"aho scan ${m}x with $np patterns") {
              docs.select(AhoCorasick.countsUdf(pats)(col("text"))
                .as("m")).agg(sum(col("m._1"))).collect()
            }
          }
          docs.unpersist()
        }

      case "funnel" =>
        // q284's claim, measured END-TO-END: the per-day incremental
        // cost of the FULL streaming curation funnel (gopher flags,
        // incremental near-dup probe, decontamination, DSIR score,
        // flag join, index append) against a history index built from
        // 1x / 10x / 100x corpora, with a FIXED 500-doc day. Day-local
        // stages are corpus-independent by construction; the only
        // history-proportional term is the fingerprint-index probe
        // (index bytes, never corpus text) — so per-day cost must stay
        // near-flat while the corpus grows 100x. Day/eval ids live in
        // disjoint ranges from the corpus, so the probe's hit mass is
        // fixed (zero) at every scale.
        import graft.operators.ImportanceSelect
        import graft.text.TextFunctions
        val OFF = 1000000000L
        val day = synthDocs(spark, 500L, words = 30)
          .select((col("doc_id") + OFF).as("doc_id"), col("text")).cache()
        day.count()
        val evalSet = synthDocs(spark, 50L, words = 30)
          .select((col("doc_id") + 2 * OFF).as("doc_id"), col("text"))
          .cache()
        evalSet.count()
        // ratio frame is vocabulary-bounded (fixed): built once from 1x
        val hist1 = synthDocs(spark, 1000L, words = 30)
          .withColumn("lang", when(pmod(col("doc_id"), lit(2)) === 0,
            lit("en")).otherwise(lit("de")))
        val ratio = ImportanceSelect.dsirRatio(hist1,
          hist1.filter(col("lang") === "en"), "text").cache()
        ratio.count()
        Seq(1L, 10L, 100L).foreach { m =>
          val corpus = synthDocs(spark, 1000L * m, words = 30)
          val dir = java.nio.file.Files
            .createTempDirectory(s"graft-probe-fn$m").toString + "/idx"
          time(s"funnel index build ${m}x") {
            Dedup.writeWindowFingerprints(corpus, "text", "doc_id", dir,
              window = 40)
          }
          time(s"funnel FULL day ${m}x (fixed 500-doc day)") {
            val rep = TextFunctions.gopherRepetition(day, "text", "doc_id")
              .select(col("doc_id"), col("keep").as("_k1"))
            val qual = TextFunctions.gopherQuality(day, "text", "doc_id")
              .select(col("doc_id"), col("keep").as("_k2"))
            val nd = Dedup.crossDocSpansIncremental(spark, dir, day,
                "text", "doc_id", window = 40)
              .select(col("doc_id")).distinct()
              .withColumn("_nd", lit(true))
            val contam = Dedup.decontaminate(day, evalSet, "text",
                "doc_id", n = 3)
              .select(col("doc_id"), lit(true).as("_c"))
            val dsir = ImportanceSelect.scoreWith(ratio, day, "text",
                "doc_id")
              .select(col("doc_id"), col("selected").as("_k5"))
            day.select(col("doc_id"))
              .join(rep, Seq("doc_id"), "left")
              .join(qual, Seq("doc_id"), "left")
              .join(nd, Seq("doc_id"), "left")
              .join(contam, Seq("doc_id"), "left")
              .join(dsir, Seq("doc_id"), "left")
              .count()
            Dedup.appendWindowFingerprints(day, "text", "doc_id", dir,
              window = 40)
          }
        }
        day.unpersist(); evalSet.unpersist(); ratio.unpersist()

      case "redirects" =>
        // q304's two scale claims, measured: (a) at fixed chain depth,
        // resolution is LINEAR in edge count (shuffle-join work only);
        // (b) at fixed edge count, deepening chains 16x costs only the
        // extra log2 rounds (2 -> 6 self-joins), never 16x. Edges:
        // node i -> i-1 except every D-th node is a terminal.
        import graft.graph.Redirects
        def chainEdges(n: Long, depth: Long) =
          spark.range(n).repartition(32)
            .filter(pmod(col("id"), lit(depth)) =!= 0)
            .select(col("id").as("src"), (col("id") - 1).as("dst"))
        Seq(1L, 10L, 100L).foreach { m =>
          val edges = chainEdges(100000L * m, 4L).cache()
          edges.count()
          time(s"redirects resolve ${m}x edges (depth 4)") {
            Redirects.resolve(edges, maxHops = 4).count()
          }
          edges.unpersist()
        }
        Seq(4L, 64L).foreach { d =>
          val edges = chainEdges(1000000L, d).cache()
          edges.count()
          time(s"redirects resolve 1M edges (depth $d, ${64 - java.lang.Long.numberOfLeadingZeros(d - 1)} rounds)") {
            Redirects.resolve(edges, maxHops = d.toInt).count()
          }
          edges.unpersist()
        }
        // breadth x rounds: at 10M edges the claim that matters at
        // 100 TB is that deepening 16x costs the extra rounds (2 -> 6,
        // ~3x), never 16x — the log2 claim measured AT breadth
        Seq(4L, 64L).foreach { d =>
          val edges = chainEdges(10000000L, d).cache()
          edges.count()
          time(s"redirects resolve 10M edges (depth $d, ${64 - java.lang.Long.numberOfLeadingZeros(d - 1)} rounds)") {
            Redirects.resolve(edges, maxHops = d.toInt).count()
          }
          edges.unpersist()
        }

      case "frontier" =>
        // the q309 planner composition at synthetic scale, with the
        // skew arm a real frontier always has: one CDN-sized host
        // holding 90% of URLs. Claims measured: (a) the planner is
        // near-linear in frontier size (projections + 8-byte-ish
        // joins + host-grain aggregates); (b) the HostSlots probe
        // switches to the grouped rank under skew, so the mega-host
        // never serializes one task.
        import graft.operators.HostSlots
        import org.apache.spark.sql.DataFrame
        def planner(n: Long, skewed: Boolean): DataFrame = {
          val host =
            if (skewed) when(col("id") % 10L =!= 0L, lit(0L))
              .otherwise(col("id") / 10L % 5000L + 1L)
            else col("id") / 10L
          val fr = spark.range(n).repartition(32)
            .select(col("id"), host.as("host_id"),
              concat(lit("http://www.s"), host,
                lit(".example.com/p/"), col("id")).as("url"),
              (col("id") % 7L === 0L).as("blocked"),
              ((host % 4L + 1L) * 500L).as("delay_ms"))
          val sched = HostSlots.assign(fr.filter(!col("blocked")),
              "host_id", Seq(col("id")), "slot")
            .withColumn("start_ms", (col("slot") - 1) * col("delay_ms"))
          sched.groupBy(col("host_id"))
            .agg(count(lit(1)).as("n_allowed"),
              max(col("start_ms")).as("makespan_ms"))
        }
        for (m <- Seq(1L, 10L); skewed <- Seq(false, true)) {
          time(s"frontier planner ${m}x (1M base${if (skewed) ", 90% one host" else ""})") {
            planner(1000000L * m, skewed).count()
          }
        }

      case "curation" =>
        // the q317 composed curation pipeline (gates → scrub → dedup
        // on the scrubbed hash → token packing) over a synthetic
        // corpus built to PASS the Gopher gates (stopwords interleaved
        // with distinct 8-char blocks: ≥30 words, mean len in bounds,
        // zero duplicate 3-grams), with the PII-only dup arm. Claim:
        // corpus-linear — the gates+scrub are one codegen pass, and
        // nothing downstream grows super-linearly (dedup shuffles
        // hashes, packing is the 256-band prefix).
        import graft.operators.Curation
        import graft.text.{Pii, TextFunctions}
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.expressions.Window
        val stops = Seq("the", "of", "and", "to", "a")
        def pipeline(n: Long): DataFrame = {
          val base = spark.range(n).repartition(32)
            .select(col("id").as("doc_id"),
              concat_ws(" ", (0 until 40).flatMap(j =>
                Seq(lit(stops(j % stops.size)),
                  substring(md5(concat(col("id"), lit(":" + j))), 1, 8)
                    .cast("string"))): _*).as("text"))
          val corpus = base.unionByName(
            base.filter(col("doc_id") % 7 === 0)
              .select((col("doc_id") + n * 2).as("doc_id"), col("text")))
          val inj = corpus.select(col("doc_id"),
            concat(col("text"), lit(" Contact: user"),
              col("doc_id").cast("string"),
              lit("@mail.example.com at 192.168."),
              (col("doc_id") % 256).cast("string"), lit(".7")).as("text"))
          val gated = inj
            .filter(TextFunctions.gopherGateKeep(col("text")))
          val kept = gated
            .select(col("doc_id"), Pii.redact(col("text")).as("clean"))
            .withColumn("_h", md5(col("clean")))
            .withColumn("_rn", row_number().over(
              Window.partitionBy(col("_h")).orderBy(col("doc_id"))))
            .filter(col("_rn") === 1)
            .select(col("doc_id"),
              TextFunctions.tokenCount(col("clean")).cast("bigint")
                .as("n_toks"))
          Curation.shardByTokens(kept, "doc_id", "n_toks", 1000000L)
            .groupBy(col("shard")).agg(count(lit(1)).as("n_docs"))
        }
        for (m <- Seq(1L, 10L)) {
          time(s"curation pipeline ${m}x (100k docs base, +1/7 dups)") {
            val shards = pipeline(100000L * m)
            println(s"[probe]   shards=${shards.count()}")
          }
        }

      case "archive" =>
        // the WarcArchiveSource read paths against 1x / 10x archives
        // on real disk. Claims: (a) a POINT fetch (urlkey equality)
        // is flat in archive size — sidecar pushdown + one seek;
        // (b) a site-section seek scales with MATCHES, not archive;
        // (c) the metadata-only variant never opens a shard; (d) the
        // full scan is the only archive-linear path.
        import graft.ingest.Warc
        import graft.sources.WarcArchive
        def build(n: Long): String = {
          val dir = java.nio.file.Files
            .createTempDirectory(s"graft-archive-probe").toString
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(s"$dir/shards"))
          val uri = format_string("https://site%d.example.com/p/%d",
            col("id") % 50, col("id"))
          val member = Warc.record(col("id"), uri,
            encode(concat_ws(" ", (0 until 6).map(j =>
              md5(concat(col("id"), lit(":" + j)))): _*), "UTF-8"))
          spark.range(n).repartition(32)
            .select((col("id") % 32).as("shard"),
              struct(col("id").as("i"), member.as("m")).as("sm"))
            .groupBy(col("shard"))
            .agg(Warc.concatBlobs(transform(
              sort_array(collect_list(col("sm"))), x => x("m")))
              .as("blob"))
            .collect().foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(
                  f"$dir/shards/s${r.getLong(0)}%02d.warc"),
                r.getAs[Array[Byte]](1))
            }
          time(s"index $n members") { WarcArchive.indexShards(spark, dir) }
          dir
        }
        for (m <- Seq(1L, 10L)) {
          val n = 20000L * m
          val dir = build(n)
          def reader = spark.read
            .format("graft.sources.WarcArchiveSource")
            .option("path", dir).load()
          time(s"${m}x sidecar prune alone (collect matches)") {
            println("[probe]   matches=" + WarcArchive.cdx(spark, dir)
              .filter(col("urlkey") === "com,example,site7)/p/7")
              .collect().length)
          }
          for (rep <- 1 to 2)
            time(s"${m}x point fetch rep$rep (1 member, payload)") {
              println("[probe]   bytes=" + reader
                .filter(col("urlkey") === "com,example,site7)/p/7")
                .select(sum(length(col("payload")))).head().getLong(0))
            }
          WarcArchive.filesOpened.set(0L)
          time(s"${m}x metadata-only site section (n/50 rows)") {
            println("[probe]   rows=" + reader
              .filter(col("urlkey").startsWith("com,example,site7)"))
              .select("id", "digest").count() +
              " opens=" + WarcArchive.filesOpened.get())
          }
          time(s"${m}x payload seek site section (n/50 members)") {
            println("[probe]   bytes=" + reader
              .filter(col("urlkey").startsWith("com,example,site7)"))
              .select(sum(length(col("payload")))).head().getLong(0))
          }
          time(s"${m}x full archive scan") {
            println("[probe]   rows=" + reader.count())
          }
        }

      case other => sys.error(s"unknown probe mode: $other")
    }
    spark.stop()
  }
}
