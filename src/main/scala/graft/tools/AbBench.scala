package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Same-session interleaved A/B harness — the ONLY valid perf instrument
  * on this shared machine (cross-session totals drift 1.3-1.8×,
  * PLANS.md). Each pair prepares once (index builds, temp copies), then
  * its two variants run ALTERNATED in one JVM: A,B,A,B,… so machine
  * drift hits both sides equally. Emits one JSON file the round judge
  * can read (medians + raw runs + B/A ratio per pair).
  *
  * Usage: `runMain graft.tools.AbBench [sfDir] [outPath] [pair ...]`
  * Defaults: sf0.1, target/ab.json, all pairs.
  */
object AbBench {

  /** One A/B comparison: `prepare` does un-timed setup and returns the
    * two thunks to alternate. */
  final case class Pair(name: String, labelA: String, labelB: String,
                        prepare: (SparkSession, String) => (() => DataFrame, () => DataFrame))

  /** Pairs whose two sides both run shipped code, so a rerun measures
    * the current build. */
  def pairs: Seq[Pair] = Seq(

    // round-6 feature: filtered top-k through the transparent ANN
    // planner. A = brute force (catalog cleared), B = stored-HNSW probe
    // + join-back. Index build is part of prepare(), not the timing —
    // the serve-time contract. Two corpus sizes: the raw sf (tiny —
    // EXPECTED to favor brute force; this measurement is what the
    // spark.graft.ann.minTableBytes cost-gate default is calibrated
    // against) and a jittered replicated corpus (PLANS.md, "ANN
    // recall/latency at 10×") where the probe must win for the 100 TB
    // story to hold.
    annPair("ann_filtered_topk_raw", copies = 1),
    annPair("ann_filtered_topk_50x", copies = 50),
    annPair("ann_filtered_ivf_50x", copies = 50, kind = "ivf"),
    annPair("ann_filtered_ivf_200x", copies = 200, kind = "ivf"),
    annPair("ann_filtered_hnsw_200x", copies = 200),

    // the large-corpus evidence (~4M vectors): unfiltered probe-vs-scan
    // (the direct-splice shape). The timed laps are WARM serve-path
    // probes — AbBench's unrecorded warm lap populates the resident
    // graph cache, so the recorded runs measure what a long-lived
    // executor pays per probe (index bytes read + walk/cell-scan), not
    // the one-time deserialization. Brute force at 64-dim on one NVMe
    // node is memory-bandwidth-trivial, so single-node wall-clock
    // crossover sits far beyond what this box can materialize; the
    // claim these pairs support is the RATIO TREND with corpus size
    // plus the bytes-read pruning the specs assert — the 100 TB case
    // is bytes-not-read across 1000 executors, not single-node sec.
    annPair("ann_plain_ivf_2000x", copies = 2000, kind = "ivf", filtered = false),
    annPair("ann_plain_routed_2000x", copies = 2000, kind = "routed",
      filtered = false),

    // round-11: the q16 serving read (the reference's one production
    // read path) against two at-rest layouts of the SAME 400x events
    // corpus (40M rows — big enough that the scan, not the one-day
    // window+sort, dominates; at 50x the delta sat under machine
    // noise). A = unpartitioned parquet — the day filter can only be a
    // row-group min/max check, and a randomly-laid-out corpus defeats
    // it (every row group spans every day), so the scan reads all 400x.
    // B = date-partitioned (`partitionBy(event_date)`) — the day
    // filter prunes at PLANNING time to 1 of 30 directories, the
    // SURVEY §4 layout claim. At 100 TB this is the difference between
    // scanning a day and scanning three years. PlanShapeSpec asserts
    // B's pruned plan shape; this pair records the wall-clock win.
    Pair("serve_date_layout", "flat_parquet", "date_partitioned",
      (s, d) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-ab-servelayout").toString
        val OFF = 100000000L
        val base = graft.Tables.events(s, d)
          .crossJoin(s.range(400).select(col("id").as("_copy")))
          .select((col("event_id") + col("_copy") * OFF).as("event_id"),
            col("ts"), col("user_id"), col("event_type"), col("value"))
        base.repartition(32) // random layout: row groups span all days
          .write.mode("overwrite").parquet(s"$tmp/flat")
        base.withColumn("event_date", to_date(col("ts")))
          .repartition(col("event_date"))
          .write.mode("overwrite").partitionBy("event_date")
          .parquet(s"$tmp/bydate")
        val day = "2024-01-05"
        def flat: DataFrame = graft.serve.Serving.eventsByDate(
          s.read.parquet(s"$tmp/flat"), date = day, today = day)
        def pruned: DataFrame = graft.serve.Serving.eventsByDate(
          s.read.parquet(s"$tmp/bydate")
            .filter(col("event_date") === to_date(lit(day)))
            .drop("event_date"),
          date = day, today = day)
        (() => flat, () => pruned)
      }),
  )

  private def annPair(name: String, copies: Int, kind: String = "hnsw",
                      filtered: Boolean = true): Pair =
    Pair(name, "brute_force", "index_probe",
      (s, d) => {
        import graft.plans.AnnCatalog
        s.conf.set("spark.graft.ann.minTableBytes", "0")
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-ab-ann").toString
        val emb = s.read.parquet(s"$d/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        // deterministic per-copy jitter (PLANS.md, "ANN recall/latency
        // at 10×") so a scaled corpus has distinct vectors in the same
        // neighborhoods
        val OFF = 100000000L
        val perturb = udf { (v: Seq[Float], id: Long, c: Long) =>
          val out = new Array[Float](v.length)
          var i = 0
          while (i < v.length) {
            val h = graft.text.RollingHash.hashToken(
              org.apache.spark.unsafe.types.UTF8String.fromString(s"$c:$id:$i"))
            out(i) = v(i) + (((h % 1000L + 1000L) % 1000L) / 1000.0f - 0.5f) * 0.02f
            i += 1
          }
          out
        }
        val corpus =
          if (copies == 1) emb
          else emb.crossJoin(s.range(copies).select(col("id").as("_copy")))
            .select((col("vec_id") + col("_copy") * OFF).as("vec_id"),
              perturb(col("embedding"), col("vec_id"), col("_copy")).as("embedding"))
        corpus.repartition(32).write.mode("overwrite").parquet(s"$tmp/base")
        val base = s.read.parquet(s"$tmp/base")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        val entry: AnnCatalog.Entry = kind match {
          case "ivf" =>
            // the partition-pruned scale path: a probe READS nProbe/16
            // of the stored bytes
            val cs = graft.vector.IvfIndex.centroids(base, "embedding",
              "vec_id", 16)
            graft.vector.IvfIndex.writeIndex(
              graft.vector.IvfIndex.build(base, "embedding", "vec_id", cs),
              s"$tmp/ivf")
            AnnCatalog.IvfEntry(s"$tmp/ivf", "embedding", "vec_id", cs,
              nProbe = 4)
          case "routed" =>
            // pruned read AND ef-bounded in-cell walk
            val cs = graft.vector.IvfIndex.centroids(base, "embedding",
              "vec_id", 16)
            graft.vector.RoutedHnsw.writeRoutedIndex(base, "embedding",
              "vec_id", s"$tmp/routed", cs,
              graft.vector.HnswIndex.Params(m = 8, efConstruction = 32))
            AnnCatalog.RoutedHnswEntry(s"$tmp/routed", "embedding", "vec_id",
              cs, nProbe = 4, graft.vector.HnswIndex.Params(efSearch = 256))
          case _ =>
            graft.vector.HnswIndex.writeGraphIndex(
              base, "embedding", "vec_id", s"$tmp/graphs",
              graft.vector.HnswIndex.Params(m = 8, efConstruction = 128))
            AnnCatalog.HnswEntry(s"$tmp/graphs", "embedding", "vec_id",
              graft.vector.HnswIndex.Params(efSearch = 256))
        }
        def query(): DataFrame = {
          val scanned =
            if (filtered) base.filter(pmod(col("vec_id"), lit(3)) === 0)
            else base
          scanned
            .select(col("vec_id"),
              graft.vector.VectorFunctions.cosine_sim(col("embedding"),
                lit(q)).as("score"))
            .orderBy(col("score").desc, col("vec_id")).limit(20)
        }
        (() => { AnnCatalog.clear(); query() },
         () => { AnnCatalog.register(s"$tmp/base", entry); query() })
      })

  /** Runs `body` (one pair) and then undoes what a pair leaves on the
    * shared session: every session conf it set or unset (`annPair` turns
    * the ANN cost gate off) and the `AnnCatalog` registrations, so the
    * next pair plans as it would alone. */
  private[graft] def isolated[T](spark: SparkSession)(body: => T): T = {
    val conf = spark.conf.getAll
    try body finally {
      spark.conf.getAll.keys.filterNot(conf.contains).foreach(spark.conf.unset)
      conf.foreach { case (k, v) => if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v) }
      graft.plans.AnnCatalog.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = if (args.length > 1) args(1) else "target/ab.json"
    val selected = if (args.length > 2) {
      val want = args.drop(2).toSet
      pairs.filter(p => want.contains(p.name))
    } else pairs
    val reps = sys.env.getOrElse("SPARK_GRAFT_AB_REPS", "5").toInt

    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    spark.range(2000000L).selectExpr("sum(id)").collect()

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    // the plan each side declares, through the noop sink (Bench's runner)
    def time(thunk: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      graft.Bench.runDeclared(thunk())
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      dt
    }

    val results = selected.map { p => isolated(spark) {
      val (a, b) = p.prepare(spark, sfDir)
      time(a); time(b) // one un-recorded warm lap each (JIT, codegen, footers)
      val runs = (1 to reps).map(_ => (time(a), time(b)))
      val (ra, rb) = (runs.map(_._1), runs.map(_._2))
      val (ma, mb) = (median(ra), median(rb))
      println(f"[ab] ${p.name}: ${p.labelA}=$ma%.3f ${p.labelB}=$mb%.3f " +
        f"ratio=${mb / ma}%.3f")
      s"""  "${p.name}": {"a_label": "${p.labelA}", "b_label": "${p.labelB}",
         |    "a_runs": [${ra.map(t => f"$t%.4f").mkString(",")}],
         |    "b_runs": [${rb.map(t => f"$t%.4f").mkString(",")}],
         |    "a_median": $ma, "b_median": $mb,
         |    "ratio_b_over_a": ${mb / ma}}""".stripMargin
    } }
    val json = s"""{"sf": "$sfDir", "reps": $reps, "interleaved": true,
       |"pairs": {
       |${results.mkString(",\n")}
       |}}""".stripMargin
    val out = java.nio.file.Paths.get(outPath)
    if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, json + "\n")
    println(s"[ab] wrote $outPath")
    spark.stop()
  }
}
