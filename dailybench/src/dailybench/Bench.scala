package dailybench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload: one set-up, then measured iterations for the
  * given seconds, at least one. A daily run costs tens of seconds, so
  * a run of the benchmark is one set-up and one daily run, measured in
  * a JVM only its set-up has warmed; the medians and spreads come from
  * repeating the benchmark over seeds. Untraced, it
  * reports the end-to-end metrics; traced, it runs untraced and then
  * traced iterations, and reports the per-layer metrics plus the
  * tracing overhead. */
object Bench {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def run(ctx: Ctx, o: Main.Opts): String = {
    val wl = Main.workload(ctx, o.workload, o.seed)
    val t = System.nanoTime()
    wl.setup()
    val setupS = (System.nanoTime() - t) / 1e9
    wl.prepare()
    System.gc()
    val all = mutable.ArrayBuffer.empty[Outcome]
    def iterate(fullTraffic: Boolean): Outcome = {
      val x = try wl.iteration(fullTraffic) catch {
        case e: Exception =>
          System.err.println(s"[dailybench] iteration threw: $e")
          e.printStackTrace()
          Outcome(ok = false, Double.NaN, Seq.empty, 1, 1, Double.NaN)
      }
      System.err.println(f"[dailybench] iteration ${x.wallS}%.3f s ok=${x.ok}")
      all += x
      x
    }
    /** At least one iteration; another only while it is expected to end
      * within the budget. */
    def measure(budgetS: Double): Seq[Outcome] = {
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer(iterate(fullTraffic = false))
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (elapsed * (out.size + 1) / out.size <= budgetS) out += iterate(fullTraffic = false)
      out.toSeq
    }
    def wall(xs: Seq[Outcome]): Double = {
      val ok = xs.filter(_.ok)
      if (ok.isEmpty) Double.NaN else median(ok.map(_.wallS))
    }

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        // serving latencies vary too much between runs to bound, so they
        // are per-layer metrics, and here a sample of the traffic only
        // checks the serving paths
        val xs = measure(o.seconds)
        Seq(("setup_s", setupS, "s"), ("run_s", wall(xs), "s"),
          ("heap_retained_mb", if (xs.exists(_.ok)) median(xs.filter(_.ok).map(_.heapMb)) else Double.NaN, "MB"))
      } else {
        // the untraced iterations first, as in an untraced run; only the
        // traced ones need the whole serving traffic
        val plain = measure(o.seconds / 2.0)
        ctx.spark.sparkContext.addSparkListener(ctx.listener)
        ctx.tracer.on = true
        val perIter = mutable.ArrayBuffer.empty[Map[String, Double]]
        val traced = mutable.ArrayBuffer.empty[Outcome]
        val t0 = System.nanoTime()
        def elapsed = (System.nanoTime() - t0) / 1e9
        while (traced.isEmpty || elapsed * (traced.size + 1) / traced.size <= o.seconds / 2.0) {
          ctx.tracer.run = s"${o.workload}-${o.seed}-it${traced.size}"
          ctx.tracer.counts.clear()
          ctx.embedAccs.reset()
          val gc0 = gcMillis
          val from = ctx.tracer.spans.size
          val x = iterate(fullTraffic = true)
          val gc = gcMillis - gc0
          org.apache.spark.BenchAccess.drainListenerBus(ctx.spark.sparkContext)
          traced += x
          if (x.ok) perIter += PerLayer.metrics(ctx, ctx.tracer.spans.drop(from).toSeq, gc, x.latMs)
        }
        ctx.tracer.on = false
        ctx.spark.sparkContext.removeSparkListener(ctx.listener)
        writeTrace(ctx, o)
        val names = PerLayer.names
        names.map(n => (n, if (perIter.isEmpty) Double.NaN else median(perIter.map(_.getOrElse(n, 0.0)).toSeq),
            PerLayer.unit(n))) :+
          (("trace.overhead_ratio", wall(traced.toSeq) / wall(plain), "ratio"))
      }

    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    System.err.println(f"[dailybench] ${o.workload} seed=${o.seed}: error_rate=${failed.toDouble / attempted}%.4f " +
      s"($failed of $attempted operations failed) over ${all.size} iterations")
    metrics.foreach { case (n, v, u) => System.err.println(f"[dailybench]   $n%-28s $v%14.4f $u") }
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    // every metric is a positive quantity here; a missing, infinite or
    // zero one means a layer did not do its work
    val unmeasured = metrics.filter { case (_, v, _) => v.isNaN || v.isInfinite || v == 0 }
    unmeasured.foreach { case (n, v, _) => System.err.println(s"[dailybench] metric $n not measured: $v") }
    val correct = failed == 0 && unmeasured.isEmpty
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  /** Every span as one JSON line, with its self time (duration minus
    * the time its child spans cover) and the Spark work attributed to
    * it. A per-layer self-time table goes to stderr. */
  private def writeTrace(ctx: Ctx, o: Main.Opts): Unit = {
    val spans = ctx.tracer.spans.toSeq
    val children = spans.groupBy(_.parent)
    def self(s: Span): Double = s.ms - children.getOrElse(s.id, Seq.empty).filter(_.run == s.run).map(_.ms).sum
    val dir = new File(o.work.getParentFile, "trace")
    dir.mkdirs()
    val f = new File(dir, s"${o.workload}-seed${o.seed}.jsonl")
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val st = Option(ctx.listener.stats.get(s.id)).getOrElse(new SparkStats)
      val driver = (s.endMs - s.startMs) - ctx.listener.busyWithin(s.startMs, s.endMs)
      w.println(s"""{"run": "${s.run}", "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "dur_ms": ${s.ms}, "self_ms": ${self(s)}, """ +
        s""""driver_ms": $driver, "jobs": ${st.jobs}, "stages": ${st.stages}, "tasks": ${st.tasks}}""")
    } finally w.close()
    val runs = spans.map(_.run).distinct.size.max(1)
    System.err.println(s"[dailybench] trace: ${spans.size} spans over $runs iterations -> ${f.getPath}")
    spans.groupBy(_.name).toSeq.map { case (n, ss) => (n, ss.map(self).sum / runs, ss.size / runs) }
      .sortBy(-_._2).foreach { case (n, ms, k) =>
        System.err.println(f"[dailybench]   self $n%-18s $ms%10.1f ms/iteration over $k%3d spans")
      }
  }
}

/** The per-layer metrics of one traced iteration, from its spans, the
  * listener's attribution, the layers' output counts and the embed
  * counters. */
object PerLayer {
  private val units: Seq[(String, String)] = Seq(
    "extract.busy_ms" -> "ms", "extract.pages_in" -> "count", "extract.events_out" -> "count",
    "extract.jobs" -> "count", "extract.driver_ms" -> "ms",
    "bench.own_ms" -> "ms", "ingest.read_ms" -> "ms",
    "pipeline.busy_ms" -> "ms", "pipeline.driver_ms" -> "ms", "pipeline.jobs" -> "count",
    "pipeline.stages" -> "count", "pipeline.tasks" -> "count", "pipeline.shuffle_write_mb" -> "MB",
    "pipeline.peak_task_mem_mb" -> "MB",
    "pipeline.events_validated" -> "count", "pipeline.events_quarantined" -> "count",
    "pipeline.events_created" -> "count", "pipeline.artists_created" -> "count",
    "pipeline.venues_created" -> "count", "pipeline.insert_ratio" -> "ratio",
    "enrich.embed_calls" -> "count", "enrich.embed_ms" -> "ms", "enrich.embed_useful_ratio" -> "ratio",
    "store.busy_ms" -> "ms", "store.bytes_written" -> "bytes", "store.files_written" -> "count",
    "store.jobs" -> "count",
    "vector.add_ms" -> "ms", "vector.vectors_added" -> "count", "vector.search_ms" -> "ms",
    "vector.searches" -> "count", "vector.recall_at_10" -> "ratio",
    "serve.publish_ms" -> "ms", "serve.keys_published" -> "count", "serve.payload_mb" -> "MB",
    "serve.query_ms" -> "ms", "serve.rows_returned" -> "count", "serve.driver_ms" -> "ms",
    "serve.jobs" -> "count", "serve.p50_ms" -> "ms", "serve.p90_ms" -> "ms",
    "sources.kv_write_ms" -> "ms", "sources.kv_read_ms" -> "ms", "sources.kv_hit_ratio" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_only_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.shuffle_write_mb" -> "MB",
    "spark.peak_task_mem_mb" -> "MB")

  val names: Seq[String] = units.map(_._1)
  def unit(n: String): String = units.toMap.getOrElse(n, "ratio")

  def metrics(ctx: Ctx, spans: Seq[Span], gcMs: Double, latMs: Seq[Double]): Map[String, Double] = {
    val l = ctx.listener
    val c = ctx.tracer.counts
    def cnt(n: String): Double = c.getOrElse(n, 0.0)
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    def named(n: String): Seq[Span] = spans.filter(_.name == n)
    def busy(n: String): Double = named(n).map(_.ms).sum
    def driver(ss: Seq[Span]): Double =
      ss.map(s => (s.endMs - s.startMs - l.busyWithin(s.startMs, s.endMs)).toDouble).sum
    def stats(ss: Seq[Span]): Seq[SparkStats] = ss.flatMap(s => Option(l.stats.get(s.id)))
    def sum(ss: Seq[Span])(f: SparkStats => Long): Double = stats(ss).map(f).sum.toDouble
    def peak(ss: Seq[Span]): Double = (0L +: stats(ss).map(_.peakMem)).max / 1048576.0
    val mb = 1048576.0
    val p = named("pipeline")
    Map(
      "extract.busy_ms" -> busy("extract"), "extract.pages_in" -> cnt("extract.pages_in"),
      "extract.events_out" -> cnt("extract.events_out"), "extract.jobs" -> sum(named("extract"))(_.jobs),
      "extract.driver_ms" -> driver(named("extract")),
      "bench.own_ms" -> busy("bench.own"), "ingest.read_ms" -> busy("ingest.read"),
      "pipeline.busy_ms" -> busy("pipeline"), "pipeline.driver_ms" -> driver(p),
      "pipeline.jobs" -> sum(p)(_.jobs), "pipeline.stages" -> sum(p)(_.stages),
      "pipeline.tasks" -> sum(p)(_.tasks), "pipeline.shuffle_write_mb" -> sum(p)(_.shuffleWrite) / mb,
      "pipeline.peak_task_mem_mb" -> peak(p),
      "pipeline.events_validated" -> cnt("pipeline.events_validated"),
      "pipeline.events_quarantined" -> cnt("pipeline.events_quarantined"),
      "pipeline.events_created" -> cnt("pipeline.events_created"),
      "pipeline.artists_created" -> cnt("pipeline.artists_created"),
      "pipeline.venues_created" -> cnt("pipeline.venues_created"),
      "pipeline.insert_ratio" -> ratio(cnt("pipeline.events_created"), cnt("pipeline.events_validated")),
      "enrich.embed_calls" -> ctx.embedAccs.calls.value.toDouble,
      "enrich.embed_ms" -> ctx.embedAccs.nanos.value / 1e6,
      "enrich.embed_useful_ratio" -> ratio(ctx.embedAccs.distinctTexts, ctx.embedAccs.calls.value.toDouble),
      "store.busy_ms" -> busy("store"), "store.bytes_written" -> cnt("store.bytes_written"),
      "store.files_written" -> cnt("store.files_written"), "store.jobs" -> sum(named("store"))(_.jobs),
      "vector.add_ms" -> busy("vector.add"), "vector.vectors_added" -> cnt("vector.vectors_added"),
      "vector.search_ms" -> busy("vector.search"), "vector.searches" -> cnt("vector.searches"),
      "vector.recall_at_10" -> ratio(cnt("vector.recall_sum"), cnt("vector.searches")),
      "serve.publish_ms" -> busy("serve.publish"), "serve.keys_published" -> cnt("serve.keys_published"),
      "serve.payload_mb" -> cnt("serve.payload_mb"),
      "serve.query_ms" -> busy("serve.query"), "serve.rows_returned" -> cnt("serve.rows_returned"),
      "serve.driver_ms" -> driver(named("serve.query")), "serve.jobs" -> sum(named("serve.query"))(_.jobs),
      "serve.p50_ms" -> (if (latMs.isEmpty) 0.0 else Bench.quantile(latMs, 0.5)),
      "serve.p90_ms" -> (if (latMs.isEmpty) 0.0 else Bench.quantile(latMs, 0.9)),
      "sources.kv_write_ms" -> busy("sources.kv_write"), "sources.kv_read_ms" -> busy("sources.kv_read"),
      "sources.kv_hit_ratio" -> ratio(cnt("sources.kv_hits"), cnt("sources.kv_lookups")),
      "spark.jobs" -> sum(spans)(_.jobs), "spark.stages" -> sum(spans)(_.stages),
      "spark.tasks" -> sum(spans)(_.tasks),
      "spark.driver_only_ms" -> driver(spans.filter(_.parent == -1)),
      "spark.gc_ms" -> gcMs, "spark.shuffle_write_mb" -> sum(spans)(_.shuffleWrite) / mb,
      "spark.peak_task_mem_mb" -> peak(spans))
  }
}
