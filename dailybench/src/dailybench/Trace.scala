package dailybench

import java.util.concurrent.ConcurrentHashMap
import graft.enrich.Embedder
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}
import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `run` names the iteration it belongs
  * to; `parent` is -1 for an iteration's root span. */
final case class Span(id: Int, parent: Int, name: String, run: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span. */
final class SparkStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var shuffleWrite = 0L; var peakMem = 0L
}

/** Attributes jobs, stages and tasks to the span that was open on the
  * thread that submitted the job (the span id travels as a local
  * property), and keeps each job's wall interval. */
final class SpanListener extends SparkListener {
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val stats = new ConcurrentHashMap[Int, SparkStats]()
  /** (start ms, end ms) of every finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def of(span: Int): SparkStats = stats.computeIfAbsent(span, _ => new SparkStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(-1)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageSpan.put(_, span))
    of(span).synchronized(of(span).jobs += 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobIntervals.synchronized(jobIntervals += ((jobStart.getOrDefault(e.jobId, e.time), e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = of(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
    s.synchronized(s.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = of(stageSpan.getOrDefault(e.stageId, -1))
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      }
    }
  }

  /** Milliseconds of [a, b] during which at least one job ran. */
  def busyWithin(a: Long, b: Long): Long = {
    val iv = jobIntervals.synchronized(jobIntervals.toSeq)
      .map { case (s, e) => (math.max(s, a), math.min(e, b)) }.filter(x => x._2 > x._1).sorted
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** Records spans in memory while `on`; a no-op wrapper otherwise, so the
  * untraced run pays nothing but a branch. */
final class Tracer(sc: SparkContext) {
  var on = false
  var run = ""
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Per-iteration counts the layers' outputs yield (rows, bytes, hits). */
  val counts = mutable.LinkedHashMap.empty[String, Double]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.Key, id.toString)
      val m0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try body
      finally {
        val n1 = System.nanoTime(); val m1 = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, name, run, n0, n1, m0, m1)
      }
    }

  def add(name: String, v: Double): Unit =
    if (on) counts(name) = counts.getOrElse(name, 0.0) + v
}

object Tracer { val Key = "dailybench.span" }

/** Counts and times every embed call of the wrapped embedder. Spark
  * accumulators carry the counts back from the tasks. */
final class CountingEmbedder(inner: Embedder, calls: LongAccumulator,
                             nanos: LongAccumulator,
                             texts: CollectionAccumulator[java.lang.Long]) extends Embedder {
  override def dim: Int = inner.dim
  override def embed(text: String): Array[Float] = {
    val t0 = System.nanoTime()
    val v = inner.embed(text)
    nanos.add(System.nanoTime() - t0)
    calls.add(1)
    if (text != null && text.trim.nonEmpty)
      texts.add((MurmurHash3.stringHash(text, 1).toLong << 32) |
        (MurmurHash3.stringHash(text, 2) & 0xffffffffL))
    v
  }
}

object CountingEmbedder {
  final class Accs(sc: SparkContext) {
    val calls: LongAccumulator = sc.longAccumulator("embed.calls")
    val nanos: LongAccumulator = sc.longAccumulator("embed.nanos")
    val texts: CollectionAccumulator[java.lang.Long] = sc.collectionAccumulator[java.lang.Long]("embed.texts")
    def reset(): Unit = { calls.reset(); nanos.reset(); texts.reset() }
    def distinctTexts: Int = texts.value.asScala.toSet.size
  }
}
