package graft.enrich

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream,
  File, FileInputStream, FileOutputStream}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkFiles

/** [[Embedder]] backed by a MODEL ARTIFACT on disk — the integration
  * shape a real encoder (ONNX / JNI / native runtime) needs, with the
  * runtime itself replaced by a deterministic linear projection so the
  * engine stays testable offline (the reference loads all-MiniLM-L6-v2
  * in-process, loader/service.py:39-52).
  *
  * Everything EXCEPT the forward pass is the real pattern:
  *
  *  - the instance serializes only the artifact NAME (a few bytes into
  *    each task closure), never the weights;
  *  - weights load lazily ONCE PER EXECUTOR JVM (`@transient lazy val`),
  *    not per task and never per row — the invariant that makes
  *    per-partition model inference viable at 1000 executors
  *    ([[loadCount]] exposes the actual load count so the spec can
  *    assert it);
  *  - the artifact is resolved via [[SparkFiles]] when it was shipped
  *    with `sparkContext.addFile(...)` (the standard way to distribute a
  *    model binary to every executor without a shared filesystem), with
  *    a local-path fallback for driver-side/local use;
  *  - swapping in a real runtime means changing [[forward]] and the
  *    artifact format only — the Spark-side plumbing (EmbedStage,
  *    schema, null semantics) is shared with every other [[Embedder]].
  *
  * Artifact format (big-endian): magic "GFTE", inDim, outDim, then
  * inDim*outDim float32 weights, row-major by input feature.
  */
final class ModelFileEmbedder(artifactName: String) extends Embedder {

  @transient private lazy val model: ModelFileEmbedder.Model =
    ModelFileEmbedder.load(artifactName)

  override def dim: Int = model.outDim

  override def embed(text: String): Array[Float] = {
    val m = model
    val out = new Array[Float](m.outDim)
    if (text == null) return out
    val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    // feature hashing into the input layer, then one dense projection —
    // the stand-in forward pass (a real runtime would run the graph here)
    var t = 0
    while (t < toks.length) {
      val h = graft.text.RollingHash.hashToken(
        org.apache.spark.unsafe.types.UTF8String.fromString(toks(t)))
      val in = java.lang.Math.floorMod(h, m.inDim.toLong).toInt
      val sign = if (h >= 0L) 1.0f else -1.0f
      ModelFileEmbedder.axpy(m.weights, in * m.outDim, sign, out)
      t += 1
    }
    var j = 0
    while (j < out.length) {
      out(j) = math.tanh(out(j).toDouble).toFloat; j += 1
    }
    var norm = 0.0
    j = 0
    while (j < out.length) { norm += out(j) * out(j); j += 1 }
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm)).toFloat
      j = 0
      while (j < out.length) { out(j) *= inv; j += 1 }
    }
    out
  }
}

object ModelFileEmbedder {

  private[enrich] case class Model(inDim: Int, outDim: Int,
                                   weights: Array[Float])

  /** Model loads in this JVM since process start — the spec asserts this
    * stays at 1 per artifact across a multi-partition embed pass. */
  val loadCount = new AtomicInteger(0)

  // one cache per executor JVM, keyed by artifact name
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Model]()

  private def load(name: String): Model =
    cache.computeIfAbsent(name, n => {
      loadCount.incrementAndGet()
      val local = new File(n)
      val path =
        if (local.exists()) local.getPath
        else SparkFiles.get(new File(n).getName) // shipped via addFile
      val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path)))
      try {
        val magic = new Array[Byte](4); in.readFully(magic)
        require(new String(magic, "US-ASCII") == "GFTE",
          s"not a graft embedder artifact: $path")
        val inDim = in.readInt(); val outDim = in.readInt()
        val w = new Array[Float](inDim * outDim)
        var i = 0
        while (i < w.length) { w(i) = in.readFloat(); i += 1 }
        Model(inDim, outDim, w)
      } finally in.close()
    })

  private def axpy(w: Array[Float], off: Int, a: Float,
                   out: Array[Float]): Unit = {
    var j = 0
    while (j < out.length) { out(j) += a * w(off + j); j += 1 }
  }

  /** Write a deterministic artifact (seeded weights) — the offline
    * stand-in for exporting a trained model. */
  def save(path: String, inDim: Int, outDim: Int, seed: Long = 42L): Unit = {
    val rnd = new scala.util.Random(seed)
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try {
      out.writeBytes("GFTE")
      out.writeInt(inDim); out.writeInt(outDim)
      var i = 0
      val n = inDim * outDim
      while (i < n) { out.writeFloat((rnd.nextFloat() - 0.5f) * 0.2f); i += 1 }
    } finally out.close()
  }
}
