package graft.enrich

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream,
  File, FileInputStream, FileOutputStream}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkFiles
import scala.collection.mutable

/** [[Embedder]] that runs a REAL sentence-transformer forward pass — the
  * all-MiniLM-L6-v2 compute graph the reference executes in-process
  * (loader/service.py:39-52): token + position embeddings → N BERT-style
  * post-LN encoder layers (multi-head scaled-dot-product attention,
  * GELU feed-forward, residual + LayerNorm) → attention-mask mean
  * pooling → L2 normalization. This closes the ModelFileEmbedder gap:
  * nothing about the COMPUTE is a stand-in anymore — only the weights
  * in the artifact are synthetic (no trained checkpoint ships in this
  * offline environment; `save` exports a seeded artifact with the same
  * layout a trained export would use).
  *
  * Distribution shape is identical to [[ModelFileEmbedder]]: the
  * closure carries the artifact NAME only; weights load once per
  * executor JVM ([[TransformerEmbedder.loadCount]] is spec-asserted);
  * the artifact resolves through [[SparkFiles]] when shipped with
  * `sparkContext.addFile`.
  *
  * Tokenization is greedy longest-match-first WordPiece against the
  * vocab table embedded in the artifact (`[UNK]`, `[CLS]`/`[SEP]`,
  * `##` continuations, maxLen truncation — the tokenizer contract of
  * the reference's MiniLM deployment); a trained deployment drops in
  * its exported vocab unchanged. Legacy GFT2 artifacts (no vocab
  * table) fall back to hashed whole-word ids.
  *
  * Artifact format "GFT3" (big-endian): header
  * (vocab, dim, nLayers, nHeads, ffDim, maxLen), then the vocab table
  * (vocab × writeUTF, token id = position), then, in order:
  * tokEmb vocab×d, posEmb maxLen×d, per layer
  * {Wq,Wk,Wv,Wo d×d + biases d; ln1 γ,β d; W1 d×F + b1 F;
  *  W2 F×d + b2 d; ln2 γ,β d}. All matrices row-major (in-feature
  * major, matching y = xW + b). "GFT2" is the same without the vocab
  * table.
  */
final class TransformerEmbedder(artifactName: String) extends Embedder {

  @transient private lazy val model: TransformerEmbedder.Model =
    TransformerEmbedder.load(artifactName)

  override def dim: Int = model.d

  override def embed(text: String): Array[Float] =
    TransformerEmbedder.forward(model, text)
}

object TransformerEmbedder {

  final case class Layer(wq: Array[Float], bq: Array[Float],
                         wk: Array[Float], bk: Array[Float],
                         wv: Array[Float], bv: Array[Float],
                         wo: Array[Float], bo: Array[Float],
                         ln1g: Array[Float], ln1b: Array[Float],
                         w1: Array[Float], b1: Array[Float],
                         w2: Array[Float], b2: Array[Float],
                         ln2g: Array[Float], ln2b: Array[Float])

  /** `vocabTable` is the WordPiece vocabulary (token → id) when the
    * artifact is GFT3; null for legacy GFT2 artifacts, which fall back
    * to hashed whole-word tokenization. */
  final case class Model(vocab: Int, d: Int, nHeads: Int, ffDim: Int,
                         maxLen: Int, tokEmb: Array[Float],
                         posEmb: Array[Float], layers: Array[Layer],
                         vocabTable: Map[String, Int])

  /** Loads in this JVM since process start — spec-asserted to stay at 1
    * per artifact across a multi-partition embed pass. */
  val loadCount = new AtomicInteger(0)

  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Model]()

  // ------------------------------------------------------------ math

  /** y(1×n) = x(1×m) · W(m×n) + b, row-major W. */
  private def dense(x: Array[Float], w: Array[Float], b: Array[Float],
                    m: Int, n: Int, y: Array[Float]): Unit = {
    var j = 0
    while (j < n) { y(j) = if (b == null) 0f else b(j); j += 1 }
    var i = 0
    while (i < m) {
      val xi = x(i)
      if (xi != 0f) {
        val off = i * n
        j = 0
        while (j < n) { y(j) += xi * w(off + j); j += 1 }
      }
      i += 1
    }
  }

  private def layerNorm(x: Array[Float], off: Int, d: Int,
                        g: Array[Float], b: Array[Float]): Unit = {
    var mu = 0.0
    var i = 0
    while (i < d) { mu += x(off + i); i += 1 }
    mu /= d
    var v = 0.0
    i = 0
    while (i < d) { val c = x(off + i) - mu; v += c * c; i += 1 }
    val inv = 1.0 / math.sqrt(v / d + 1e-12)
    i = 0
    while (i < d) {
      x(off + i) = (((x(off + i) - mu) * inv) * g(i) + b(i)).toFloat
      i += 1
    }
  }

  /** tanh-approximation GELU (the BERT/MiniLM activation). */
  private def gelu(x: Double): Double =
    0.5 * x * (1.0 + math.tanh(0.7978845608028654 * (x + 0.044715 * x * x * x)))

  // --------------------------------------------------------- forward

  private[graft] def tokenize(model: Model, text: String): Array[Int] = {
    if (text == null) return Array.empty
    if (model.vocabTable != null) return wordPiece(model, text)
    // legacy GFT2: hashed whole-word ids (vocabulary-free)
    val words = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    words.take(model.maxLen).map { w =>
      val h = graft.text.RollingHash.hashToken(
        org.apache.spark.unsafe.types.UTF8String.fromString(w))
      java.lang.Math.floorMod(h, model.vocab.toLong).toInt
    }
  }

  /** BERT basic tokenization: lowercase, whitespace split, punctuation
    * split into standalone tokens. */
  private[graft] def basicTokens(text: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { w =>
      var cur = new StringBuilder
      w.foreach { ch =>
        if (Character.isLetterOrDigit(ch)) cur.append(ch)
        else {
          if (cur.nonEmpty) { out += cur.toString; cur = new StringBuilder }
          out += ch.toString
        }
      }
      if (cur.nonEmpty) out += cur.toString
    }
    out.toArray
  }

  /** WordPiece: greedy longest-match-first subword split against the
    * artifact's vocab — the tokenizer contract of the reference's
    * all-MiniLM-L6-v2 deployment (loader/service.py:39-52). Per word:
    * the longest vocab prefix is taken, the remainder matches with the
    * `##` continuation prefix; a word with an unmatchable position
    * becomes one `[UNK]`. `[CLS]`/`[SEP]` wrap the sequence when the
    * vocab defines them; output truncates to maxLen with `[SEP]` kept
    * terminal. */
  private[graft] def wordPiece(model: Model, text: String): Array[Int] = {
    val v = model.vocabTable
    val unk = v.getOrElse("[UNK]", 0)
    val sep = v.get("[SEP]")
    val ids = mutable.ArrayBuffer.empty[Int]
    v.get("[CLS]").foreach(ids += _)
    val budget = model.maxLen - (if (sep.isDefined) 1 else 0)
    val words = basicTokens(text)
    var wi = 0
    while (wi < words.length && ids.length < budget) {
      val w = words(wi)
      val sub = mutable.ArrayBuffer.empty[Int]
      var start = 0
      var bad = false
      while (start < w.length && !bad) {
        var end = w.length
        var found = -1
        while (end > start && found < 0) {
          val piece = (if (start > 0) "##" else "") + w.substring(start, end)
          v.get(piece) match {
            case Some(id) => found = id
            case None => end -= 1
          }
        }
        if (found < 0) bad = true
        else { sub += found; start = end }
      }
      if (bad) ids += unk else ids ++= sub
      wi += 1
    }
    val trimmed = if (ids.length > budget) ids.take(budget) else ids
    sep.foreach(trimmed += _)
    trimmed.toArray
  }

  /** The full encoder forward pass for one text; returns the
    * L2-normalized mean-pooled sentence vector (zeros for empty). */
  private[enrich] def forward(model: Model, text: String): Array[Float] = {
    val d = model.d
    val out = new Array[Float](d)
    val toks = tokenize(model, text)
    val n = toks.length
    if (n == 0) return out
    val h = model.nHeads
    val dh = d / h
    val scale = 1.0 / math.sqrt(dh.toDouble)

    // x(n×d) = tokEmb[id] + posEmb[pos]
    var x = new Array[Float](n * d)
    var t = 0
    while (t < n) {
      val te = toks(t) * d
      val pe = t * d
      var i = 0
      while (i < d) {
        x(t * d + i) = model.tokEmb(te + i) + model.posEmb(pe + i); i += 1
      }
      t += 1
    }

    val q = new Array[Float](n * d); val k = new Array[Float](n * d)
    val v = new Array[Float](n * d); val att = new Array[Float](n * d)
    val row = new Array[Float](d); val tmp = new Array[Float](d)
    val ff = new Array[Float](model.ffDim)
    val scores = new Array[Double](n)

    model.layers.foreach { L =>
      // per-token Q,K,V projections
      t = 0
      while (t < n) {
        System.arraycopy(x, t * d, row, 0, d)
        dense(row, L.wq, L.bq, d, d, tmp); System.arraycopy(tmp, 0, q, t * d, d)
        dense(row, L.wk, L.bk, d, d, tmp); System.arraycopy(tmp, 0, k, t * d, d)
        dense(row, L.wv, L.bv, d, d, tmp); System.arraycopy(tmp, 0, v, t * d, d)
        t += 1
      }
      // multi-head scaled-dot-product attention
      var head = 0
      while (head < h) {
        val ho = head * dh
        t = 0
        while (t < n) {
          var s = 0
          var mx = Double.MinValue
          while (s < n) {
            var dot = 0.0
            var i = 0
            while (i < dh) { dot += q(t * d + ho + i) * k(s * d + ho + i); i += 1 }
            val sc = dot * scale
            scores(s) = sc
            if (sc > mx) mx = sc
            s += 1
          }
          var z = 0.0
          s = 0
          while (s < n) { scores(s) = math.exp(scores(s) - mx); z += scores(s); s += 1 }
          var i = 0
          while (i < dh) {
            var acc = 0.0
            s = 0
            while (s < n) { acc += scores(s) * v(s * d + ho + i); s += 1 }
            att(t * d + ho + i) = (acc / z).toFloat
            i += 1
          }
          t += 1
        }
        head += 1
      }
      // output projection + residual + LN1, then FFN + residual + LN2
      t = 0
      while (t < n) {
        System.arraycopy(att, t * d, row, 0, d)
        dense(row, L.wo, L.bo, d, d, tmp)
        var i = 0
        while (i < d) { x(t * d + i) += tmp(i); i += 1 }
        layerNorm(x, t * d, d, L.ln1g, L.ln1b)
        System.arraycopy(x, t * d, row, 0, d)
        dense(row, L.w1, L.b1, d, model.ffDim, ff)
        i = 0
        while (i < model.ffDim) { ff(i) = gelu(ff(i)).toFloat; i += 1 }
        dense(ff, L.w2, L.b2, model.ffDim, d, tmp)
        i = 0
        while (i < d) { x(t * d + i) += tmp(i); i += 1 }
        layerNorm(x, t * d, d, L.ln2g, L.ln2b)
        t += 1
      }
    }

    // attention-mask mean pooling (all n real tokens) + L2 normalize —
    // the sentence-transformers pooling head
    var i = 0
    while (i < d) {
      var acc = 0.0
      t = 0
      while (t < n) { acc += x(t * d + i); t += 1 }
      out(i) = (acc / n).toFloat
      i += 1
    }
    var norm = 0.0
    i = 0
    while (i < d) { norm += out(i) * out(i); i += 1 }
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm)).toFloat
      i = 0
      while (i < d) { out(i) *= inv; i += 1 }
    }
    out
  }

  // -------------------------------------------------------- artifact

  /** Spec hook: load (cached) without constructing an embedder. */
  private[graft] def testLoad(name: String): Model = load(name)

  private def load(name: String): Model =
    cache.computeIfAbsent(name, n => {
      loadCount.incrementAndGet()
      val local = new File(n)
      val path =
        if (local.exists()) local.getPath
        else SparkFiles.get(new File(n).getName)
      val in = new DataInputStream(new BufferedInputStream(
        new FileInputStream(path)))
      try {
        val magic = new Array[Byte](4); in.readFully(magic)
        val version = new String(magic, "US-ASCII")
        require(version == "GFT2" || version == "GFT3",
          s"not a graft transformer artifact: $path")
        val vocab = in.readInt(); val d = in.readInt()
        val nLayers = in.readInt(); val nHeads = in.readInt()
        val ffDim = in.readInt(); val maxLen = in.readInt()
        require(d % nHeads == 0, s"dim $d not divisible by heads $nHeads")
        // GFT3 carries the WordPiece vocab table between header and
        // weights; GFT2 has none (hashed tokenization)
        val vocabTable: Map[String, Int] =
          if (version == "GFT3")
            (0 until vocab).map(i => in.readUTF() -> i).toMap
          else null
        def arr(len: Int): Array[Float] = {
          val a = new Array[Float](len)
          var i = 0
          while (i < len) { a(i) = in.readFloat(); i += 1 }
          a
        }
        val tokEmb = arr(vocab * d); val posEmb = arr(maxLen * d)
        val layers = Array.fill(nLayers)(Layer(
          arr(d * d), arr(d), arr(d * d), arr(d), arr(d * d), arr(d),
          arr(d * d), arr(d), arr(d), arr(d),
          arr(d * ffDim), arr(ffDim), arr(ffDim * d), arr(d),
          arr(d), arr(d)))
        Model(vocab, d, nHeads, ffDim, maxLen, tokEmb, posEmb, layers,
          vocabTable)
      } finally in.close()
    })

  /** The default synthetic WordPiece vocab: specials, every ascii
    * letter/digit as both word-initial and `##` continuation (the
    * char-level fallback real WordPiece vocabs carry, so every word is
    * tokenizable), and a few common English subwords. */
  val defaultVocab: Seq[String] = {
    val chars = (('a' to 'z') ++ ('0' to '9')).map(_.toString)
    Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]") ++
      chars ++ chars.map("##" + _) ++
      Seq("the", "and", "of", "in", "on", "new", "street", "band",
        "jazz", "music", "##ing", "##er", "##ed", "doc",
        "number", "about", "un", "##want")
  }

  /** Export a seeded artifact with the trained-export layout: Xavier-ish
    * weights, identity LayerNorm (γ=1, β=0). Writes GFT3 (WordPiece
    * vocab table embedded) by default; `wordPiece = false` writes the
    * legacy GFT2 hashed-tokenization layout. */
  def save(path: String, vocab: Int = 512, d: Int = 32, nLayers: Int = 2,
           nHeads: Int = 4, ffDim: Int = 64, maxLen: Int = 64,
           seed: Long = 42L, wordPiece: Boolean = true,
           vocabTokens: Seq[String] = defaultVocab): Unit = {
    require(d % nHeads == 0)
    require(!wordPiece || vocabTokens.distinct.length == vocabTokens.length,
      "vocabTokens must be distinct")
    val vocabN = if (wordPiece) vocabTokens.length else vocab
    val rnd = new scala.util.Random(seed)
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    def mat(m: Int, n: Int): Unit = {
      val s = math.sqrt(2.0 / (m + n)).toFloat
      var i = 0
      while (i < m * n) { out.writeFloat((rnd.nextGaussian() * s).toFloat); i += 1 }
    }
    def zeros(n: Int): Unit = { var i = 0; while (i < n) { out.writeFloat(0f); i += 1 } }
    def ones(n: Int): Unit = { var i = 0; while (i < n) { out.writeFloat(1f); i += 1 } }
    try {
      out.writeBytes(if (wordPiece) "GFT3" else "GFT2")
      out.writeInt(vocabN); out.writeInt(d); out.writeInt(nLayers)
      out.writeInt(nHeads); out.writeInt(ffDim); out.writeInt(maxLen)
      if (wordPiece) vocabTokens.foreach(out.writeUTF)
      mat(vocabN, d); mat(maxLen, d)
      var l = 0
      while (l < nLayers) {
        mat(d, d); zeros(d); mat(d, d); zeros(d); mat(d, d); zeros(d)
        mat(d, d); zeros(d)          // Wo
        ones(d); zeros(d)            // ln1
        mat(d, ffDim); zeros(ffDim)  // W1
        mat(ffDim, d); zeros(d)      // W2
        ones(d); zeros(d)            // ln2
        l += 1
      }
    } finally out.close()
  }
}
