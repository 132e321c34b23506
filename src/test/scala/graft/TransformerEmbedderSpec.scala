package graft

import graft.enrich.{EmbedStage, TransformerEmbedder}
import java.nio.file.Files

/** The real-forward-pass embedder: multi-head attention + GELU FFN +
  * LayerNorm encoder with mean pooling — only the artifact's weights
  * are synthetic. Tests pin the properties a real encoder must have. */
class TransformerEmbedderSpec extends SparkSpec {
  import spark.implicits._

  private lazy val artifact = {
    val f = Files.createTempDirectory("graft-tfm")
      .resolve("encoder-v2.gft2").toString
    TransformerEmbedder.save(f)
    spark.sparkContext.addFile(f)
    f
  }

  test("embedColumn: deterministic, unit-norm, null/empty semantics") {
    val docs = Seq((1L, "new orleans jazz quartet"),
        (2L, "brass band on frenchmen street"),
        (3L, null.asInstanceOf[String]), (4L, "  "))
      .toDF("id", "text").repartition(4)
    val emb = new TransformerEmbedder(artifact)
    val out = EmbedStage.embedColumn(docs, "text", "emb", emb)
      .orderBy("id").collect()
    val v1 = out(0).getSeq[Float](2)
    assert(v1.length == 32)
    val norm = math.sqrt(v1.map(x => x * x.toDouble).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    assert(out(2).isNullAt(2) && out(3).isNullAt(2))
    val again = EmbedStage.embedColumn(docs, "text", "emb", emb)
      .orderBy("id").collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("attention contextualizes: sentence vector is not a bag-of-words mean") {
    val emb = new TransformerEmbedder(artifact)
    val xy = emb.embed("trumpet drums")
    val x = emb.embed("trumpet")
    val y = emb.embed("drums")
    // mean of the single-word vectors, renormalized
    val avg = x.zip(y).map { case (a, b) => (a + b) / 2 }
    val n = math.sqrt(avg.map(v => v * v.toDouble).sum)
    val cos = xy.zip(avg).map { case (a, b) => a * b / n }.sum
    assert(cos < 0.999,
      s"two-token sentence equals the token mean (cos=$cos) — attention is inert")
    // and position matters: a reordered sentence embeds differently
    val yx = emb.embed("drums trumpet")
    assert(xy.toSeq != yx.toSeq, "position embeddings are inert")
  }

  test("weights load once per JVM across a multi-partition pass") {
    val docs = (1 to 64).map(i => (i.toLong, s"doc number $i about music"))
      .toDF("id", "text").repartition(8)
    val before = TransformerEmbedder.loadCount.get()
    val emb = new TransformerEmbedder(artifact)
    val n = EmbedStage.embedColumn(docs, "text", "emb", emb)
      .filter("emb is not null").count()
    assert(n == 64)
    val loads = TransformerEmbedder.loadCount.get() - before
    // local[*] = one JVM: the artifact must have loaded at most once
    // (0 if an earlier test in this suite already cached it)
    assert(loads <= 1, s"model loaded $loads times — per-task loading leak")
  }

  test("WordPiece: greedy longest-match-first subword split with ## continuations") {
    val dir = Files.createTempDirectory("graft-wp")
    val f = dir.resolve("wp.gft3").toString
    val vocab = Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]",
      "un", "##want", "##wa", "##ed", "unwant", "play", "##ing", "x")
    TransformerEmbedder.save(f, vocabTokens = vocab)
    val m = TransformerEmbedder.load(f)
    def ids(s: String) = TransformerEmbedder.tokenize(m, s).toSeq
    def id(t: String) = vocab.indexOf(t)
    // word-initial longest-first: "unwant" wins over "un"
    assert(ids("unwanted") ==
      Seq(id("[CLS]"), id("unwant"), id("##ed"), id("[SEP]")))
    // continuation longest-first: "##want" wins over "##wa"
    assert(ids("playwanted") ==
      Seq(id("[CLS]"), id("play"), id("##want"), id("##ed"), id("[SEP]")))
    assert(ids("playing") ==
      Seq(id("[CLS]"), id("play"), id("##ing"), id("[SEP]")))
  }

  test("WordPiece: unmatchable word becomes one [UNK]; punctuation splits off") {
    val dir = Files.createTempDirectory("graft-wp2")
    val f = dir.resolve("wp2.gft3").toString
    val vocab = Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]", "a", "##b", ",")
    TransformerEmbedder.save(f, vocabTokens = vocab)
    val m = TransformerEmbedder.load(f)
    def ids(s: String) = TransformerEmbedder.tokenize(m, s).toSeq
    def id(t: String) = vocab.indexOf(t)
    // "q" has no vocab entry at position 0 → whole word is [UNK];
    // mid-word failure ("ab" matches a+##b but "abz" dead-ends) too
    assert(ids("q") == Seq(id("[CLS]"), id("[UNK]"), id("[SEP]")))
    assert(ids("ab") == Seq(id("[CLS]"), id("a"), id("##b"), id("[SEP]")))
    assert(ids("abz") == Seq(id("[CLS]"), id("[UNK]"), id("[SEP]")))
    // punctuation is its own token (BERT basic tokenization)
    assert(ids("a,ab") ==
      Seq(id("[CLS]"), id("a"), id(","), id("a"), id("##b"), id("[SEP]")))
  }

  test("WordPiece: maxLen truncation keeps [SEP] terminal") {
    val dir = Files.createTempDirectory("graft-wp3")
    val f = dir.resolve("wp3.gft3").toString
    val vocab = Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]", "a", "##a")
    TransformerEmbedder.save(f, vocabTokens = vocab, maxLen = 8)
    val m = TransformerEmbedder.load(f)
    val toks = TransformerEmbedder.tokenize(m, Array.fill(50)("aaa").mkString(" "))
    assert(toks.length == 8, s"len=${toks.length}")
    assert(toks.head == vocab.indexOf("[CLS]") && toks.last == vocab.indexOf("[SEP]"))
    assert(toks.forall(_ < vocab.length))
  }

  test("WordPiece property: char-fallback vocab never yields [UNK]; " +
      "stripping ## reconstructs every word") {
    val dir = Files.createTempDirectory("graft-wp-prop")
    val f = dir.resolve("prop.gft3").toString
    // the default vocab carries every letter/digit as word-initial AND
    // ## continuation — the char-level fallback of real vocabs
    TransformerEmbedder.save(f, maxLen = 256)
    val m = TransformerEmbedder.load(f)
    val idToTok = TransformerEmbedder.defaultVocab.zipWithIndex
      .map(_.swap).toMap
    val rng = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val nWords = 1 + rng.nextInt(6)
      val words = Seq.fill(nWords)(
        Seq.fill(1 + rng.nextInt(12))(
          "abcdefghijklmnopqrstuvwxyz0123456789".charAt(rng.nextInt(36)))
          .mkString)
      val toks = TransformerEmbedder.tokenize(m, words.mkString(" "))
      val pieces = toks.map(idToTok)
      assert(!pieces.contains("[UNK]"), s"$words -> ${pieces.toSeq}")
      // drop [CLS]/[SEP], split back into words at non-## boundaries
      val body = pieces.filterNot(p => p == "[CLS]" || p == "[SEP]")
      val rebuilt = body.foldLeft(List.empty[String]) {
        case (acc, p) if p.startsWith("##") =>
          acc.init :+ (acc.last + p.drop(2))
        case (acc, p) => acc :+ p
      }
      assert(rebuilt == words, s"$words -> ${pieces.toSeq} -> $rebuilt")
    }
  }

  test("legacy GFT2 artifact still loads and embeds (hashed tokenization)") {
    val dir = Files.createTempDirectory("graft-gft2")
    val f = dir.resolve("legacy.gft2").toString
    TransformerEmbedder.save(f, wordPiece = false)
    val emb = new TransformerEmbedder(f)
    val v = emb.embed("new orleans jazz")
    assert(v.length == 32)
    val norm = math.sqrt(v.map(x => x * x.toDouble).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("truncation at maxLen and long-input stability") {
    val emb = new TransformerEmbedder(artifact)
    val long = (1 to 500).map(i => s"w$i").mkString(" ")
    val v = emb.embed(long)
    val norm = math.sqrt(v.map(x => x * x.toDouble).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    // tokens beyond maxLen cannot influence the embedding
    assert(emb.embed((1 to 64).map(i => s"w$i").mkString(" ")).toSeq ==
      emb.embed((1 to 80).map(i => s"w$i").mkString(" ")).toSeq)
  }

  private def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString

  private def sha256(path: String): String =
    hex(java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(java.nio.file.Paths.get(path))))

  /** One text per tokenizer/forward path: a single word, about 10 and
    * about 60 tokens, one truncated past maxLen, punctuation, a word
    * that becomes [UNK] (no vocab entry for 'é'), and a blank text. */
  private val pinnedTexts = Seq(
    "jazz",
    "new orleans jazz",
    "the jazz band and the brass band played new music in the street, " +
      "about a number of doc; then the band played on and on until the music " +
      "faded into the new morning",
    (1 to 90).map(i => s"w$i").mkString(" "),
    "rock, roll & soul! (live) -- 9:30pm",
    "café",
    "   ")

  /** SHA-256 over the big-endian float bits of every pinned text's
    * embedding, in order. */
  private def embeddingSha(path: String): String = {
    val emb = new TransformerEmbedder(path)
    val buf = java.nio.ByteBuffer.allocate(pinnedTexts.length * emb.dim * 4)
    pinnedTexts.foreach(t => emb.embed(t).foreach(buf.putFloat))
    hex(java.security.MessageDigest.getInstance("SHA-256").digest(buf.array()))
  }

  test("forward pass bytes: embeddings of fixed texts keep their pinned SHA-256 " +
      "under GFT3, GFT2 and an odd-shaped artifact") {
    val dir = Files.createTempDirectory("graft-tfm-fwd")
    val gft3 = dir.resolve("fwd.gft3").toString
    val gft2 = dir.resolve("fwd.gft2").toString
    val odd = dir.resolve("odd.gft3").toString
    TransformerEmbedder.save(gft3)
    TransformerEmbedder.save(gft2, wordPiece = false)
    // widths and row counts that are no multiple of any vector width
    TransformerEmbedder.save(odd, d = 36, nHeads = 4, ffDim = 100, nLayers = 3)
    val m = TransformerEmbedder.load(gft3)
    assert(pinnedTexts.map(t => TransformerEmbedder.tokenize(m, t).length) ==
      Seq(3, 11, 62, 64, 31, 3, 2))
    assert(Seq(gft3, gft2, odd).map(embeddingSha) == Seq(
      "5c26c39019a182a0e657ad2810b3b4979f0b0504984a243670f10db24722761f",
      "6fd2f373b278b14171cf8233b8aac61a94f89930d77a49460f41f6d949e38fb8",
      "977935b0d68d0e58cb04361242b7b249abdb447decc76ab6d2b2d622f1165f96"))
  }

  test("artifact bytes: seeded GFT3 and GFT2 artifacts keep their pinned SHA-256") {
    val dir = Files.createTempDirectory("graft-tfm-sha")
    val gft3 = dir.resolve("t.gft3").toString
    val gft2 = dir.resolve("t.gft2").toString
    TransformerEmbedder.save(gft3)
    TransformerEmbedder.save(gft2, wordPiece = false)
    assert(sha256(gft3) == "3ee1f2f7099049f66e96dcc43fcd2f5f049cd091fbe63c1ef51540a4697b79ac")
    assert(sha256(gft2) == "ce54caaec540adc7e5dee0570e077e7d4d24d9781a01556efdfeec9673983850")
  }
}
