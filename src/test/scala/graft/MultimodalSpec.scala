package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "alpha bravo charlie delta echo foxtrot"),
    (1L, "golf hotel india"),
    (2L, "juliet kilo lima mike november oscar papa quebec"),
  ).toDF("doc_id", "text")

  test("media table: binary content + typed metadata, type by id") {
    val m = Multimodal.mediaFromDocuments(docs).orderBy("doc_id").collect()
    assert(m.map(_.getAs[String]("media_type")).sameElements(
      Array("image", "audio", "video")))
    // image rows are REAL P6 payloads whose meta matches the raster dims
    val img = graft.multimodal.PpmCodec
      .decode(m(0).getAs[Array[Byte]]("content")).get
    assert(img.width == 4 && img.height == 4) // doc 0: 0%16+4, 0*7%16+4
    assert(m(0).getAs[org.apache.spark.sql.Row]("meta").getInt(0) == 4)
    // audio rows keep the text bytes as the stand-in payload
    assert(m(1).getAs[Array[Byte]]("content").length ==
      "golf hotel india".length)
    assert(m(1).getAs[org.apache.spark.sql.Row]("meta").getInt(0) == 17) // 1%1024+16
  }

  test("feature extraction: deterministic, normalized, null-safe") {
    val m = Multimodal.mediaFromDocuments(docs)
    val f1 = Multimodal.extractFeatures(m).orderBy("doc_id")
      .select("features").as[Seq[Float]].collect()
    val f2 = Multimodal.extractFeatures(m).orderBy("doc_id")
      .select("features").as[Seq[Float]].collect()
    assert(f1.head == f2.head)            // deterministic
    // doc 0 is an image: [meanR, meanG, meanB, 13-bin luma histogram];
    // the histogram part is L1-normalized, the means sit in [0, 1]
    assert(f1.head.length == 16)
    assert(math.abs(f1.head.drop(3).sum - 1.0) < 1e-5)
    assert(f1.head.take(3).forall(v => v >= 0f && v <= 1f))
    // doc 1 is audio: the stub byte histogram, L1-normalized whole
    assert(math.abs(f1(1).sum - 1.0) < 1e-5)
  }

  test("resize caps the larger side and truncates payload") {
    val m = Multimodal.mediaFromDocuments(docs)
    val r = Multimodal.resize(m, 8).orderBy("doc_id").head()
    val meta = r.getAs[org.apache.spark.sql.Row]("meta")
    assert(math.max(meta.getInt(0), meta.getInt(1)) <= 8)
  }

  test("resize truncates NON-IMAGE content by the ORIGINAL scale, " +
       "not the new meta") {
    val m = Multimodal.mediaFromDocuments(docs)
      .filter(col("media_type") =!= "image")
    val before = m.orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Array[Byte]]("content").length,
          r.getAs[org.apache.spark.sql.Row]("meta")))
      .toMap
    Multimodal.resize(m, 8).orderBy("doc_id").collect().foreach { r =>
      val (origLen, origMeta) = before(r.getAs[Long]("doc_id"))
      val scale = math.min(1.0,
        8.0 / math.max(origMeta.getInt(0), origMeta.getInt(1)))
      val expected = math.max(1, (origLen * scale).toInt)
      assert(r.getAs[Array[Byte]]("content").length == expected)
      assert(scale < 1.0) // fixture dims exceed 8, so truncation is real
    }
  }

  test("frame sampling explodes video rows only") {
    val m = Multimodal.mediaFromDocuments(docs)
    val frames = Multimodal.sampleFrames(m, stride = 1, frameBytes = 8)
    assert(frames.select("doc_id").distinct().as[Long].collect()
      .sameElements(Array(2L))) // only the video doc
    assert(frames.count() >= 1)
    assert(frames.agg(max(col("frame_len"))).head().getInt(0) <= 8)
  }

  test("audio chunking: contiguous windows cover the clip, last ragged") {
    val m = Multimodal.mediaFromDocuments(docs)
    val chunks = Multimodal.chunkAudio(m, windowMs = 1000L).collect()
    assert(chunks.nonEmpty)
    val byDoc = chunks.groupBy(_.getLong(0))
    byDoc.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      // starts are contiguous multiples of the window
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) == i.toLong)
        assert(r.getLong(2) == i * 1000L)
        assert(r.getLong(3) <= 1000L && r.getLong(3) > 0L)
      }
      // every chunk before the last is full-length
      sorted.init.foreach(r => assert(r.getLong(3) == 1000L))
      // reassembling the chunks recovers the full payload length
      val total = sorted.map(_.getInt(5)).sum
      val original = Multimodal.mediaFromDocuments(docs)
        .filter(col("doc_id") === sorted.head.getLong(0))
        .select(length(col("content"))).head().getInt(0)
      assert(total == original, s"chunks=$total original=$original")
    }
  }
  test("PpmCodec: hand-built P6 bytes decode byte-exactly; round-trip") {
    import graft.multimodal.PpmCodec
    // 2x1 image: red pixel then blue pixel, built by hand
    val hand = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](255.toByte, 0, 0, 0, 0, 255.toByte)
    val img = PpmCodec.decode(hand).get
    assert(img.width == 2 && img.height == 1)
    assert(img.at(0, 0, 0) == 255 && img.at(0, 0, 1) == 0 && img.at(0, 0, 2) == 0)
    assert(img.at(1, 0, 0) == 0 && img.at(1, 0, 2) == 255)
    // canonical re-encode reproduces the hand-built bytes exactly
    assert(PpmCodec.encode(img).sameElements(hand))
    // header grammar: comments and extra whitespace still decode
    val commented = ("P6 # a comment\n  2\t1 # dims\n255\n"
      .getBytes("US-ASCII")) ++ hand.drop(11)
    val img2 = PpmCodec.decode(commented).get
    assert(img2.width == 2 && img2.rgb.sameElements(img.rgb))
    // non-P6 bytes are rejected, not misparsed
    assert(PpmCodec.decode("not an image".getBytes).isEmpty)
    assert(PpmCodec.decode("P6\n2 1\n255\nxx".getBytes).isEmpty) // short raster
  }

  test("PpmCodec: nearest-neighbor resize samples src via integer map") {
    import graft.multimodal.PpmCodec
    // 4x1 gradient: R = 10,20,30,40; resize to 2x1 -> sx = x*4/2 = {0,2}
    val rgb = Array[Byte](10, 0, 0, 20, 0, 0, 30, 0, 0, 40, 0, 0)
    val half = PpmCodec.resizeNearest(PpmCodec.Image(4, 1, rgb), 2, 1)
    assert(half.at(0, 0, 0) == 10 && half.at(1, 0, 0) == 30)
    // upscale 2x1 -> 4x1: sx = x*2/4 = {0,0,1,1}
    val up = PpmCodec.resizeNearest(half, 4, 1)
    assert((0 until 4).map(x => up.at(x, 0, 0)) == Seq(10, 10, 30, 30))
  }

  test("image features come from decoded pixels, not the byte stub") {
    import graft.multimodal.PpmCodec
    // uniform gray 128: meanR=meanG=meanB=128/255, one luma bin holds all
    val n = 6
    val img = PpmCodec.Image(3, 2, Array.fill(n * 3)(128.toByte))
    val f = PpmCodec.features(img)
    assert(math.abs(f(0) - 128.0 / 255.0) < 1e-7)
    assert(f(0) == f(1) && f(1) == f(2))
    assert(f.drop(3).count(_ == 1.0f) == 1 && math.abs(f.drop(3).sum - 1f) < 1e-6)
    // and the Spark stage dispatches to it for P6 payloads
    val df = Seq((0L, "image", PpmCodec.encode(img))).toDF(
      "doc_id", "media_type", "content")
    val got = Multimodal.extractFeatures(df)
      .select("features").as[Seq[Float]].head()
    assert(got == f.toSeq)
  }

  test("WavCodec: hand-built RIFF bytes decode byte-exactly; round-trip") {
    import graft.multimodal.WavCodec
    // hand-assembled canonical 44-byte header + 3 PCM16LE samples
    // (rate 8000, mono): 100, -2, -32768
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val hand = "RIFF".getBytes ++ le32(36 + 6) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
      le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(6) ++ le16(100) ++ le16(0xfffe) ++ le16(0x8000)
    val clip = WavCodec.decode(hand).get
    assert(clip.sampleRate == 8000 && clip.channels == 1 && clip.frames == 3)
    assert(clip.samples.toSeq == Seq[Short](100, -2, -32768))
    // round-trip: the canonical writer reproduces the hand bytes exactly
    assert(WavCodec.encode(clip).toSeq == hand.toSeq)
    // an extra LIST chunk between fmt and data is skipped (word-aligned)
    val listed = hand.take(36) ++
      ("LIST".getBytes ++ le32(5) ++ "INFOx".getBytes :+ 0.toByte) ++
      hand.drop(36)
    assert(WavCodec.decode(listed).get.samples.toSeq == clip.samples.toSeq)
    // malformed payloads are None, not garbage
    assert(WavCodec.decode("not audio".getBytes).isEmpty)
    assert(WavCodec.decode(hand.dropRight(1)).isEmpty)  // truncated data
    val nonPcm = hand.clone(); nonPcm(20) = 3           // IEEE-float fmt
    assert(WavCodec.decode(nonPcm).isEmpty)
  }

  test("WavCodec stats: exact integer duration/peak/clipping, IEEE rms") {
    import graft.multimodal.WavCodec
    val samples = Array[Short](0, 100, -100, 32767, -32768, -32767, 5)
    val st = WavCodec.stats(WavCodec.Clip(14000, 1, samples))
    assert(st.frames == 7 && st.durationMs == 0L) // 7/14000 s → 0 ms
    assert(WavCodec.stats(WavCodec.Clip(1000, 1, samples)).durationMs == 7L)
    assert(st.peak == 32768)
    assert(st.clipped == 3L) // 32767, -32768, -32767
    val expectSq = samples.map(s => s.toLong * s).sum
    assert(st.sumSquares == expectSq)
    assert(st.rms == math.sqrt(expectSq.toDouble / 7))
    // sign changes on: 100→-100, -100→32767, 32767→-32768, -32768(→-32767 no), -32767→5
    assert(st.zeroCrossings == 4L)
    // stereo: frames halve, channel-0 zero crossings only
    val stereo = WavCodec.stats(WavCodec.Clip(8000, 2,
      Array[Short](10, -10, -10, 10, 10, -10))) // ch0: 10, -10, 10
    assert(stereo.frames == 3 && stereo.zeroCrossings == 2L)
  }

  test("audio features come from decoded samples, not the byte stub") {
    import graft.multimodal.WavCodec
    val clip = WavCodec.Clip(8000, 1,
      Array.tabulate[Short](64)(i => ((i * 997) % 65536 - 32768).toShort))
    val f = Multimodal.audioFeatures(clip)
    val st = WavCodec.stats(clip)
    assert(f.length == 16)
    assert(f(0) == (st.rms / 32768.0).toFloat)
    assert(f(1) == (st.peak / 32768.0).toFloat)
    // the dispatch in extractFeatures picks the WAV branch for RIFF bytes
    val df = Seq((1L, "audio", WavCodec.encode(clip))).toDF(
      "doc_id", "media_type", "content")
    val got = Multimodal.extractFeatures(df)
      .select("features").as[Seq[Float]].head()
    assert(got == f.toSeq)
    // while non-RIFF audio payloads still take the declared stub path
    val stub = Seq((2L, "audio", "plain text bytes".getBytes)).toDF(
      "doc_id", "media_type", "content")
    val sf = Multimodal.extractFeatures(stub)
      .select("features").as[Seq[Float]].head()
    assert(sf.sum > 0.99f && sf.sum < 1.01f) // L1-normalized byte histogram
  }

  test("Y4mCodec: hand-built Y4M bytes decode byte-exactly; round-trip") {
    import graft.multimodal.Y4mCodec
    // hand-assembled: 2x2 C420 (4 luma + 1 U + 1 V bytes/frame), 2 frames
    val f0 = Array[Byte](10, 20, 30, 40, 100, (200 & 0xff).toByte)
    val f1 = Array[Byte](15, 25, 35, 45, 110, (210 & 0xff).toByte)
    val hand = "YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C420\n".getBytes ++
      "FRAME\n".getBytes ++ f0 ++ "FRAME\n".getBytes ++ f1
    val v = Y4mCodec.decode(hand).get
    assert(v.width == 2 && v.height == 2 && v.fpsNum == 25 && v.fpsDen == 1)
    assert(v.frames.size == 2)
    assert(v.frames(0).toSeq == f0.toSeq && v.frames(1).toSeq == f1.toSeq)
    // round-trip: the canonical writer reproduces the hand bytes exactly
    assert(Y4mCodec.encode(v).toSeq == hand.toSeq)
    // header-parameter order flexibility + X metadata + FRAME params
    val reordered = ("YUV4MPEG2 C420jpeg F25:1 Xfoo=bar H2 W2\n" +
      "FRAME Xtimecode\n").getBytes ++ f0
    val v2 = Y4mCodec.decode(reordered).get
    assert(v2.frames.size == 1 && v2.frames(0).toSeq == f0.toSeq)
    // malformed payloads are None, not garbage
    assert(Y4mCodec.decode("not video".getBytes).isEmpty)
    assert(Y4mCodec.decode(hand.dropRight(1)).isEmpty)   // truncated frame
    assert(Y4mCodec.decode(
      "YUV4MPEG2 W3 H2 F25:1\nFRAME\n123456789".getBytes).isEmpty) // odd W
    assert(Y4mCodec.decode(
      "YUV4MPEG2 W2 H2 F25:1 C444\nFRAME\n".getBytes ++ f0).isEmpty)
  }

  test("Y4mCodec stats: exact luma/motion sums, floored duration") {
    import graft.multimodal.Y4mCodec
    def frame(ys: Array[Int]) =
      (ys ++ Array(0, 0)).map(_.toByte) // 2x2 luma + zero chroma
    val v = Y4mCodec.Video(2, 2, 3, 1, Vector(
      frame(Array(0, 10, 20, 250)), frame(Array(5, 10, 15, 255))))
    val st = Y4mCodec.stats(v)
    assert(st.nFrames == 2 && st.durationMs == 666L) // 2000/3 floored
    assert(st.lumaSum == (0 + 10 + 20 + 250 + 5 + 10 + 15 + 255).toLong)
    assert(st.motionSum == (5 + 0 + 5 + 5).toLong)
    assert(st.lumaMean == st.lumaSum.toDouble / 8)
    assert(st.motionMean == st.motionSum.toDouble / 4)
  }

  test("video features and frame sampling come from decoded planes") {
    import graft.multimodal.Y4mCodec
    val frames = Vector.tabulate(5) { f =>
      Array.tabulate(6)(i => ((f * 40 + i * 9) % 256).toByte)
    }
    val v = Y4mCodec.Video(2, 2, 10, 1, frames)
    val feat = Multimodal.videoFeatures(v)
    val st = Y4mCodec.stats(v)
    assert(feat(0) == (st.lumaMean / 255.0).toFloat)
    assert(feat(1) == (st.motionMean / 255.0).toFloat)
    // extractFeatures dispatches Y4M bytes to the video branch
    val df = Seq((2L, "video", Y4mCodec.encode(v))).toDF(
      "doc_id", "media_type", "content")
    val got = Multimodal.extractFeatures(df)
      .select("features").as[Seq[Float]].head()
    assert(got == feat.toSeq)
  }

  test("mediaFeatures UDF equals the batch extractFeatures dispatch") {
    import graft.multimodal.{PpmCodec, WavCodec, Y4mCodec}
    val img = PpmCodec.Image(3, 2,
      Array.tabulate[Byte](18)(i => (i * 11).toByte))
    val wav = WavCodec.Clip(8000, 1,
      Array.tabulate[Short](32)(i => (i * 999 % 65536 - 32768).toShort))
    val vid = Y4mCodec.Video(2, 2, 10, 1,
      Vector.tabulate(3)(f => Array.tabulate(6)(i => ((f * 50 + i) % 256).toByte)))
    val mixed = Seq(
      (0L, "image", PpmCodec.encode(img)),
      (1L, "audio", WavCodec.encode(wav)),
      (2L, "video", Y4mCodec.encode(vid)),
      (3L, "audio", "not media at all".getBytes)) // stub fallback
      .toDF("doc_id", "media_type", "content")
    val batch = Multimodal.extractFeatures(mixed)
      .select("doc_id", "features").as[(Long, Seq[Float])].collect().toMap
    val viaUdf = mixed
      .select(col("doc_id"), Multimodal.mediaFeatures(col("content")).as("features"))
      .as[(Long, Seq[Float])].collect().toMap
    assert(viaUdf == batch)
    assert(batch(0L) == PpmCodec.features(img).toSeq)
    assert(batch(1L) == Multimodal.audioFeatures(wav).toSeq)
    assert(batch(2L) == Multimodal.videoFeatures(vid).toSeq)
  }

  test("PngCodec: hand-built PNG bytes decode byte-exactly; round-trip; " +
      "all five filters; greyscale + RGBA; corrupt/bomb payloads → None") {
    import graft.multimodal.{PngCodec, PpmCodec}
    // hand-built 2x2 RGB, filter 0, known zlib stream assembled by the
    // JDK deflater over hand-laid scanlines — decode must return the
    // exact pixels (this pins signature/IHDR/IDAT/CRC/inflate/defilter)
    val px = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val raw = Array[Byte](0, 10, 20, 30, 40, 50, 60, 0, 70, 80, 90, 100, 110, 120)
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](256)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
      out.write(len)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb); out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(java.nio.ByteBuffer.allocate(4)
        .putInt(crc.getValue.toInt).array())
      out.toByteArray
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(2).putInt(2).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    val hand = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zbuf.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
    val img = PngCodec.decode(hand).get
    assert(img.width == 2 && img.height == 2 && img.rgb.toSeq == px.toSeq)
    // corrupting one IDAT byte breaks the chunk CRC → None
    val broken = hand.clone()
    broken(sig.length + 25 + 8 + 2) = (broken(sig.length + 25 + 8 + 2) + 1).toByte
    assert(PngCodec.decode(broken).isEmpty)
    // encoder round-trip: y%5 filter schedule covers all five filters
    // on a 7-row image; pixels reconstruct exactly
    val w = 6; val h = 7
    val rgb = Array.tabulate[Byte](w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    val enc = PngCodec.encode(PpmCodec.Image(w, h, rgb))
    assert(PngCodec.isPng(enc))
    val back = PngCodec.decode(enc).get
    assert(back.width == w && back.height == h && back.rgb.toSeq == rgb.toSeq)
    // RGBA: alpha dropped, RGB exact
    val rgba = Array.tabulate[Byte](4 * 3 * 4)(i => ((i * 7 + 3) % 256).toByte)
    val back6 = PngCodec.decode(PngCodec.encodeRgba(4, 3, rgba)).get
    val wantRgb = (0 until 4 * 3).flatMap(p =>
      Seq(rgba(p * 4), rgba(p * 4 + 1), rgba(p * 4 + 2)))
    assert(back6.rgb.toSeq == wantRgb)
    // greyscale (hand-built, colour type 0): replicated into RGB
    val graw = Array[Byte](0, 5, 6, 0, 7, 8) // 2x2, filter 0 rows
    val gd = new java.util.zip.Deflater()
    gd.setInput(graw); gd.finish()
    val gz = new java.io.ByteArrayOutputStream()
    while (!gd.finished()) gz.write(tmp, 0, gd.deflate(tmp))
    val gihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(2).putInt(2).put(8.toByte).put(0.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val grey = sig ++ chunk("IHDR", gihdr) ++ chunk("IDAT", gz.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
    assert(PngCodec.decode(grey).get.rgb.toSeq ==
      Seq[Byte](5, 5, 5, 6, 6, 6, 7, 7, 7, 8, 8, 8))
    // zip-bomb guard: a 1 GPix header is rejected before any inflate
    val bomb = java.nio.ByteBuffer.allocate(13)
      .putInt(40000).putInt(40000).put(8.toByte).put(6.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val bombPng = sig ++ chunk("IHDR", bomb) ++ chunk("IDAT", zbuf.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
    assert(PngCodec.decode(bombPng).isEmpty)
    // overflow-crafted dimensions: w=2^32-2, h=2^31+1 would wrap
    // h*(1+w*bpp) negative on Long and truncate toInt into a ~2 GiB
    // allocation — the per-dimension MaxDim bound rejects it up front
    val huge = java.nio.ByteBuffer.allocate(13)
      .putInt(0xFFFFFFFE).putInt(0x80000001).put(8.toByte).put(0.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val hugePng = sig ++ chunk("IHDR", huge) ++
      chunk("IDAT", zbuf.toByteArray) ++ chunk("IEND", Array.emptyByteArray)
    assert(PngCodec.decode(hugePng).isEmpty)
    // and random garbage after the signature is None, not a throw
    assert(PngCodec.decode(sig ++ Array.fill[Byte](64)(33)).isEmpty)
  }

  test("PngCodec round 10 arms: palette (8/4/1-bit), 16-bit, grey+alpha, " +
      "Adam7 — hand-built fixtures decode byte-exactly; encoders round-trip") {
    import graft.multimodal.{PngCodec, PpmCodec}
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array())
      val tb = typ.getBytes("US-ASCII")
      out.write(tb); out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(java.nio.ByteBuffer.allocate(4)
        .putInt(crc.getValue.toInt).array())
      out.toByteArray
    }
    def ihdr(w: Int, h: Int, depth: Int, ct: Int, il: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(depth.toByte).put(ct.toByte)
        .put(0.toByte).put(0.toByte).put(il.toByte).array()
    def zlib(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
      val o = new java.io.ByteArrayOutputStream()
      val t = new Array[Byte](256)
      while (!d.finished()) o.write(t, 0, d.deflate(t))
      o.toByteArray
    }
    def png(hdr: Array[Byte], raw: Array[Byte],
            plte: Option[Array[Byte]] = None): Array[Byte] =
      sig ++ chunk("IHDR", hdr) ++
        plte.map(p => chunk("PLTE", p)).getOrElse(Array.emptyByteArray) ++
        chunk("IDAT", zlib(raw)) ++ chunk("IEND", Array.emptyByteArray)

    // 8-bit palette 2x2: indices 0,1,2,1 into a 3-entry palette
    val pal = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90)
    val pal8 = png(ihdr(2, 2, 8, 3, 0),
      Array[Byte](0, 0, 1, 0, 2, 1), Some(pal))
    assert(PngCodec.decode(pal8).get.rgb.toSeq ==
      Seq[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 40, 50, 60))
    // an out-of-range index is None, not a crash
    val palBad = png(ihdr(2, 2, 8, 3, 0),
      Array[Byte](0, 0, 3, 0, 2, 1), Some(pal))
    assert(PngCodec.decode(palBad).isEmpty)
    // missing PLTE for color type 3 is None
    assert(PngCodec.decode(png(ihdr(2, 2, 8, 3, 0),
      Array[Byte](0, 0, 1, 0, 2, 1))).isEmpty)

    // 4-bit palette 3x2: packed two indices per byte, high nibble first
    // row 1: 0,1,2 → bytes 0x01, 0x20 ; row 2: 2,1,0 → 0x21, 0x00
    val pal4 = png(ihdr(3, 2, 4, 3, 0),
      Array[Byte](0, 0x01, 0x20, 0, 0x21, 0x00), Some(pal))
    assert(PngCodec.decode(pal4).get.rgb.toSeq == Seq[Byte](
      10, 20, 30, 40, 50, 60, 70, 80, 90,
      70, 80, 90, 40, 50, 60, 10, 20, 30))

    // 1-bit greyscale 3x1: bits 1,0,1 → 0b101 in the top bits → 0xA0;
    // samples scale to 255/0/255
    val g1 = png(ihdr(3, 1, 1, 0, 0), Array[Byte](0, 0xA0.toByte))
    assert(PngCodec.decode(g1).get.rgb.map(_ & 0xff).toSeq ==
      Seq(255, 255, 255, 0, 0, 0, 255, 255, 255))

    // 16-bit RGB 1x2: high bytes survive, low bytes drop
    val rgb16raw = Array[Byte](0,
        0x12, 0x34, 0x56, 0x78, 0x9A.toByte, 0xBC.toByte,
      0, 0x01, 0xFF.toByte, 0x02, 0xFE.toByte, 0x03, 0xFD.toByte)
    val px16 = png(ihdr(1, 2, 16, 2, 0), rgb16raw)
    assert(PngCodec.decode(px16).get.rgb.map(_ & 0xff).toSeq ==
      Seq(0x12, 0x56, 0x9A, 0x01, 0x02, 0x03))

    // grey+alpha 2x1 (8-bit): alpha dropped, grey replicated
    val ga = png(ihdr(2, 1, 8, 4, 0), Array[Byte](0, 7, 100, 9, 0))
    assert(PngCodec.decode(ga).get.rgb.toSeq == Seq[Byte](7, 7, 7, 9, 9, 9))

    // hand-built 2x2 Adam7 RGB: pass 1 = (0,0); pass 6 = (1,0);
    // pass 7 = (0,1),(1,1); passes 2-5 empty at this size
    val adamRaw = Array[Byte](
      0, 1, 2, 3, // pass 1: pixel (0,0)
      0, 4, 5, 6, // pass 6: pixel (1,0)
      0, 7, 8, 9, 10, 11, 12) // pass 7: pixels (0,1),(1,1)
    val adam = png(ihdr(2, 2, 8, 2, 1), adamRaw)
    assert(PngCodec.decode(adam).get.rgb.toSeq ==
      Seq[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12))

    // encoder round-trips across all new arms (y%5 schedule exercises
    // every filter; sizes chosen so every Adam7 pass is nonempty)
    val rng = new scala.util.Random(11)
    val w = 11; val h = 9
    val rgb = Array.tabulate[Byte](w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    val backA = PngCodec.decode(PngCodec.encodeAdam7(PpmCodec.Image(w, h, rgb))).get
    assert(backA.width == w && backA.height == h && backA.rgb.toSeq == rgb.toSeq)
    val idxs = Array.tabulate[Byte](w * h)(i => (i % 3).toByte)
    val backP = PngCodec.decode(PngCodec.encodePalette(w, h, idxs, pal)).get
    assert(backP.rgb.toSeq == idxs.toSeq.flatMap(ix =>
      Seq(pal(ix * 3), pal(ix * 3 + 1), pal(ix * 3 + 2))))
    val s16 = Array.tabulate(w * h * 3)(_ => rng.nextInt(65536))
    val back16 = PngCodec.decode(PngCodec.encode16(w, h, s16)).get
    assert(back16.rgb.map(_ & 0xff).toSeq == s16.map(_ >>> 8).toSeq)
  }

  test("PNG payloads ride every image stage: features == same-pixel P6, " +
      "phash identical, resize stays PNG") {
    import graft.multimodal.{Multimodal, PngCodec, PpmCodec, SyntheticMedia}
    val d0 = 17L
    val png = SyntheticMedia.pngPayload(d0)
    val img = PngCodec.decode(png).get
    val p6 = PpmCodec.encode(img) // same pixels, other container
    val df = Seq((1L, png), (2L, p6)).toDF("doc_id", "content")
    val feats = df.select(col("doc_id"),
        Multimodal.mediaFeatures(col("content")).as("f"),
        Multimodal.phash(col("content")).as("h"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Float](1), r.getString(2))).toMap
    assert(feats(1L) == feats(2L)) // container-invariant features + hash
    assert(feats(1L)._1 == PpmCodec.features(img).toSeq)
    // resize: PNG in → PNG out, pixels = nearest-neighbor of the decode
    val meta = df.withColumn("media_type", lit("image"))
      .withColumn("meta", struct(lit(img.width).as("width"),
        lit(img.height).as("height"), lit(0L).as("duration_ms")))
    val small = Multimodal.resize(meta, 4)
      .filter(col("doc_id") === 1L).select("content")
      .head().getAs[Array[Byte]](0)
    assert(PngCodec.isPng(small))
    val simg = PngCodec.decode(small).get
    assert(math.max(simg.width, simg.height) <= 4)
  }

  test("crafted/corrupt headers degrade to None, never throw: Y4M " +
      "geometry and WAV chunk sizes near Int overflow") {
    import graft.multimodal.{WavCodec, Y4mCodec}
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    // W*H*3 wraps Int (65536*65536*3/2 = 0 in Int arithmetic): the old
    // code built frameBytes=0 and copyOfRange threw downstream
    def y4m(hdr: String) =
      (hdr + "\nFRAME\n").getBytes(ascii) ++ Array.fill[Byte](64)(7)
    assert(Y4mCodec.decode(y4m("YUV4MPEG2 W65536 H65536 F30:1")).isEmpty)
    assert(Y4mCodec.decode(y4m("YUV4MPEG2 W37838 H37838 F30:1")).isEmpty)
    assert(Y4mCodec.decode(y4m("YUV4MPEG2 W999999998 H2 F30:1")).isEmpty)
    // RIFF chunk with size near 2^31: pos + 8 + size wrapped negative
    // and slipped past the bounds check → ~2 GB alloc / AIOOBE
    val wav = new Array[Byte](64)
    "RIFF".getBytes(ascii).copyToArray(wav, 0)
    "WAVE".getBytes(ascii).copyToArray(wav, 8)
    "data".getBytes(ascii).copyToArray(wav, 12)
    val size = Int.MaxValue - 10
    wav(16) = (size & 0xff).toByte
    wav(17) = ((size >> 8) & 0xff).toByte
    wav(18) = ((size >> 16) & 0xff).toByte
    wav(19) = ((size >> 24) & 0xff).toByte
    assert(WavCodec.decode(wav).isEmpty)
    // and the whole dispatch survives both payloads inside the UDF
    val out = Seq((1L, y4m("YUV4MPEG2 W65536 H65536 F30:1")), (2L, wav))
      .toDF("doc_id", "content")
      .select(col("doc_id"), Multimodal.mediaFeatures(col("content")))
      .collect()
    assert(out.length == 2) // stub features, no task failure
  }

}
