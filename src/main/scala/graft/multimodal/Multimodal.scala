package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for a training-data pipeline: image/audio/video as
  * opaque `binary` columns plus typed metadata, with decode / feature
  * extraction / resize / frame-sampling as batch `mapPartitions` stages.
  *
  * All three modalities decode for REAL: P6 images through
  * [[PpmCodec]] (pixels → resize/features), PCM16 RIFF/WAVE audio
  * through [[WavCodec]] (samples → duration/RMS/clipping), and
  * YUV4MPEG2 video through [[Y4mCodec]] (C420 planes → frame
  * counts/luma/motion) — none of these self-describing formats needs
  * an external media library. COMPRESSED codecs (JPEG/MP3/H.264) are
  * not in this environment; payloads that aren't one of the three raw
  * formats fall back to the declared byte-histogram STUB, and the
  * schema, binary column handling, partition-wise batch shape (decoder
  * handle per partition, like a real ffmpeg context), and metadata
  * struct are the same either way, so a compressed-codec library drops
  * in by replacing one dispatch arm.
  *
  * Scale notes: binaries ride in the row (parquet BYTE_ARRAY) so a 100 TB
  * media table partitions like any other; feature extraction is a narrow
  * map stage; metadata-only queries never touch the blob column thanks to
  * parquet column pruning.
  */
object Multimodal {

  /** Deterministic pixel formula for synthetic image payloads —
    * delegates to the shared [[SyntheticMedia.ppmPayload]] formula the
    * DuckDB oracles replay exactly. */
  private def imagePayload(docId: Long): Array[Byte] =
    SyntheticMedia.ppmPayload(docId)

  /** Deterministic media table derived from the documents table: image
    * rows carry REAL P6-encoded payloads (small synthetic rasters whose
    * pixels follow the arithmetic formula above, with meta matching the
    * actual encoded dimensions); audio/video rows keep the text bytes as
    * stand-in encoded payloads. */
  def mediaFromDocuments(docs: DataFrame): DataFrame = {
    val img = udf((d: Long) => imagePayload(d))
    val isImage = pmod(col("doc_id"), lit(3)) === 0
    docs.select(col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      when(isImage, img(col("doc_id")))
        .otherwise(col("text").cast("binary")).as("content"),
      struct(
        when(isImage, (pmod(col("doc_id"), lit(16)) + 4).cast("int"))
          .otherwise((pmod(col("doc_id"), lit(1024)) + 16).cast("int"))
          .as("width"),
        when(isImage, (pmod(col("doc_id") * 7, lit(16)) + 4).cast("int"))
          .otherwise((pmod(col("doc_id") * 7, lit(768)) + 16).cast("int"))
          .as("height"),
        (pmod(col("doc_id") * 13, lit(60000))).as("duration_ms")).as("meta"))
  }

  /** The ONE bytes→image decode both raster formats share: P6 (PPM)
    * or PNG → the same [[PpmCodec.Image]] pixel space, so every
    * image-consuming stage (features, phash, resize) speaks both. */
  private[multimodal] def decodeImage(bytes: Array[Byte])
      : Option[PpmCodec.Image] =
    PpmCodec.decode(bytes).orElse(PngCodec.decode(bytes))

  /** The ONE bytes→features dispatch both the batch and streaming
    * paths share: P6/PNG images → [[PpmCodec.features]], PCM16 WAVs →
    * [[audioFeatures]], Y4M video → [[videoFeatures]], anything else →
    * the stub byte-histogram. Every featurizer is 16-wide. */
  private[multimodal] def featurize(bytes: Array[Byte],
      stub: StubDecoder): Array[Float] =
    decodeImage(bytes) match {
      case Some(img) => PpmCodec.features(img)
      case None => WavCodec.decode(bytes) match {
        case Some(clip) => audioFeatures(clip)
        case None => Y4mCodec.decode(bytes) match {
          case Some(vid) => videoFeatures(vid)
          case None => stub.decodeAndFeaturize(bytes)
        }
      }
    }

  /** Decode + feature-extract: bytes → fixed-width feature vector.
    * Self-describing payloads dispatch on their own bytes via
    * [[featurize]]: P6 images decode to pixels and featurize as channel
    * means + a luminance histogram ([[PpmCodec.features]]); PCM16 WAVs
    * decode to samples and featurize as RMS/peak/zero-crossing/clipping
    * plus an amplitude histogram ([[audioFeatures]]); Y4M video decodes
    * to C420 planes and featurizes as luma/motion stats plus a luma
    * histogram ([[videoFeatures]]); other payloads (compressed codecs)
    * fall back to the STUB byte-histogram. Runs partition-wise with one
    * decoder handle per partition. */
  def extractFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val contentIdx = df.schema.fieldIndex("content")
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType), nullable = true))
    val rdd = df.rdd.mapPartitions { it =>
      val decoder = new StubDecoder(16) // per-partition decoder handle
      it.map { row =>
        val bytes = row.get(contentIdx)
        val feats =
          if (bytes == null) null
          else featurize(bytes.asInstanceOf[Array[Byte]], decoder)
        Row.fromSeq(row.toSeq :+ feats)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Streaming-safe scalar form of [[extractFeatures]]: the same
    * self-describing dispatch (P6 → WAV → Y4M → stub) as ONE
    * deterministic UDF — no RDD underneath, so it runs in Structured
    * Streaming plans and plain projections alike (the `.rdd` batch
    * form cannot execute on a streaming DataFrame). MultimodalSpec
    * asserts bit-equality with [[extractFeatures]]; StreamingSpec
    * equates the streamed features with the batch ones. */
  val mediaFeatures: org.apache.spark.sql.expressions.UserDefinedFunction = {
    val stub = new StubDecoder(16)
    udf { (bytes: Array[Byte]) =>
      if (bytes == null) null else featurize(bytes, stub)
    }
  }

  /** Perceptual dHash of a P6/PNG image payload as its 16-hex-char
    * string (NULL for non-image bytes) — streaming-safe like
    * [[mediaFeatures]], and the SQL surface (`phash(content)`) of
    * [[PerceptualHash]]. Exact-dup grouping and LSH band derivation
    * both start from this one canonical rendering — a PNG and a P6 of
    * the SAME pixels hash identically, which is exactly what a
    * perceptual near-dup stage wants. */
  val phash: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (bytes: Array[Byte]) =>
      Option(bytes).flatMap(decodeImage)
        .map(img => PerceptualHash.hex(PerceptualHash.dHash(img))).orNull
    }

  /** 15-bit audio energy-delta fingerprint of a WAV payload (NULL for
    * non-WAV bytes) — the `afp(content)` SQL surface of
    * [[PerceptualHash.energyFingerprint]], streaming-safe. */
  val afp: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (bytes: Array[Byte]) =>
      Option(bytes).flatMap(WavCodec.decode)
        .map(PerceptualHash.energyFingerprint(_))
    }

  /** 24-bit spatio-temporal video fingerprint of a Y4M payload (NULL
    * for non-Y4M bytes or single-frame clips) — the `vfp(content)`
    * SQL surface of [[PerceptualHash.videoFingerprint]],
    * streaming-safe. */
  val vfp: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (bytes: Array[Byte]) =>
      Option(bytes).flatMap(Y4mCodec.decode).filter(_.frames.size >= 2)
        .map(PerceptualHash.videoFingerprint)
    }

  /** SQL row shape of the decoded-image stats (`img_stats(content)`):
    * container tag + geometry + exact per-channel byte sums (integers,
    * so an oracle can replay them regardless of accumulation order). */
  final case class ImgStatsRow(container: String, width: Int, height: Int,
      n_pixels: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** Decoded-image stats as a struct Column (NULL for non-image
    * bytes) — the SQL surface of the raster codecs, P6 and PNG alike:
    * the image-modality sibling of `wav_stats`/`y4m_stats`. */
  val imgStats: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (bytes: Array[Byte]) =>
      Option(bytes).flatMap(decodeImage).map { img =>
        var sr = 0L; var sg = 0L; var sb = 0L
        var i = 0
        while (i < img.rgb.length) {
          sr += img.rgb(i) & 0xff
          sg += img.rgb(i + 1) & 0xff
          sb += img.rgb(i + 2) & 0xff
          i += 3
        }
        ImgStatsRow(if (PngCodec.isPng(bytes)) "png" else "p6",
          img.width, img.height, img.width.toLong * img.height,
          sr, sg, sb)
      }
    }

  /** SQL row shape of [[WavCodec.Stats]] (`wav_stats(content)`). */
  final case class WavStatsRow(sample_rate: Int, channels: Int,
      frames: Int, duration_ms: Long, rms: Double, peak: Int,
      clipped: Long, zero_crossings: Long)
  /** SQL row shape of [[Y4mCodec.Stats]] (`y4m_stats(content)`). */
  final case class Y4mStatsRow(width: Int, height: Int, n_frames: Int,
      duration_ms: Long, luma_mean: Double, motion_mean: Double)

  /** Decoded-WAV stats as a struct Column (NULL for non-WAV bytes) —
    * the SQL surface of the audio codec. */
  val wavStats: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (bytes: Array[Byte]) =>
      Option(bytes).flatMap(WavCodec.decode).map { c =>
        val t = WavCodec.stats(c)
        WavStatsRow(t.sampleRate, t.channels, t.frames, t.durationMs,
          t.rms, t.peak, t.clipped, t.zeroCrossings)
      }
    }

  /** Decoded-Y4M stats as a struct Column (NULL for non-Y4M bytes) —
    * the SQL surface of the video codec. */
  val y4mStats: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (bytes: Array[Byte]) =>
      Option(bytes).flatMap(Y4mCodec.decode).map { v =>
        val t = Y4mCodec.stats(v)
        Y4mStatsRow(t.width, t.height, t.nFrames, t.durationMs,
          t.lumaMean, t.motionMean)
      }
    }

  /** 16-dim audio feature vector from DECODED samples: RMS and peak
    * (each /32768), zero-crossing rate (per channel-0 frame), clipped
    * fraction, then a 12-bin absolute-amplitude histogram (bin =
    * |s|·12/32768 capped at 11, counts normalized by sample count).
    * All sums are exact integers before one division each — replayable
    * by a SQL oracle regardless of accumulation order. */
  def audioFeatures(clip: WavCodec.Clip): Array[Float] = {
    val st = WavCodec.stats(clip)
    val n = clip.samples.length
    val hist = new Array[Long](12)
    var i = 0
    while (i < n) {
      val a = math.abs(clip.samples(i).toInt)
      hist(math.min(a * 12 / 32768, 11)) += 1
      i += 1
    }
    val out = new Array[Float](16)
    out(0) = (st.rms / 32768.0).toFloat
    out(1) = (st.peak / 32768.0).toFloat
    out(2) = if (st.frames > 1)
      (st.zeroCrossings.toDouble / (st.frames - 1)).toFloat else 0.0f
    out(3) = if (n > 0) (st.clipped.toDouble / n).toFloat else 0.0f
    var b = 0
    while (b < 12) {
      out(4 + b) = if (n > 0) (hist(b).toDouble / n).toFloat else 0.0f
      b += 1
    }
    out
  }

  /** Resize to fit `maxSide`: P6 image payloads are REALLY resized
    * (nearest-neighbor pixel sampling, re-encoded, meta set to the
    * actual new dimensions); non-image payloads keep the stub behavior
    * — meta scaled, payload truncated proportionally (a real av resize
    * would re-encode; the plumbing stays honest). */
  def resize(df: DataFrame, maxSide: Int): DataFrame = {
    val resizeImg = udf { (bytes: Array[Byte]) =>
      Option(bytes).flatMap(decodeImage).map { img =>
        val scale = math.min(1.0,
          maxSide.toDouble / math.max(img.width, img.height))
        val w1 = math.floor(img.width * scale).toInt
        val h1 = math.floor(img.height * scale).toInt
        if (w1 == img.width && h1 == img.height) bytes
        else {
          val out = PpmCodec.resizeNearest(img, w1, h1)
          // format-preserving: a PNG resizes to a PNG, a P6 to a P6
          if (PngCodec.isPng(bytes)) PngCodec.encode(out)
          else PpmCodec.encode(out)
        }
      }.orNull
    }
    val dims = udf { (bytes: Array[Byte]) =>
      Option(bytes).flatMap(decodeImage)
        .map(i => (i.width, i.height)).orNull
    }
    // Compute the scale from the ORIGINAL meta once, and use it for both
    // the meta rewrite and the payload truncation (recomputing it after
    // the meta swap would always yield ~1.0 and never truncate).
    val stub = df.withColumn("_scale", least(lit(1.0),
        lit(maxSide) / greatest(col("meta.width"), col("meta.height")).cast("double")))
    stub
      .withColumn("_img", resizeImg(col("content")))
      .withColumn("_dims", dims(col("_img")))
      .withColumn("meta", struct(
        coalesce(col("_dims._1"),
          floor(col("meta.width") * col("_scale")).cast("int")).as("width"),
        coalesce(col("_dims._2"),
          floor(col("meta.height") * col("_scale")).cast("int")).as("height"),
        col("meta.duration_ms").as("duration_ms")))
      .withColumn("content", coalesce(col("_img"),
        expr("substring(content, 1, greatest(1, cast(length(content) * _scale as int)))")))
      .drop("_scale", "_img", "_dims")
  }

  /** 16-dim video feature vector from DECODED C420 planes: overall
    * luma mean and frame-to-frame motion mean (each /255), min/max
    * frame luma (each /255), then a 12-bin all-frames luma histogram
    * (bin = y·12/256, counts normalized by pixel count). Exact integer
    * sums before one division each. */
  def videoFeatures(v: Y4mCodec.Video): Array[Float] = {
    val st = Y4mCodec.stats(v)
    val wh = v.width * v.height
    val hist = new Array[Long](12)
    var minF = Long.MaxValue; var maxF = Long.MinValue
    var f = 0
    while (f < v.frames.size) {
      val fr = v.frames(f)
      var s = 0L; var i = 0
      while (i < wh) {
        val y = fr(i) & 0xff
        s += y; hist(y * 12 / 256) += 1
        i += 1
      }
      if (s < minF) minF = s
      if (s > maxF) maxF = s
      f += 1
    }
    val out = new Array[Float](16)
    val n = st.nFrames.toLong * wh
    out(0) = (st.lumaMean / 255.0).toFloat
    out(1) = (st.motionMean / 255.0).toFloat
    out(2) = if (st.nFrames > 0) (minF.toDouble / wh / 255.0).toFloat else 0f
    out(3) = if (st.nFrames > 0) (maxF.toDouble / wh / 255.0).toFloat else 0f
    var b = 0
    while (b < 12) {
      out(4 + b) = if (n > 0) (hist(b).toDouble / n).toFloat else 0f
      b += 1
    }
    out
  }

  /** Frame-sample a "video": emit every `stride`-th byte-window as a
    * frame row (explode). Real impl samples decoded frames; the stride
    * cut keeps the fan-out shape. */
  def sampleFrames(df: DataFrame, stride: Int, frameBytes: Int = 32): DataFrame =
    df.filter(col("media_type") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0),
          greatest(lit(0), floor(length(col("content")) / (stride * frameBytes))
            .cast("int") - 1))))
      .withColumn("frame",
        expr(s"substring(content, frame_idx * $stride * $frameBytes + 1, $frameBytes)"))
      .select(col("doc_id"), col("frame_idx"), col("frame"),
        length(col("frame")).as("frame_len"))

  /** Chunk an "audio" payload into fixed-duration windows: each chunk
    * covers `windowMs` of the clip, with the byte span derived from the
    * metadata duration (bytes-per-ms of THIS clip — variable bitrate
    * across rows, constant within one). The ASR/audio-embedding
    * front-end shape: contiguous windows, last one ragged. */
  def chunkAudio(df: DataFrame, windowMs: Long): DataFrame = {
    val nChunks = greatest(lit(1L),
      ceil(col("meta.duration_ms").cast("double") / windowMs).cast("long"))
    val bytesPerChunk = greatest(lit(1L),
      ceil(length(col("content")).cast("double") / nChunks).cast("long"))
    df.filter(col("media_type") === "audio")
      .withColumn("_n", nChunks)
      .withColumn("_bpc", bytesPerChunk)
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("_n") - 1)))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * windowMs).as("start_ms"),
        least(lit(windowMs), col("meta.duration_ms") - col("chunk_idx") * windowMs)
          .as("chunk_ms"),
        expr("substring(content, cast(chunk_idx * _bpc + 1 as int), cast(_bpc as int))")
          .as("chunk"))
      .withColumn("chunk_len", length(col("chunk")))
  }
}

/** Stand-in for a per-partition codec handle (libjpeg/ffmpeg-like). */
private[multimodal] final class StubDecoder(dim: Int) extends Serializable {
  def decodeAndFeaturize(bytes: Array[Byte]): Array[Float] = {
    val v = new Array[Float](dim)
    var i = 0
    while (i < bytes.length) {
      v(math.floorMod(bytes(i), dim)) += 1.0f
      i += 1
    }
    // L1-normalize the byte histogram
    val s = v.sum
    if (s > 0) { var j = 0; while (j < dim) { v(j) /= s; j += 1 } }
    v
  }
}
