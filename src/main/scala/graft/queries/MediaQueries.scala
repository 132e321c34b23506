package graft
package queries

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import QueryHelpers._

/** Media queries: image, audio and video decode, perceptual dedup and
  * the multimodal router and curation gate. */
private[graft] object MediaQueries {

  /** Fingerprint groups over `f0(doc_id, fp)` with each group's count of
    * groups 1 or 2 bits away. Ends with the final SELECT. */
  private lazy val fpNearDupSql: String =
    """hg AS (
      | SELECT fp, count(*) AS n_docs, min(doc_id) AS rep_doc
      | FROM f0 GROUP BY fp),
      |p2 AS (
      | SELECT a.fp AS f1, b.fp AS f2,
      |  bit_count(xor(CAST(a.fp AS BIGINT), CAST(b.fp AS BIGINT))) AS dist
      | FROM hg a JOIN hg b ON a.fp < b.fp),
      |p3 AS (SELECT f1, f2 FROM p2 WHERE dist BETWEEN 1 AND 2),
      |nn AS (
      | SELECT fp, count(*) AS n_near FROM (
      |  SELECT f1 AS fp FROM p3 UNION ALL SELECT f2 AS fp FROM p3)
      | GROUP BY fp)
      |SELECT CAST(hg.fp AS BIGINT) AS fp, CAST(n_docs AS BIGINT) AS n_docs,
      | rep_doc, CAST(coalesce(n_near, 0) AS BIGINT) AS n_near
      |FROM hg LEFT JOIN nn ON hg.fp = nn.fp ORDER BY fp""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---- multimodal columns (deterministic stub decode → SQL oracle) ----
    QuerySpec("q36_multimodal", (s, d) => {
      // maxSide 12 exercises the REAL image path: P6 payloads decode,
      // nearest-neighbor resize, and featurize from actual pixels (f0 =
      // mean red / 255); audio/video rows keep the declared stub
      val media = Multimodal.mediaFromDocuments(tSpread(s, d, "documents"))
      val feat = Multimodal.extractFeatures(Multimodal.resize(media, 12))
      feat.select(col("doc_id"), col("media_type"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          length(col("content")).cast("bigint").as("n_bytes"),
          size(col("features")).cast("bigint").as("feat_dim"),
          floorBp(element_at(col("features"), 1).cast("double"), 4)
            .as("f0_bp"))
        .orderBy(col("doc_id"))
    }, oracle =
      // Multimodal stub pipeline: meta from doc_id arithmetic, resize by
      // the original scale, byte-histogram feature f0 in float32.
      """WITH m AS (
        | SELECT doc_id,
        |  ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |  text, length(text) AS olen,
        |  CAST(doc_id % 1024 + 16 AS INT) AS w0a,
        |  CAST((doc_id * 7) % 768 + 16 AS INT) AS h0a,
        |  CAST(doc_id % 16 + 4 AS INT) AS w0i,
        |  CAST((doc_id * 7) % 16 + 4 AS INT) AS h0i
        | FROM documents),
        |av AS (
        | SELECT doc_id, media_type, w0a AS w0, h0a AS h0, text, olen,
        |  least(1.0, 12.0 / greatest(w0a, h0a)) AS scale
        | FROM m WHERE doc_id % 3 <> 0),
        |avr AS (SELECT doc_id, media_type,
        |  CAST(floor(w0 * scale) AS INTEGER) AS width,
        |  CAST(floor(h0 * scale) AS INTEGER) AS height,
        |  substr(text, 1, CAST(greatest(1, trunc(olen * scale)) AS BIGINT)) AS ctext
        | FROM av),
        |avf AS (SELECT doc_id, media_type, width, height,
        |  length(ctext) AS n_bytes,
        |  length(list_filter(range(1, length(ctext) + 1),
        |    fi -> unicode(substr(ctext, fi, 1)) % 16 = 0)) AS cnt0
        | FROM avr),
        |avo AS (SELECT doc_id, media_type, width, height,
        |  CAST(n_bytes AS BIGINT) AS n_bytes, CAST(16 AS BIGINT) AS feat_dim,
        |  CAST(floor(CAST(CAST(cnt0 AS FLOAT) / CAST(n_bytes AS FLOAT)
        |    AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS f0_bp
        | FROM avf),
        |im AS (
        | SELECT doc_id, w0i AS w0, h0i AS h0,
        |  least(1.0, 12.0 / greatest(w0i, h0i)) AS scale
        | FROM m WHERE doc_id % 3 = 0),
        |imd AS (SELECT doc_id, w0, h0,
        |  CAST(floor(w0 * scale) AS INTEGER) AS w1,
        |  CAST(floor(h0 * scale) AS INTEGER) AS h1
        | FROM im),
        |imo AS (SELECT doc_id, 'image' AS media_type, w1 AS width, h1 AS height,
        |  CAST(length('P6' || chr(10) || CAST(w1 AS VARCHAR) || ' ' ||
        |    CAST(h1 AS VARCHAR) || chr(10) || '255' || chr(10))
        |    + 3 * w1 * h1 AS BIGINT) AS n_bytes,
        |  CAST(16 AS BIGINT) AS feat_dim,
        |  CAST(floor(CAST(CAST(
        |    list_avg(list_transform(range(0, CAST(w1 AS BIGINT) * h1), i ->
        |      (doc_id * 31 + 7 * 3 * (((i // w1) * h0 // h1) * w0
        |        + ((i % w1) * w0 // w1))) % 256))
        |    / 255.0 AS FLOAT) AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS f0_bp
        | FROM imd)
        |SELECT * FROM (SELECT * FROM avo UNION ALL SELECT * FROM imo)
        |ORDER BY doc_id""".stripMargin),

    // ---- multimodal fan-out ops under the oracle: frame-sample the
    // "videos" (every stride-th byte window as a frame row) and chunk
    // the "audio" into fixed-duration windows (byte span derived from
    // THIS clip's bytes-per-ms — variable bitrate across rows), then
    // per-doc part stats. The decode is the declared stub; the
    // explode/substring/metadata plumbing is the real thing and the
    // oracle replays its arithmetic exactly ----
    QuerySpec("q168_media_parts", (s, d) => {
      val media = Multimodal.mediaFromDocuments(tSpread(s, d, "documents"))
      val frames = Multimodal.sampleFrames(media, stride = 4, frameBytes = 32)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("frame_len")).cast("bigint").as("sum_part_bytes"))
        .withColumn("media_type", lit("video"))
      val chunks = Multimodal.chunkAudio(media, windowMs = 5000)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("chunk_len")).cast("bigint").as("sum_part_bytes"))
        .withColumn("media_type", lit("audio"))
      frames.unionByName(chunks)
        .select(col("doc_id"), col("media_type"), col("n_parts"),
          col("sum_part_bytes"))
        .orderBy(col("doc_id"))
    }, oracle =
      // replays sampleFrames/chunkAudio arithmetic over byte lengths:
      // frame f of a video covers [f·128, +32) of the payload; audio chunk
      // i covers [i·bpc, +bpc) with bpc = ceil(L / nChunks)
      """WITH m AS (
        | SELECT doc_id,
        |  ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |  octet_length(encode(text)) AS L,
        |  (doc_id * 13) % 60000 AS duration_ms
        | FROM documents),
        |v AS (
        | SELECT doc_id, L,
        |  unnest(generate_series(0,
        |    greatest(CAST(floor(L / 128) AS BIGINT) - 1, 0))) AS f
        | FROM m WHERE media_type = 'video'),
        |vf AS (
        | SELECT doc_id, 'video' AS media_type, count(*) AS n_parts,
        |  CAST(sum(greatest(least(L - f * 128, 32), 0)) AS BIGINT)
        |    AS sum_part_bytes
        | FROM v GROUP BY 1, 2),
        |a AS (
        | SELECT doc_id, L,
        |  greatest(CAST(ceil(duration_ms / 5000.0) AS BIGINT), 1) AS n_chunks
        | FROM m WHERE media_type = 'audio'),
        |a2 AS (
        | SELECT doc_id, L,
        |  greatest(CAST(ceil(L / CAST(n_chunks AS DOUBLE)) AS BIGINT), 1) AS bpc,
        |  unnest(generate_series(0, n_chunks - 1)) AS i
        | FROM a),
        |af AS (
        | SELECT doc_id, 'audio' AS media_type, count(*) AS n_parts,
        |  CAST(sum(greatest(least(L - i * bpc, bpc), 0)) AS BIGINT)
        |    AS sum_part_bytes
        | FROM a2 GROUP BY 1, 2)
        |SELECT doc_id, media_type, n_parts, sum_part_bytes FROM vf
        |UNION ALL
        |SELECT doc_id, media_type, n_parts, sum_part_bytes FROM af
        |ORDER BY doc_id""".stripMargin),

    // ---- REAL audio decode (closes the declared audio stub the way
    // round 7 closed images): deterministic PCM16 WAV payloads are
    // encoded per audio doc (samples from pure integer arithmetic),
    // then the stats — duration, RMS, peak, clipping — are computed by
    // DECODING the actual RIFF bytes through WavCodec. Zero exchanges:
    // one codegen'd projection per row, the orderBy is presentation.
    // The oracle replays every stat from the same sample formula; the
    // only floating steps (one divide + sqrt) are IEEE-correctly-
    // rounded, hence engine-portable ----
    QuerySpec("q222_audio_stats", (s, d) => {
      import graft.multimodal.{SyntheticMedia, WavCodec}
      val gen = udf { (d0: Long) => SyntheticMedia.wavPayload(d0) }
      val st = udf { (bytes: Array[Byte]) =>
        WavCodec.decode(bytes).map { c =>
          val t = WavCodec.stats(c)
          (t.sampleRate.toLong, t.frames.toLong, t.durationMs, t.rms,
            t.peak.toLong, t.clipped)
        }.orNull
      }
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), st(gen(col("doc_id"))).as("t"))
        .select(col("doc_id"),
          col("t._1").as("sample_rate"),
          col("t._2").as("n_frames"),
          col("t._3").as("duration_ms"),
          floor(col("t._4") * lit(10000.0d) + lit(0.5d)).cast("bigint")
            .as("rms_bp"),
          col("t._5").as("peak"),
          col("t._6").as("n_clipped"))
        .orderBy(col("doc_id"))
    }, oracle =
      // WAV decode replay: the sample formula is pure integer arithmetic,
      // so every stat (and the IEEE divide+sqrt RMS) replays exactly.
      """WITH a AS (
        | SELECT doc_id,
        |  8000 + (doc_id % 7) * 1000 AS sample_rate,
        |  100 + (doc_id * 13) % 900 AS n
        | FROM documents WHERE doc_id % 3 = 1),
        |s AS (
        | SELECT doc_id, sample_rate, n,
        |  list_transform(range(0, n),
        |    i -> ((doc_id * 31 + i * 7919) % 65536) - 32768) AS smp
        | FROM a)
        |SELECT doc_id, CAST(sample_rate AS BIGINT) AS sample_rate,
        | CAST(n AS BIGINT) AS n_frames,
        | CAST(n * 1000 // sample_rate AS BIGINT) AS duration_ms,
        | CAST(floor(sqrt(CAST(list_sum(list_transform(smp, x -> x * x))
        |   AS DOUBLE) / n) * 10000 + 0.5) AS BIGINT) AS rms_bp,
        | CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS peak,
        | CAST(length(list_filter(smp, x -> abs(x) >= 32767)) AS BIGINT)
        |   AS n_clipped
        |FROM s ORDER BY doc_id""".stripMargin),

    // ---- REAL video decode (the last modality; q222's shape for
    // YUV4MPEG2): deterministic C420 clips are encoded per video doc —
    // luma AND chroma planes from pure integer arithmetic — then frame
    // count, duration, mean luma, and frame-to-frame motion are
    // computed by DECODING the actual Y4M bytes through Y4mCodec. One
    // codegen projection, zero exchanges before the presentation sort;
    // the oracle replays the luma/motion sums from the same formula
    // and pins the encoder's byte layout via n_bytes ----
    QuerySpec("q223_video_stats", (s, d) => {
      import graft.multimodal.{SyntheticMedia, Y4mCodec}
      val gen = udf { (d0: Long) => SyntheticMedia.y4mPayload(d0) }
      val st = udf { (bytes: Array[Byte]) =>
        Y4mCodec.decode(bytes).map { v =>
          val t = Y4mCodec.stats(v)
          (t.nFrames.toLong, t.durationMs, t.lumaMean, t.motionMean,
            bytes.length.toLong)
        }.orNull
      }
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), st(gen(col("doc_id"))).as("t"))
        .select(col("doc_id"),
          col("t._1").as("n_frames"),
          col("t._2").as("duration_ms"),
          floor(col("t._3") * lit(10000.0d) + lit(0.5d)).cast("bigint")
            .as("luma_mean_bp"),
          floor(col("t._4") * lit(10000.0d) + lit(0.5d)).cast("bigint")
            .as("motion_mean_bp"),
          col("t._5").as("n_bytes"))
        .orderBy(col("doc_id"))
    }, oracle =
      // Y4M decode replay: luma/motion sums from the integer plane
      // formula; n_bytes pins the canonical encoder layout (header +
      // per-frame "FRAME\n" + w*h*3/2 planes).
      """WITH v AS (
        | SELECT doc_id,
        |  2 * ((doc_id % 8) + 2) AS w,
        |  2 * (((doc_id * 5) % 8) + 2) AS h,
        |  2 + doc_id % 6 AS nf,
        |  10 + doc_id % 5 AS fps
        | FROM documents WHERE doc_id % 3 = 2),
        |y AS (
        | SELECT doc_id, w, h, nf, fps,
        |  list_transform(range(0, nf * w * h),
        |   j -> (doc_id * 31 + (j // (w * h)) * 101 + (j % (w * h)) * 7)
        |     % 256) AS ys
        | FROM v)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        | CAST(nf * 1000 // fps AS BIGINT) AS duration_ms,
        | CAST(floor(CAST(list_sum(ys) AS DOUBLE) / (nf * w * h) * 10000
        |   + 0.5) AS BIGINT) AS luma_mean_bp,
        | CAST(floor(CAST(list_sum(list_transform(range(0, (nf - 1) * w * h),
        |     j -> abs(ys[j + w * h + 1] - ys[j + 1]))) AS DOUBLE)
        |   / ((nf - 1) * w * h) * 10000 + 0.5) AS BIGINT) AS motion_mean_bp,
        | CAST(length('YUV4MPEG2 W' || w || ' H' || h || ' F' || fps ||
        |   ':1 Ip A1:1 C420' || chr(10)) +
        |   nf * (6 + w * h * 3 // 2) AS BIGINT) AS n_bytes
        |FROM y ORDER BY doc_id""".stripMargin),

    // ---- multimodal curation gate (the quality filter a mixed-media
    // corpus runs before training — q46's reject-reasons shape over
    // DECODED media): every doc gets a real payload in its modality
    // (P6 raster / PCM WAV / C420 Y4M, the q36/q222/q223 deterministic
    // generators), the gate DECODES the actual bytes and applies
    // per-type rules — image min-side, audio min-duration + clipping
    // ceiling, video min-frames + static-clip floor — all in exact
    // integer arithmetic. One codegen projection per row, zero
    // exchanges before the presentation sort ----
    QuerySpec("q229_media_gate", (s, d) => {
      import graft.multimodal.{PpmCodec, SyntheticMedia, WavCodec, Y4mCodec}
      val gen = udf { (d0: Long) =>
        (d0 % 3) match {
          case 0 => SyntheticMedia.ppmPayload(d0)
          case 1 => SyntheticMedia.wavPayload(d0)
          case _ => SyntheticMedia.y4mPayload(d0)
        }
      }
      val gate = udf { (bytes: Array[Byte]) =>
        PpmCodec.decode(bytes).map { img =>
          ("image",
            if (math.min(img.width, img.height) < 8) "too_small" else "")
        }.orElse(WavCodec.decode(bytes).map { c =>
          val st = WavCodec.stats(c)
          ("audio", Seq(
            if (st.durationMs < 10) "too_short" else "",
            // ceiling 0.005% — tight enough that one clipped sample in
            // a short clip trips it (both rails count)
            if (st.clipped * 20000 > st.frames) "clipped" else "")
            .filter(_.nonEmpty).mkString(","))
        }).orElse(Y4mCodec.decode(bytes).map { v =>
          val st = Y4mCodec.stats(v)
          ("video", Seq(
            if (st.nFrames < 5) "too_few_frames" else "",
            if (st.motionSum <
              (st.nFrames - 1).toLong * st.width * st.height) "static"
            else "").filter(_.nonEmpty).mkString(","))
        }).orNull
      }
      tSpread(s, d, "documents")
        .select(col("doc_id"), gate(gen(col("doc_id"))).as("t"))
        .select(col("doc_id"), col("t._1").as("media_type"),
          col("t._2").as("reason"),
          (col("t._2") === "").as("keep"))
        .orderBy(col("doc_id"))
    }, oracle =
      // media-gate replay: per-type rules from the q36/q222/q223
      // generator formulas (array_to_string of an empty list is NULL in
      // DuckDB — hence the coalesce).
      """WITH im AS (
        | SELECT doc_id, 'image' AS media_type,
        |  CASE WHEN least(doc_id % 16 + 4, (doc_id * 7) % 16 + 4) < 8
        |   THEN 'too_small' ELSE '' END AS reason
        | FROM documents WHERE doc_id % 3 = 0),
        |au0 AS (
        | SELECT doc_id, 8000 + (doc_id % 7) * 1000 AS rate,
        |  100 + (doc_id * 13) % 900 AS n
        | FROM documents WHERE doc_id % 3 = 1),
        |au AS (
        | SELECT doc_id, 'audio' AS media_type,
        |  coalesce(array_to_string(list_filter([
        |    CASE WHEN n * 1000 // rate < 10 THEN 'too_short' ELSE '' END,
        |    CASE WHEN length(list_filter(list_transform(range(0, n),
        |      i -> ((doc_id * 31 + i * 7919) % 65536) - 32768),
        |      x -> abs(x) >= 32767)) * 20000 > n THEN 'clipped' ELSE '' END],
        |    r -> r <> ''), ','), '') AS reason
        | FROM au0),
        |vi0 AS (
        | SELECT doc_id, 2 * ((doc_id % 8) + 2) AS w,
        |  2 * (((doc_id * 5) % 8) + 2) AS h, 2 + doc_id % 6 AS nf
        | FROM documents WHERE doc_id % 3 = 2),
        |vi AS (
        | SELECT doc_id, 'video' AS media_type,
        |  coalesce(array_to_string(list_filter([
        |    CASE WHEN nf < 5 THEN 'too_few_frames' ELSE '' END,
        |    CASE WHEN list_sum(list_transform(range(0, (nf - 1) * w * h),
        |      j -> abs(((doc_id * 31 + ((j // (w * h)) + 1) * 101
        |          + (j % (w * h)) * 7) % 256)
        |        - ((doc_id * 31 + (j // (w * h)) * 101
        |          + (j % (w * h)) * 7) % 256))))
        |      < (nf - 1) * w * h THEN 'static' ELSE '' END],
        |    r -> r <> ''), ','), '') AS reason
        | FROM vi0),
        |u AS (SELECT * FROM im UNION ALL SELECT * FROM au
        |  UNION ALL SELECT * FROM vi)
        |SELECT doc_id, media_type, reason, reason = '' AS keep
        |FROM u ORDER BY doc_id""".stripMargin),

    // ---- perceptual image dedup (the visual near-dup operator text
    // dedup has had since q21: image doc payloads DECODE through
    // PpmCodec and fingerprint as a 64-bit dHash over real pixels).
    // Scale shape: everything past the one decode projection runs at
    // SIGNATURE grain — exact-dup groups are one groupBy on the hash;
    // near-dup candidates come from an 8×8-bit band self-join of
    // DISTINCT hashes (pigeonhole: hamming ≤ 7 ⇒ some band matches, so
    // banding loses nothing at threshold 6), never doc×doc. The oracle
    // cross-joins the distinct hashes — tractable there, and it proves
    // the banded path's recall guarantee against ground truth ----
    QuerySpec("q234_image_phash_dedup", (s, d) => {
      import graft.multimodal.{PerceptualHash, PpmCodec, SyntheticMedia}
      val ph = udf { (d0: Long) =>
        val img = PpmCodec.decode(SyntheticMedia.ppmPayload(d0)).get
        val bands = PerceptualHash.dHash(img)
        (PerceptualHash.hex(bands), bands)
      }
      val hashes = tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), ph(col("doc_id")).as("t"))
        .select(col("doc_id"), col("t._1").as("phash"), col("t._2").as("bands"))
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"),
          first(col("bands")).as("bands")) // bands ↔ phash is a bijection
        .localCheckpoint()
      val bandRows = hashes.select(col("phash"),
        posexplode(col("bands")).as(Seq("band_idx", "band_val")))
      val pairs = bandRows.as("a")
        .join(bandRows.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.phash") < col("b.phash"))
        .select(col("a.phash").as("h1"), col("b.phash").as("h2"))
        .distinct()
        .join(hashes.select(col("phash").as("h1"), col("bands").as("b1")), "h1")
        .join(hashes.select(col("phash").as("h2"), col("bands").as("b2")), "h2")
        .withColumn("dist", aggregate(
          zip_with(col("b1"), col("b2"), (x, y) => bit_count(x.bitwiseXOR(y))),
          lit(0), (acc, v) => acc + v))
        .filter(col("dist") > 0 && col("dist") <= 6)
      val near = pairs.select(col("h1").as("phash"))
        .unionAll(pairs.select(col("h2").as("phash")))
        .groupBy(col("phash")).agg(count(lit(1)).as("n_near"))
      hashes.join(near, Seq("phash"), "left")
        .select(col("phash"), col("n_docs"), col("rep_doc"),
          coalesce(col("n_near"), lit(0L)).as("n_near"))
        .orderBy(col("phash"))
    }, oracle =
      // phash replay: the dHash bits from the pixel FORMULA (the Spark
      // side decodes real P6 bytes), then ground-truth near pairs by
      // cross-joining the distinct hashes — which also proves the banded
      // candidate path loses nothing at threshold 6.
      """WITH img AS (
        | SELECT doc_id, CAST(doc_id % 16 + 4 AS BIGINT) AS w,
        |        CAST(doc_id * 7 % 16 + 4 AS BIGINT) AS h
        | FROM documents WHERE doc_id % 3 = 0),
        |gr AS (
        | SELECT doc_id,
        |  list_transform(range(0::BIGINT, 8::BIGINT), gy ->
        |   list_transform(range(0::BIGINT, 9::BIGINT), gx ->
        |    ( ((doc_id*31 + (((gy*h//8)*w + (gx*w//9))*3 + 0)*7) % 256)
        |    + ((doc_id*31 + (((gy*h//8)*w + (gx*w//9))*3 + 1)*7) % 256)
        |    + ((doc_id*31 + (((gy*h//8)*w + (gx*w//9))*3 + 2)*7) % 256)) // 3
        |   )) AS g
        | FROM img),
        |bh AS (
        | SELECT doc_id,
        |  list_transform(range(0::BIGINT, 8::BIGINT), gy ->
        |   list_sum(list_transform(range(0::BIGINT, 8::BIGINT), gx ->
        |    CASE WHEN g[gy+1][gx+2] > g[gy+1][gx+1] THEN 1<<gx ELSE 0 END))) AS bands
        | FROM gr),
        |hs AS (
        | SELECT doc_id, bands,
        |  array_to_string(list_transform(bands,
        |    b -> printf('%02x', CAST(b AS INT))), '') AS phash
        | FROM bh),
        |hg AS (
        | SELECT phash, any_value(bands) AS bands, count(*) AS n_docs,
        |        min(doc_id) AS rep_doc
        | FROM hs GROUP BY phash),
        |p2 AS (
        | SELECT a.phash AS h1, b.phash AS h2,
        |  list_sum(list_transform(range(0::BIGINT, 8::BIGINT), i ->
        |    bit_count(xor(CAST(a.bands[i+1] AS BIGINT),
        |                  CAST(b.bands[i+1] AS BIGINT))))) AS dist
        | FROM hg a JOIN hg b ON a.phash < b.phash),
        |p3 AS (SELECT h1, h2 FROM p2 WHERE dist BETWEEN 1 AND 6),
        |nn AS (
        | SELECT phash, count(*) AS n_near FROM (
        |  SELECT h1 AS phash FROM p3 UNION ALL SELECT h2 AS phash FROM p3)
        | GROUP BY phash)
        |SELECT hg.phash, CAST(n_docs AS BIGINT) AS n_docs, rep_doc,
        |       CAST(coalesce(n_near, 0) AS BIGINT) AS n_near
        |FROM hg LEFT JOIN nn USING (phash) ORDER BY phash""".stripMargin),

    // ---- audio fingerprint dedup (q234's shape for the third
    // modality, completing per-modality dedup signatures: text
    // minhash/simhash, image dHash, audio energy-delta): audio docs
    // DECODE through WavCodec and fingerprint as 15 gain-invariant
    // energy-comparison bits; signature-grain exact groups + banded
    // near pairs (3×5-bit bands — pigeonhole-complete at hamming ≤ 2).
    // Distinct fingerprints are capped at 2^15 regardless of corpus
    // size, so everything past the decode projection is bounded ----
    QuerySpec("q238_audio_fp_dedup", (s, d) => {
      import graft.multimodal.{PerceptualHash, SyntheticMedia, WavCodec}
      val fp = udf { (d0: Long) =>
        PerceptualHash.energyFingerprint(
          WavCodec.decode(SyntheticMedia.wavPayload(d0)).get)
      }
      val sigs = tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), fp(col("doc_id")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"))
        .localCheckpoint()
      val bands = sigs.select(col("fp"),
          explode(sequence(lit(0), lit(2))).as("band_idx"))
        .withColumn("band_val", expr("shiftright(fp, band_idx * 5) & 31"))
      val pairs = bands.as("a")
        .join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.fp") < col("b.fp"))
        .select(col("a.fp").as("f1"), col("b.fp").as("f2"))
        .distinct()
        .withColumn("dist", bit_count(col("f1").bitwiseXOR(col("f2"))))
        .filter(col("dist") > 0 && col("dist") <= 2)
      val near = pairs.select(col("f1").as("fp"))
        .unionAll(pairs.select(col("f2").as("fp")))
        .groupBy(col("fp")).agg(count(lit(1)).as("n_near"))
      sigs.join(near, Seq("fp"), "left")
        .select(col("fp").cast("bigint").as("fp"), col("n_docs"),
          col("rep_doc"), coalesce(col("n_near"), lit(0L)).as("n_near"))
        .orderBy(col("fp"))
    }, oracle =
      // audio-fp replay: energies from the sample FORMULA (the Spark
      // side decodes real WAV bytes), ground-truth near pairs by
      // cross-joining distinct fingerprints.
      s"""WITH au AS (
        | SELECT doc_id, CAST(100 + (doc_id * 13) % 900 AS BIGINT) AS n
        | FROM documents WHERE doc_id % 3 = 1),
        |e AS (
        | SELECT doc_id,
        |  list_transform(range(0::BIGINT, 16::BIGINT), j ->
        |   list_sum(list_transform(range(j * n // 16, (j + 1) * n // 16),
        |    i -> ((doc_id * 31 + i * 7919) % 65536 - 32768)
        |       * ((doc_id * 31 + i * 7919) % 65536 - 32768)))) AS es
        | FROM au),
        |f0 AS (
        | SELECT doc_id,
        |  list_sum(list_transform(range(0::BIGINT, 15::BIGINT), b ->
        |   CASE WHEN es[b + 2] > es[b + 1] THEN 1 << b ELSE 0 END)) AS fp
        | FROM e),
        |$fpNearDupSql""".stripMargin),

    // ---- video perceptual dedup (q234 image / q238 audio shape for
    // the LAST modality — per-modality dedup signatures now complete:
    // text minhash/simhash, image dHash, audio energy-delta, video
    // spatio-temporal): video docs DECODE through Y4mCodec and
    // fingerprint as 24 brightness-invariant luma-comparison bits over
    // the first two frames; signature-grain exact groups + banded near
    // pairs (3×8-bit bands — pigeonhole-complete at hamming ≤ 2).
    // Distinct fingerprints are capped at 2^24 (and in practice far
    // below), so everything past the decode projection is bounded ----
    QuerySpec("q240_video_fp_dedup", (s, d) => {
      import graft.multimodal.{PerceptualHash, SyntheticMedia, Y4mCodec}
      val fp = udf { (d0: Long) =>
        PerceptualHash.videoFingerprint(
          Y4mCodec.decode(SyntheticMedia.y4mPayload(d0)).get)
      }
      val sigs = tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), fp(col("doc_id")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"))
        .localCheckpoint()
      val bands = sigs.select(col("fp"),
          explode(sequence(lit(0), lit(2))).as("band_idx"))
        .withColumn("band_val", expr("shiftright(fp, band_idx * 8) & 255"))
      val pairs = bands.as("a")
        .join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.fp") < col("b.fp"))
        .select(col("a.fp").as("f1"), col("b.fp").as("f2"))
        .distinct()
        .withColumn("dist", bit_count(col("f1").bitwiseXOR(col("f2"))))
        .filter(col("dist") > 0 && col("dist") <= 2)
      val near = pairs.select(col("f1").as("fp"))
        .unionAll(pairs.select(col("f2").as("fp")))
        .groupBy(col("fp")).agg(count(lit(1)).as("n_near"))
      sigs.join(near, Seq("fp"), "left")
        .select(col("fp").cast("bigint").as("fp"), col("n_docs"),
          col("rep_doc"), coalesce(col("n_near"), lit(0L)).as("n_near"))
        .orderBy(col("fp"))
    }, oracle =
      // video-fp replay: luma comparisons from the plane FORMULA (the
      // Spark side decodes real Y4M bytes); bit b of the 24 → frame
      // b//12, grid row (b%12)//3, column comparison b%3 vs b%3+1 at
      // point-sampled coordinates (gy*h//4, gx*w//4). Ground-truth near
      // pairs by cross-joining distinct fingerprints.
      s"""WITH vd AS (
        | SELECT doc_id, CAST(2 * ((doc_id % 8) + 2) AS BIGINT) AS w,
        |        CAST(2 * (((doc_id * 5) % 8) + 2) AS BIGINT) AS h
        | FROM documents WHERE doc_id % 3 = 2),
        |f0 AS (
        | SELECT doc_id,
        |  list_sum(list_transform(range(0::BIGINT, 24::BIGINT), b ->
        |   CASE WHEN
        |    ((doc_id * 31 + (b // 12) * 101 +
        |      ((((b % 12) // 3) * h // 4) * w + ((b % 3) + 1) * w // 4) * 7)
        |     % 256)
        |    >
        |    ((doc_id * 31 + (b // 12) * 101 +
        |      ((((b % 12) // 3) * h // 4) * w + (b % 3) * w // 4) * 7)
        |     % 256)
        |   THEN 1 << b ELSE 0 END)) AS fp
        | FROM vd),
        |$fpNearDupSql""".stripMargin),

    // ---- REAL compressed-image decode (PNG through the JDK's actual
    // zlib — q222/q223's shape for the first COMPRESSED codec,
    // shrinking the media stub to lossy formats): deterministic RGBA
    // PNGs are encoded per image doc (pixels from pure integer
    // arithmetic, scanline y filtered with type y%5 so one decode
    // exercises None/Sub/Up/Average/Paeth), then channel sums and a
    // byte-order-pinning weighted checksum are computed by DECODING
    // the actual IDAT stream through Inflater + defilter + alpha drop.
    // Zero exchanges before the presentation sort; every output is an
    // exact BIGINT (the round-9 typing contract), and the oracle
    // replays each from the generator formula — any wrong byte anywhere
    // in deflate→inflate→defilter→RGB moves wsum ----
    QuerySpec("q279_png_image_stats", (s, d) => {
      import graft.multimodal.{PngCodec, SyntheticMedia}
      val gen = udf { (d0: Long) => SyntheticMedia.pngPayload(d0) }
      val st = udf { (bytes: Array[Byte]) =>
        PngCodec.decode(bytes).map { img =>
          var sr = 0L; var sg = 0L; var sb = 0L; var wsum = 0L
          var i = 0
          while (i < img.rgb.length) {
            val v = img.rgb(i) & 0xff
            (i % 3) match {
              case 0 => sr += v
              case 1 => sg += v
              case _ => sb += v
            }
            wsum += v.toLong * (i + 1)
            i += 1
          }
          (img.width.toLong, img.height.toLong,
            bytes.length.toLong, sr, sg, sb, wsum)
        }.orNull
      }
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), st(gen(col("doc_id"))).as("t"))
        .select(col("doc_id"),
          col("t._1").as("width"),
          col("t._2").as("height"),
          col("t._4").as("sum_r"),
          col("t._5").as("sum_g"),
          col("t._6").as("sum_b"),
          col("t._7").as("wsum"))
        .orderBy(col("doc_id"))
    }, oracle =
      // PNG replay: the generator's RGBA formula, alpha channel dropped
      // (ch 3), RGB index p*3+ch re-derived for the weighted checksum —
      // the Spark side earns these numbers by actually inflating and
      // defiltering the IDAT bytes.
      """WITH img AS (
        | SELECT doc_id, doc_id % 12 + 4 AS w, (doc_id * 5) % 12 + 4 AS h
        | FROM documents WHERE doc_id % 3 = 0),
        |v AS (
        | SELECT doc_id, w, h, c % 4 AS ch, c // 4 AS p,
        |  (doc_id * 37 + c * 11) % 256 AS val
        | FROM img, unnest(range(0, CAST(w * h * 4 AS BIGINT))) AS r(c))
        |SELECT doc_id,
        | CAST(max(w) AS BIGINT) AS width,
        | CAST(max(h) AS BIGINT) AS height,
        | CAST(sum(CASE WHEN ch = 0 THEN val ELSE 0 END) AS BIGINT) AS sum_r,
        | CAST(sum(CASE WHEN ch = 1 THEN val ELSE 0 END) AS BIGINT) AS sum_g,
        | CAST(sum(CASE WHEN ch = 2 THEN val ELSE 0 END) AS BIGINT) AS sum_b,
        | CAST(sum(CASE WHEN ch <= 2 THEN val * (p * 3 + ch + 1) ELSE 0 END)
        |   AS BIGINT) AS wsum
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- cross-container perceptual identity (the dedup property
    // PNG support must buy: the SAME pixels stored as P6 and as PNG
    // collapse into ONE phash group): each image doc materializes
    // twice — a P6 built directly from the pixel formula, and the q279
    // RGBA PNG whose pixels only EXIST after a real inflate + defilter
    // + alpha drop — then the container-agnostic phash groups them.
    // n_p6 == n_png per group is earned, not asserted: any wrong byte
    // in the PNG chain splits the group and the oracle's 2× counts
    // stop matching. Zero exchanges before the phash groupBy ----
    QuerySpec("q280_cross_container_phash", (s, d) => {
      import graft.multimodal.{Multimodal, PpmCodec, SyntheticMedia}
      val mk = udf { (d0: Long, container: String) =>
        if (container == "png") SyntheticMedia.pngPayload(d0)
        else {
          // independent construction from the SAME RGBA formula, alpha
          // skipped — NOT derived from the PNG decode
          val w = (d0 % 12 + 4).toInt
          val h = (d0 * 5 % 12 + 4).toInt
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            var ch = 0
            while (ch < 3) {
              rgb(p * 3 + ch) =
                ((d0 * 37 + (p.toLong * 4 + ch) * 11) % 256).toByte
              ch += 1
            }
            p += 1
          }
          PpmCodec.encode(PpmCodec.Image(w, h, rgb))
        }
      }
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          explode(array(lit("p6"), lit("png"))).as("container"))
        .select(col("doc_id"), col("container"),
          Multimodal.phash(mk(col("doc_id"), col("container")))
            .as("phash"))
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("container") === "p6", 1L).otherwise(0L))
            .as("n_p6"),
          sum(when(col("container") === "png", 1L).otherwise(0L))
            .as("n_png"),
          min(col("doc_id")).as("rep_doc"))
        .orderBy(col("phash"))
    }, oracle =
      // cross-container replay: q234's dHash algebra over the q279 RGBA
      // formula (alpha channel skipped: pixel p channel ch lives at RGBA
      // byte p*4+ch). Both containers carry the same pixels, so each
      // phash group holds exactly one p6 and one png row per doc — the
      // 2×/1×/1× counts below only reproduce if the Spark side's PNG
      // inflate+defilter chain is byte-perfect.
      """WITH img AS (
        | SELECT doc_id, CAST(doc_id % 12 + 4 AS BIGINT) AS w,
        |        CAST(doc_id * 5 % 12 + 4 AS BIGINT) AS h
        | FROM documents WHERE doc_id % 3 = 0),
        |gr AS (
        | SELECT doc_id,
        |  list_transform(range(0::BIGINT, 8::BIGINT), gy ->
        |   list_transform(range(0::BIGINT, 9::BIGINT), gx ->
        |    ( ((doc_id*37 + (((gy*h//8)*w + (gx*w//9))*4 + 0)*11) % 256)
        |    + ((doc_id*37 + (((gy*h//8)*w + (gx*w//9))*4 + 1)*11) % 256)
        |    + ((doc_id*37 + (((gy*h//8)*w + (gx*w//9))*4 + 2)*11) % 256)) // 3
        |   )) AS g
        | FROM img),
        |bh AS (
        | SELECT doc_id,
        |  list_transform(range(0::BIGINT, 8::BIGINT), gy ->
        |   list_sum(list_transform(range(0::BIGINT, 8::BIGINT), gx ->
        |    CASE WHEN g[gy+1][gx+2] > g[gy+1][gx+1] THEN 1<<gx ELSE 0 END))) AS bands
        | FROM gr),
        |hs AS (
        | SELECT doc_id,
        |  array_to_string(list_transform(bands,
        |    b -> printf('%02x', CAST(b AS INT))), '') AS phash
        | FROM bh)
        |SELECT phash, CAST(2 * count(*) AS BIGINT) AS n_rows,
        | CAST(count(*) AS BIGINT) AS n_p6,
        | CAST(count(*) AS BIGINT) AS n_png,
        | min(doc_id) AS rep_doc
        |FROM hs GROUP BY phash ORDER BY phash""".stripMargin),

    // ---- pure-SQL image analysis (q48's shape for the raster codecs:
    // the `img_stats` SQL struct over a mixed P6/PNG corpus — the
    // container tag and every sum come from the DECODE, so the SQL
    // surface is verified against the same generator-formula oracle as
    // the Column API): one scan, a 2-row container rollup ----
    QuerySpec("q281_img_stats_sql", (s, d) => {
      import graft.multimodal.SyntheticMedia
      val gen = udf { (d0: Long, c: String) =>
        if (c == "png") SyntheticMedia.pngPayload(d0)
        else SyntheticMedia.ppmPayload(d0)
      }
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          explode(array(lit("p6"), lit("png"))).as("container"))
        .select(gen(col("doc_id"), col("container")).as("content"))
        .createOrReplaceTempView("q281_media")
      s.sql(
        """SELECT st.container AS container,
          | count(*) AS n_imgs,
          | sum(st.n_pixels) AS n_pixels,
          | sum(st.sum_r) AS sum_r,
          | sum(st.sum_g) AS sum_g,
          | sum(st.sum_b) AS sum_b
          |FROM (SELECT img_stats(content) AS st FROM q281_media)
          |GROUP BY 1 ORDER BY container""".stripMargin)
    }, oracle =
      // img_stats replay: both containers' channel sums from their
      // generator pixel formulas (P6: (d*31 + i*7) mod 256 over RGB index
      // i; PNG: (d*37 + c*11) mod 256 over RGBA index c, alpha dropped).
      """WITH d6 AS (
        | SELECT doc_id,
        |  CAST(doc_id % 16 + 4 AS BIGINT) * CAST(doc_id * 7 % 16 + 4
        |    AS BIGINT) AS np
        | FROM documents WHERE doc_id % 3 = 0),
        |p6v AS (
        | SELECT doc_id, unnest(range(0, np)) AS p FROM d6),
        |p6a AS (
        | SELECT sum((doc_id*31 + (p*3+0)*7) % 256) AS sr,
        |        sum((doc_id*31 + (p*3+1)*7) % 256) AS sg,
        |        sum((doc_id*31 + (p*3+2)*7) % 256) AS sb
        | FROM p6v),
        |p6n AS (SELECT count(*) AS n_imgs, sum(np) AS n_pixels FROM d6),
        |dp AS (
        | SELECT doc_id,
        |  CAST(doc_id % 12 + 4 AS BIGINT) * CAST(doc_id * 5 % 12 + 4
        |    AS BIGINT) AS np
        | FROM documents WHERE doc_id % 3 = 0),
        |pgv AS (
        | SELECT doc_id, unnest(range(0, np)) AS p FROM dp),
        |pga AS (
        | SELECT sum((doc_id*37 + (p*4+0)*11) % 256) AS sr,
        |        sum((doc_id*37 + (p*4+1)*11) % 256) AS sg,
        |        sum((doc_id*37 + (p*4+2)*11) % 256) AS sb
        | FROM pgv),
        |pgn AS (SELECT count(*) AS n_imgs, sum(np) AS n_pixels FROM dp)
        |SELECT 'p6' AS container, CAST(n_imgs AS BIGINT) AS n_imgs,
        | CAST(n_pixels AS BIGINT) AS n_pixels, CAST(sr AS BIGINT) AS sum_r,
        | CAST(sg AS BIGINT) AS sum_g, CAST(sb AS BIGINT) AS sum_b
        |FROM p6n CROSS JOIN p6a
        |UNION ALL
        |SELECT 'png', CAST(n_imgs AS BIGINT), CAST(n_pixels AS BIGINT),
        | CAST(sr AS BIGINT), CAST(sg AS BIGINT), CAST(sb AS BIGINT)
        |FROM pgn CROSS JOIN pga
        |ORDER BY container""".stripMargin),

    // ---- the round-10 PNG decode arms (q279's harness over the three
    // real-web shapes the codec previously stubbed): every image doc
    // materializes THREE more PNG containers — 8-bit PALETTE (PLTE
    // indirection), 16-bit RGB (big-endian samples, decoder keeps the
    // high byte), and Adam7 INTERLACE (7 independently-filtered passes
    // whose de-interlace must reproduce the natural-order pixels) —
    // and each decodes through the full inflate → per-pass defilter →
    // sample-extract → scatter chain. Channel sums + the byte-order-
    // pinning weighted checksum per (doc, arm); all BIGINT; the oracle
    // replays every value from the generator formulas, so a wrong
    // byte anywhere in any arm moves wsum ----
    QuerySpec("q286_png_decode_arms", (s, d) => {
      import graft.multimodal.{PngCodec, SyntheticMedia}
      val gen = udf { (d0: Long, arm: String) =>
        arm match {
          case "palette" => SyntheticMedia.pngPalettePayload(d0)
          case "rgb16" => SyntheticMedia.png16Payload(d0)
          case _ => SyntheticMedia.pngAdam7Payload(d0)
        }
      }
      val st = udf { (bytes: Array[Byte]) =>
        PngCodec.decode(bytes).map { img =>
          var sr = 0L; var sg = 0L; var sb = 0L; var wsum = 0L
          var i = 0
          while (i < img.rgb.length) {
            val v = img.rgb(i) & 0xff
            (i % 3) match {
              case 0 => sr += v
              case 1 => sg += v
              case _ => sb += v
            }
            wsum += v.toLong * (i + 1)
            i += 1
          }
          (img.width.toLong, img.height.toLong, sr, sg, sb, wsum)
        }.orNull
      }
      val arms = s.createDataFrame(Seq(
        Tuple1("adam7"), Tuple1("palette"), Tuple1("rgb16")))
        .toDF("arm")
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 0)
        .crossJoin(broadcast(arms))
        .select(col("doc_id"), col("arm"),
          st(gen(col("doc_id"), col("arm"))).as("t"))
        .select(col("doc_id"), col("arm"),
          col("t._1").as("width"),
          col("t._2").as("height"),
          col("t._3").as("sum_r"),
          col("t._4").as("sum_g"),
          col("t._5").as("sum_b"),
          col("t._6").as("wsum"))
        .orderBy(col("doc_id"), col("arm"))
    }, oracle =
      // PNG decode-arm replay: every value from the generator formulas —
      // palette indirection, 16-bit high byte (integer // 256), and the
      // Adam7 arm's natural-order bytes (de-interlacing must reproduce
      // them exactly or wsum moves).
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |pd AS (SELECT doc_id, (doc_id % 10 + 3) AS w,
        |  (doc_id * 3 % 10 + 3) AS h, (2 + doc_id % 14) AS n FROM d),
        |ppx AS (SELECT doc_id, n, p
        | FROM pd, unnest(range(0, w * h)) AS r(p)),
        |pv AS (SELECT doc_id, p,
        |  (doc_id*13 + ((doc_id*31 + p*7) % n)*17) % 256 AS v0,
        |  (doc_id*13 + ((doc_id*31 + p*7) % n)*17 + 5) % 256 AS v1,
        |  (doc_id*13 + ((doc_id*31 + p*7) % n)*17 + 10) % 256 AS v2
        | FROM ppx),
        |pa AS (SELECT doc_id, sum(v0) AS sr, sum(v1) AS sg,
        |  sum(v2) AS sb,
        |  sum(v0*(3*p+1) + v1*(3*p+2) + v2*(3*p+3)) AS ws
        | FROM pv GROUP BY 1),
        |sd AS (SELECT doc_id, (doc_id % 9 + 3) AS w,
        |  (doc_id * 7 % 9 + 3) AS h FROM d),
        |spx AS (SELECT doc_id, s
        | FROM sd, unnest(range(0, w * h * 3)) AS r(s)),
        |sv AS (SELECT doc_id, s,
        |  ((doc_id*37 + s*257) % 65536) // 256 AS v FROM spx),
        |sa AS (SELECT doc_id,
        |  sum(CASE WHEN s % 3 = 0 THEN v ELSE 0 END) AS sr,
        |  sum(CASE WHEN s % 3 = 1 THEN v ELSE 0 END) AS sg,
        |  sum(CASE WHEN s % 3 = 2 THEN v ELSE 0 END) AS sb,
        |  sum(v * (s + 1)) AS ws FROM sv GROUP BY 1),
        |ad AS (SELECT doc_id, (doc_id % 11 + 9) AS w,
        |  (doc_id * 3 % 11 + 9) AS h FROM d),
        |apx AS (SELECT doc_id, c
        | FROM ad, unnest(range(0, w * h * 3)) AS r(c)),
        |av AS (SELECT doc_id, c, (doc_id*41 + c*13) % 256 AS v FROM apx),
        |aa AS (SELECT doc_id,
        |  sum(CASE WHEN c % 3 = 0 THEN v ELSE 0 END) AS sr,
        |  sum(CASE WHEN c % 3 = 1 THEN v ELSE 0 END) AS sg,
        |  sum(CASE WHEN c % 3 = 2 THEN v ELSE 0 END) AS sb,
        |  sum(v * (c + 1)) AS ws FROM av GROUP BY 1)
        |SELECT ad.doc_id, 'adam7' AS arm, CAST(ad.w AS BIGINT) AS width,
        | CAST(ad.h AS BIGINT) AS height, CAST(aa.sr AS BIGINT) AS sum_r,
        | CAST(aa.sg AS BIGINT) AS sum_g, CAST(aa.sb AS BIGINT) AS sum_b,
        | CAST(aa.ws AS BIGINT) AS wsum
        |FROM ad JOIN aa ON aa.doc_id = ad.doc_id
        |UNION ALL
        |SELECT pd.doc_id, 'palette', CAST(pd.w AS BIGINT),
        | CAST(pd.h AS BIGINT), CAST(pa.sr AS BIGINT),
        | CAST(pa.sg AS BIGINT), CAST(pa.sb AS BIGINT), CAST(pa.ws AS BIGINT)
        |FROM pd JOIN pa ON pa.doc_id = pd.doc_id
        |UNION ALL
        |SELECT sd.doc_id, 'rgb16', CAST(sd.w AS BIGINT),
        | CAST(sd.h AS BIGINT), CAST(sa.sr AS BIGINT),
        | CAST(sa.sg AS BIGINT), CAST(sa.sb AS BIGINT), CAST(sa.ws AS BIGINT)
        |FROM sd JOIN sa ON sa.doc_id = sd.doc_id
        |ORDER BY doc_id, arm""".stripMargin),

    // ---- REAL compressed-audio decode (FLAC — the lossless arm where
    // the exact-round-trip oracle harness works, closing compressed
    // audio the way q279 closed images): deterministic noise PCM is
    // FLAC-encoded per audio doc (fixed/LPC/verbatim subframe schedule,
    // stereo frames cycling all four channel assignments, Rice
    // partition order alternating 0/2), then sample sums and the
    // order-pinning weighted checksum are computed by DECODING the
    // actual bitstream — Rice quotients, predictor replay, channel
    // de-correlation, CRC-8/16 gates. The oracle replays every value
    // from the generator formula: one wrong residual bit anywhere
    // moves wsum ----
    QuerySpec("q287_flac_roundtrip", (s, d) => {
      import graft.multimodal.{FlacCodec, SyntheticMedia}
      val gen = udf { (d0: Long) => SyntheticMedia.flacPayload(d0) }
      val st = udf { (bytes: Array[Byte]) =>
        FlacCodec.decode(bytes).map { c =>
          var ss = 0L; var ws = 0L
          var j = 0
          while (j < c.samples.length) {
            val v = c.samples(j).toLong
            ss += v; ws += v * (j + 1)
            j += 1
          }
          (c.channels.toLong, c.sampleRate.toLong,
            c.samples.length.toLong, ss, ws)
        }.orNull
      }
      tSpread(s, d, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), st(gen(col("doc_id"))).as("t"))
        .select(col("doc_id"),
          col("t._1").as("channels"),
          col("t._2").as("rate"),
          col("t._3").as("n_samples"),
          col("t._4").as("sum_s"),
          col("t._5").as("wsum"))
        .orderBy(col("doc_id"))
    }, oracle =
      // FLAC replay: every value from the wavPayload-family noise formula
      // — the Spark side only matches if encode→decode reproduced every
      // PCM sample in order.
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |fd AS (SELECT doc_id, (8000 + (doc_id % 7) * 1000) AS rate,
        |  (1 + doc_id % 2) AS ch,
        |  (1 + doc_id % 2) * (3000 + (doc_id * 17) % 6000) AS ns FROM d),
        |fs AS (SELECT doc_id, j,
        |  (doc_id*31 + j*7919) % 65536 - 32768 AS v
        | FROM fd, unnest(range(0, ns)) AS r(j)),
        |fa AS (SELECT doc_id, sum(v) AS ss, sum(v * (j + 1)) AS ws
        | FROM fs GROUP BY 1)
        |SELECT fd.doc_id, CAST(fd.ch AS BIGINT) AS channels,
        | CAST(fd.rate AS BIGINT) AS rate, CAST(fd.ns AS BIGINT) AS n_samples,
        | CAST(fa.ss AS BIGINT) AS sum_s, CAST(fa.ws AS BIGINT) AS wsum
        |FROM fd JOIN fa ON fa.doc_id = fd.doc_id
        |ORDER BY fd.doc_id""".stripMargin),

    // ---- content-type dispatch: the multimodal router — an archive
    // carries html, images, audio and opaque bytes in ONE stream, and
    // the Content-Type header (off the parsed envelope) routes each
    // body to its decoder: html → charset decode, P6 → PpmCodec,
    // WAV → WavCodec, anything unclaimed → quarantine kind 'unknown'
    // with NULL stats (the NULL-dispatch contract at the modality
    // grain). Each decoder's stats replay from the generator formulas ----
    QuerySpec("q315_content_dispatch", (s, d) => {
      import graft.ingest.{CharsetSniff, HttpMessage}
      import graft.multimodal.{PpmCodec, WavCodec}
      val arm = col("doc_id") % 4
      val ppmGen = udf { (id: Long) =>
        val w = 2 + (id % 3).toInt
        val h = 2
        val v = (id % 256).toByte
        val head = s"P6\n$w $h\n255\n"
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        head ++ Array.fill(w * h * 3)(v)
      }
      val wavGen = udf { (id: Long) =>
        WavCodec.encode(WavCodec.Clip(8000, 1,
          Array.fill(4)((id % 100).toShort)))
      }
      val imgStats = udf { (b: Array[Byte]) =>
        PpmCodec.decode(b).map(im =>
          (im.width.toLong * im.height, (im.rgb(0) & 0xff).toLong)).orNull
      }
      val wavStats = udf { (b: Array[Byte]) =>
        WavCodec.decode(b).map(c =>
          (c.frames.toLong, WavCodec.stats(c).peak.toLong)).orNull
      }
      val ct = when(arm === 0, lit("text/html; charset=utf-8"))
        .when(arm === 1, lit("image/x-portable-pixmap"))
        .when(arm === 2, lit("audio/wav"))
        .otherwise(lit("application/octet-stream"))
      val body = when(arm === 0, encode(col("text"), "UTF-8"))
        .when(arm === 1, ppmGen(col("doc_id")))
        .when(arm === 2, wavGen(col("doc_id")))
        .otherwise(encode(lit("opaque"), "UTF-8"))
      val payload = HttpMessage.writeUdf(lit(200), lit("OK"), ct,
        lit(null).cast("string"), body, lit(false))
      tSpread(s, d, "documents")
        .select(col("doc_id"), HttpMessage.parseUdf(payload).as("h"))
        .select(col("doc_id"),
          expr("h._2['content-type']").as("content_type"), col("h._3").as("b"))
        .withColumn("kind",
          when(col("content_type").startsWith("text/html"), "text")
            .when(col("content_type") === "image/x-portable-pixmap", "image")
            .when(col("content_type") === "audio/wav", "audio")
            .otherwise("unknown"))
        .select(col("doc_id"), col("content_type"), col("kind"),
          when(col("kind") === "text",
            length(CharsetSniff.decodeUdf(col("content_type"), col("b")))
              .cast("bigint"))
            .when(col("kind") === "image", imgStats(col("b"))("_1"))
            .when(col("kind") === "audio", wavStats(col("b"))("_1"))
            .as("units"),
          when(col("kind") === "text", lit(0L))
            .when(col("kind") === "image", imgStats(col("b"))("_2"))
            .when(col("kind") === "audio", wavStats(col("b"))("_2"))
            .as("value"),
          when(col("kind") === "text", md5(col("b"))).as("checksum"))
        .orderBy(col("doc_id"))
    }, oracle =
      // dispatch replay: per-modality stats from the generator formulas
      """WITH d AS (SELECT doc_id, text,
        |  CAST(doc_id % 4 AS INT) AS a FROM documents)
        |SELECT doc_id,
        | CASE a WHEN 0 THEN 'text/html; charset=utf-8'
        |  WHEN 1 THEN 'image/x-portable-pixmap'
        |  WHEN 2 THEN 'audio/wav'
        |  ELSE 'application/octet-stream' END AS content_type,
        | CASE a WHEN 0 THEN 'text' WHEN 1 THEN 'image'
        |  WHEN 2 THEN 'audio' ELSE 'unknown' END AS kind,
        | CAST(CASE a WHEN 0 THEN length(text)
        |  WHEN 1 THEN (2 + doc_id % 3) * 2
        |  WHEN 2 THEN 4 END AS BIGINT) AS units,
        | CAST(CASE a WHEN 0 THEN 0 WHEN 1 THEN doc_id % 256
        |  WHEN 2 THEN doc_id % 100 END AS BIGINT) AS value,
        | CASE WHEN a = 0 THEN md5(text) END AS checksum
        |FROM d ORDER BY doc_id""".stripMargin),
  )
}
