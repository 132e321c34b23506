package graft.text

import org.apache.spark.sql.functions.udf

/** Zstandard text-payload codec (RFC 8878) — the compression modern
  * archives actually ship: Common Crawl's columnar index moved from
  * gzip to `.zst`, and `Content-Encoding: zstd` is negotiated by
  * every major browser/CDN since 2024. Mirrors [[GzipText]]'s
  * contract exactly — same NULL-dispatch on malformed bytes, same
  * inflated-byte bomb cap — so the Content-Encoding rung treats the
  * two codecs interchangeably. Backed by the zstd-jni Spark already
  * ships for shuffle/parquet compression (no new dependency).
  */
object ZstdText {

  /** Inflated-payload budget per cell (64 MiB of UTF-8 — the
    * [[GzipText.MaxBytes]] precedent; zstd's ~1000x max ratio makes a
    * 64 KiB bomb cell inflate past this and NULL out). */
  val MaxBytes: Int = 1 << 26

  /** Compress a string (UTF-8, default level). Byte output is
    * library-version-dependent — only round-trips are asserted, the
    * [[GzipText.gzipBytes]] rule. */
  def zstdBytes(s: String): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Decompress one zstd frame to UTF-8 text; None when the bytes are
    * not one (the NULL-dispatch contract) or inflate past
    * [[MaxBytes]]. Streaming read — a bomb stops at the cap, it is
    * never allocated up front. */
  def unzstdBytes(bytes: Array[Byte]): Option[String] =
    try {
      val in = new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n >= 0) {
        if (out.size() + n > MaxBytes) { in.close(); return None }
        out.write(tmp, 0, n)
        n = in.read(tmp)
      }
      in.close()
      Some(new String(out.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `zstd_text(text)` — BINARY zstd frame of a string column. */
  val zstd: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) => Option(s).map(zstdBytes).orNull }

  /** `unzstd_text(binary)` — inflated UTF-8 text, NULL for non-zstd
    * or over-budget payloads. */
  val unzstd: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (b: Array[Byte]) => Option(b).flatMap(unzstdBytes).orNull }
}
