package graft.text

import org.apache.spark.sql.functions.udf

/** Gzip text-payload codec — compressed text COLUMNS, the container
  * web-scale corpora actually arrive in (WARC/WET members, .jsonl.gz
  * shards): a 100 TB pipeline's first projection is often "inflate
  * this cell". The JDK ships real zlib (the PNG precedent, PngCodec),
  * so both directions are genuine byte transforms, not stubs.
  *
  * Decompression is the dispatch-test shape the multimodal codecs
  * established: `gunzip` returns NULL for anything that is not a
  * well-formed gzip member (wrong magic, corrupt deflate stream,
  * trailing garbage), and a crafted bomb stops at [[MaxBytes]]
  * inflated bytes and returns NULL instead of an executor OOM — one
  * malformed cell must never fail a 100 TB scan.
  */
object GzipText {

  /** Inflated-payload budget per cell (64 MiB of UTF-8). */
  val MaxBytes: Int = 1 << 26

  /** Gzip a string (UTF-8, default Deflater level). The byte OUTPUT is
    * zlib-version-dependent and therefore never hashed by a declared
    * query — only round-trips through [[gunzipBytes]] are asserted. */
  def gzipBytes(s: String): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(buf)
    gz.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    gz.close()
    buf.toByteArray
  }

  /** Inflate a gzip member to UTF-8 text; None when the bytes are not
    * one (the NULL-dispatch contract) or exceed [[MaxBytes]]. */
  def gunzipBytes(bytes: Array[Byte]): Option[String] =
    try {
      val in = new java.util.zip.GZIPInputStream(
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

  /** `gzip_text(text)` — BINARY gzip member of a string column. */
  val gzip: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) => Option(s).map(gzipBytes).orNull }

  /** `gunzip_text(binary)` — inflated UTF-8 text, NULL for non-gzip
    * or over-budget payloads. */
  val gunzip: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (b: Array[Byte]) => Option(b).flatMap(gunzipBytes).orNull }
}
