package graft.enrich

import org.apache.spark.sql.DataFrame

/** Pluggable sentence-embedding stage (SURVEY.md M1-M5).
  *
  * The reference embeds with all-MiniLM-L6-v2 in-process
  * (loader/service.py:39-52). That model isn't available offline, so the
  * default implementation is a deterministic feature-hashing projection:
  * token → murmur3 bucket ±sign, L2-normalized — interface-compatible
  * with a real encoder and reproducible for tests/oracles.
  *
  * Executed as a plain Scala UDF inside the surrounding projection, so
  * one embed pass is one narrow stage, no shuffle. The embedder ships in
  * the UDF closure; the model-backed embedders load their weights
  * lazily, once per executor JVM.
  */
trait Embedder extends Serializable {
  def dim: Int
  def embed(text: String): Array[Float]
}

/** Deterministic hashing embedder (the offline default). Token hash is
  * FNV-1a 64 (the same primitive as [[graft.text.RollingHash]]) so the
  * projection is replayable in plain SQL by the DuckDB oracle: bucket =
  * floorMod(h, dim), sign = sign bit of h. */
final class HashingEmbedder(val dim: Int = 64) extends Embedder {
  override def embed(text: String): Array[Float] = {
    val v = new Array[Float](dim)
    if (text == null) return v
    val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    var i = 0
    while (i < toks.length) {
      val h = graft.text.RollingHash.hashToken(
        org.apache.spark.unsafe.types.UTF8String.fromString(toks(i)))
      val idx = java.lang.Math.floorMod(h, dim.toLong).toInt
      val sign = if (h >= 0L) 1.0f else -1.0f
      v(idx) += sign
      i += 1
    }
    var norm = 0.0
    var j = 0
    while (j < dim) { norm += v(j) * v(j); j += 1 }
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm)).toFloat
      j = 0
      while (j < dim) { v(j) *= inv; j += 1 }
    }
    v
  }
}

object EmbedStage {

  /** Append `outCol: array<float>` = embedding of `textCol`. Null/empty
    * text → null embedding (M1 failure semantics,
    * loader/service.py:75-83). */
  def embedColumn(df: DataFrame, textCol: String, outCol: String,
                  embedder: Embedder = new HashingEmbedder()): DataFrame = {
    import org.apache.spark.sql.functions.{col, udf}
    val embedUdf = udf { (t: String) =>
      if (t == null || t.trim.isEmpty) null else embedder.embed(t)
    }
    df.withColumn(outCol, embedUdf(col(textCol)))
  }

  /** M5 — conditional (re-)embedding: only rows whose embedding is null
    * get encoded; existing vectors pass through untouched. */
  def embedIfMissing(df: DataFrame, textCol: String, embCol: String,
                     embedder: Embedder = new HashingEmbedder()): DataFrame = {
    import org.apache.spark.sql.functions._
    val missing = df.filter(col(embCol).isNull).drop(embCol)
    val present = df.filter(col(embCol).isNotNull)
    present.unionByName(
      embedColumn(missing, textCol, embCol, embedder).select(df.columns.map(col).toIndexedSeq: _*))
  }
}
