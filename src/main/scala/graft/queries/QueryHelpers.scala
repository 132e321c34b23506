package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers shared by several query families: table readers, the demo
  * query vector, the pinned "today", the engine-agnostic quantizers and
  * the oracle SQL helpers and fragments more than one family replays. A
  * helper only one family uses stays private to that family. */
private[graft] object QueryHelpers {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Scan feeding a CPU-dense narrow stage (regex, shingle/minhash
    * hashing, embedding): the bench files are single-row-group parquet,
    * so the scan — and every map-side operator fused above the first
    * shuffle — would otherwise run as ONE task on one core. An explicit
    * round-robin repartition to the session's parallelism restores the
    * cluster-shaped plan (at production scale inputs arrive as thousands
    * of splits and the same repartition is a cheap rebalance). */
  def tSpread(s: SparkSession, dir: String, name: String): DataFrame =
    t(s, dir, name).repartition(s.sparkContext.defaultParallelism)

  /** Driver-side fetch of the demo query vector (vec_id=0). Reads the RAW
    * table so the `vec_id = 0` predicate is pushed to the parquet scan —
    * fetching one row must not pay the `tSpread` repartition shuffle the
    * scoring pass wants. */
  def queryVec(s: SparkSession, dir: String): Array[Float] =
    t(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

  // pinned "today" for all TTL/date math
  val Today = "2024-01-01"

  /** Engine-agnostic k-decimal quantization of an EXACT integer ratio
    * `num/den`: scale in exact bigint arithmetic, take ONE double
    * division (identical IEEE result in both engines), then floor.
    * `round()` is NOT engine-agnostic here: an exact ratio like
    * 565/100000 is a true decimal tie at 4dp, and Spark (decimal
    * shortest-repr, HALF_UP) and DuckDB (binary double) resolve ties in
    * opposite directions — caught by the sf0.001/sf0.1 gates on
    * q52/q150. SQL twin: `floor(num * 10^k / den + 0.5) / 10^k`. */
  def ratioQ(num: Column, den: Column, k: Int): Column = {
    val scale = math.pow(10, k).toLong
    floor(num * lit(scale) / den + lit(0.5d)) / lit(scale.toDouble)
  }

  /** Integer-grid twin of [[ratioQ]] (the round-10 UNIVERSAL
    * output-typing contract: no float/fractional-decimal output
    * columns anywhere): the quantized ratio emitted AS the BIGINT
    * k-decimal fixed-point value instead of dividing back to a double.
    * SQL twin: `CAST(floor(num * 10^k / den + 0.5) AS BIGINT)`. */
  def ratioBp(num: Column, den: Column, k: Int): Column = {
    val scale = math.pow(10, k).toLong
    floor(num * lit(scale) / den + lit(0.5d)).cast("bigint")
  }

  /** Engine-agnostic k-decimal grid of an already-computed double that
    * is IDENTICAL in both engines (same single IEEE expression, e.g.
    * percent_rank), emitted as BIGINT: floor on the same bits agrees
    * everywhere, while round() diverges on decimal-tie shortest-reprs.
    * SQL twin: `CAST(floor(x * 10^k + 0.5) AS BIGINT)`. */
  def floorBp(c: Column, k: Int): Column = {
    val scale = math.pow(10, k).toLong
    floor(c * lit(scale.toDouble) + lit(0.5d)).cast("bigint")
  }

  /** DuckDB SQL for FNV-1a 64 of a VARCHAR expression (ASCII inputs), in
    * unsigned-64 arithmetic emulated with HUGEINT — byte-for-byte the
    * same as [[graft.text.RollingHash.hashToken]]. `p` prefixes the
    * lambda variable names so nested uses don't collide. */
  def fnvSql(e: String, p: String): String =
    s"list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
      s"list_transform(range(1, length($e) + 1), ${p}i -> unicode(substr($e, ${p}i, 1)))), " +
      s"(${p}h, ${p}c) -> ((${p}h - (${p}h % 256) + xor((${p}h % 256)::BIGINT, ${p}c)::HUGEINT) * " +
      s"1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)"

  /** unsigned-64 (HUGEINT) → signed two's-complement value. */
  def toSignedSql(e: String): String =
    s"(CASE WHEN $e >= 9223372036854775808::HUGEINT " +
      s"THEN $e - 18446744073709551616::HUGEINT ELSE $e END)"

  val MinhashP = 2038074743L

  /** Shared DuckDB replay of MinHash-LSH banding (shingle → minhash
    * signature → `bkt(doc_id, b, bucket)` over 16 bands of 4 rows).
    * Ends after the `bkt` CTE. */
  lazy val minhashBandCteSql: String =
    s"""toks AS (
      | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
      |sh AS (
      | SELECT doc_id, list_distinct(list_transform(range(0, array_length(ts) - 2),
      |   si -> array_to_string(ts[(si + 1):(si + 3)], ' '))) AS shingles
      | FROM toks WHERE array_length(ts) >= 3),
      |hu AS (SELECT doc_id, list_transform(shingles, sg -> ${fnvSql("sg", "f")}) AS us FROM sh),
      |hm AS (SELECT doc_id, list_transform(us, u ->
      |   ((${toSignedSql("u")} % $MinhashP) + $MinhashP) % $MinhashP) AS hs FROM hu),
      |sigs AS (SELECT doc_id, list_transform(range(0, 64), j ->
      |   list_min(list_transform(hs, h ->
      |     ((1 + ((j + 1) * 2654435761) % ${MinhashP - 1}) * h +
      |      ((j + 1) * 1099511628211) % $MinhashP) % $MinhashP))) AS sg
      | FROM hm),
      |bkt AS (SELECT doc_id, b,
      |   array_to_string(sg[(CAST(b AS INT) * 4 + 1):(CAST(b AS INT) * 4 + 4)], ',') AS bucket
      | FROM sigs, range(0, 16) r(b))""".stripMargin

  /** Shared DuckDB replay of the MinHash-LSH transitive clustering
    * ([[minhashBandCteSql]] → candidate pairs → recursive min-label
    * closure). Ends after the `lbl` CTE; callers append either a final
    * SELECT over `lbl` (q23) or further CTEs (q160's cluster-aware
    * split). */
  lazy val minhashClusterCteSql: String =
    s"""WITH RECURSIVE $minhashBandCteSql,
      |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      | FROM bkt a JOIN bkt b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      | UNION ALL SELECT id_b, id_a FROM pairs),
      |lbl AS (SELECT doc_id AS id, doc_id AS c FROM documents
      | UNION
      | SELECT e.dst, lbl.c FROM lbl JOIN edges e ON lbl.id = e.src WHERE lbl.c < e.dst)""".stripMargin

  /** BM25 inputs: tokens, term frequencies `tf`, document lengths `dl`,
    * document frequencies `df`, corpus stats `st` and the query terms
    * `qt` (the first six tokens of every 113th document). */
  lazy val bm25TermStatsCteSql: String =
    """tok AS (
      | SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+'))
      |   AS w FROM documents),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
      | WHERE w <> '' GROUP BY 1, 2),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok
      | WHERE w <> '' GROUP BY 1),
      |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |st AS (SELECT count(*) AS n, sum(dl) / count(*) AS avgdl FROM dl),
      |qt AS (SELECT DISTINCT doc_id AS qid, w FROM (
      |  SELECT doc_id,
      |   unnest(regexp_split_to_array(trim(text), '\s+')[1:6]) AS w
      |  FROM documents WHERE doc_id % 113 = 0))""".stripMargin

  /** SimHash near-dup clusters: [[simhashSigCteSql]] signatures, pairs
    * within Hamming distance 3, and the recursive min-label closure.
    * Callers open with `WITH RECURSIVE`; ends after the `lbl` CTE. */
  lazy val simhashClusterCteSql: String =
    s"""$simhashSigCteSql,
      |s2 AS (SELECT doc_id, CAST(${toSignedSql("u")} AS BIGINT) AS s FROM sig),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      | FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
      | WHERE bit_count(xor(a.s, b.s)) <= 3),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      | UNION ALL SELECT id_b, id_a FROM pairs),
      |lbl AS (SELECT doc_id AS id, doc_id AS c FROM documents
      | UNION
      | SELECT e.dst, lbl.c FROM lbl JOIN edges e ON lbl.id = e.src WHERE lbl.c < e.dst)""".stripMargin

  /** 64-bit SimHash per document: FNV-1a token hashes, per-bit votes, and
    * the unsigned signature `sig(doc_id, u)`. */
  lazy val simhashSigCteSql: String =
    s"""toks AS (
      | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
      |th AS (SELECT doc_id, list_transform(ts, t -> CAST(${fnvSql("t", "f")} AS UBIGINT)) AS hs FROM toks),
      |votes AS (SELECT doc_id, list_transform(range(0, 64), b ->
      |   list_sum(list_transform(hs, h -> CASE WHEN
      |     ((h >> CAST(b AS UBIGINT)) & 1::UBIGINT) = 1::UBIGINT THEN 1 ELSE -1 END))) AS vs
      | FROM th),
      |sig AS (SELECT doc_id, list_reduce(list_prepend(0::HUGEINT,
      |   list_transform(range(63, -1, -1), b ->
      |     CASE WHEN vs[CAST(b AS INT) + 1] > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END)),
      |   (a, bit) -> a * 2 + bit) AS u FROM votes)""".stripMargin

  /** Nearest-centroid assignment of every embedding against `c(cid, ce)`:
    * cosine as sequential left folds, ending with
    * `a(vec_id, emb, cid)`. */
  lazy val centroidAssignCteSql: String =
    s"""p AS (
      | SELECT e.vec_id, e.embedding AS emb, c.cid,
      |$cosineFoldSql,
      |sc AS (
      | SELECT vec_id, emb, cid,
      |  CASE WHEN na = 0 OR nc = 0 THEN 0.0 ELSE dot / sqrt(na * nc) END
      |    AS s
      | FROM p),
      |asg AS (
      | SELECT vec_id, emb, cid,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rk
      | FROM sc),
      |a AS (SELECT vec_id, emb, cid FROM asg WHERE rk = 1)""".stripMargin

  /** The `dot`, `na` and `nc` columns of `e.embedding` against `c.ce`,
    * as sequential left folds (the Scala loop's order), through
    * `FROM embeddings e, c)`. */
  lazy val cosineFoldSql: String =
    """  list_reduce(list_prepend(0.0::DOUBLE,
      |    list_transform(range(1, len(e.embedding) + 1),
      |      i -> e.embedding[i]::DOUBLE * c.ce[i])), (x, y) -> x + y) AS dot,
      |  list_reduce(list_prepend(0.0::DOUBLE,
      |    list_transform(range(1, len(e.embedding) + 1),
      |      i -> e.embedding[i]::DOUBLE * e.embedding[i])), (x, y) -> x + y)
      |    AS na,
      |  list_reduce(list_prepend(0.0::DOUBLE,
      |    list_transform(range(1, len(c.ce) + 1),
      |      i -> c.ce[i]::DOUBLE * c.ce[i])), (x, y) -> x + y) AS nc
      | FROM embeddings e, c)""".stripMargin
}
