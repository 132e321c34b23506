package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Cosine similarity over two `array<float>` embedding columns as a native
  * Catalyst expression with whole-stage codegen.
  *
  * Re-expresses the reference's pgvector cosine surface (HNSW
  * `vector_cosine_ops` indexes, `src/shared/db/database.py:201-210`;
  * `add_vector_embeddings_to_core_tables.sql:17-27`) as a Spark scalar
  * expression. Accumulation is in double precision regardless of the
  * float32 storage so results are stable and oracle-comparable.
  *
  * A codegen'd Expression (not a Scala UDF) keeps the vector scan inside
  * WholeStageCodegen — at 100 TB the brute-force score pass is a pure
  * columnar scan with no ser/de boundary.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: two cosine_sim calls can share one codegen function;
      // fixed locals would collide and force interpreter fallback
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {

  /** Column API: `cosine_sim($"emb", lit_query)` → double in [-1, 1]. */
  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** cosine distance = 1 - similarity (pgvector `<=>` semantics). */
  def cosine_dist(a: Column, b: Column): Column =
    lit(1.0) - cosine_sim(a, b)

  /** Brute-force exact top-k by cosine similarity against one query vector.
    *
    * Physical shape at scale: a single codegen'd scan computing the score,
    * then a TakeOrderedAndProject (orderBy+limit fuses into per-partition
    * top-k + driver merge of k·numPartitions rows — no full sort, no
    * shuffle of the scored set). Ties broken by id for determinism.
    */
  def topK(df: DataFrame, embCol: String, idCol: String,
           query: Array[Float], k: Int): DataFrame = {
    val q = lit(query)
    df.select(col(idCol), cosine_sim(col(embCol), q).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Sign-random-projection LSH bucketing (Charikar SimHash family) for
    * approximate nearest neighbors: `nPlanes` deterministic ±1
    * hyperplanes (Rademacher entries derived from FNV-1a of the
    * plane:dim index, so the oracle can rebuild them in SQL — same
    * family as gaussian planes for angular LSH), each vector → sign-bit
    * bucket. Candidates = same bucket; at scale the bucket-join replaces
    * the O(n) scan with a shuffle on bucket id, pruning ~
    * (1/2^nPlanes) of the data per query. */
  def lshBucket(df: DataFrame, embCol: String, dim: Int,
                nPlanes: Int = 8): DataFrame = {
    val planes = hyperplanes(dim, nPlanes)
    val bucketUdf = udf { (v: Seq[Float]) =>
      var b = 0
      var p = 0
      while (p < nPlanes) {
        var dot = 0.0
        val plane = planes(p)
        var i = 0
        val n = math.min(v.length, dim)
        while (i < n) { dot += v(i) * plane(i); i += 1 }
        if (dot >= 0) b |= (1 << p)
        p += 1
      }
      b
    }
    df.withColumn("lsh_bucket", bucketUdf(col(embCol)))
  }

  /** ANN top-k: scan only vectors in the query's LSH bucket (plus
    * neighboring buckets at Hamming distance 1 for recall). */
  def annTopK(df: DataFrame, embCol: String, idCol: String,
              query: Array[Float], k: Int, dim: Int,
              nPlanes: Int = 8): DataFrame = {
    val planes = hyperplanes(dim, nPlanes)
    var qb = 0
    for (p <- 0 until nPlanes) {
      var dot = 0.0
      var i = 0
      while (i < math.min(query.length, dim)) { dot += query(i) * planes(p)(i); i += 1 }
      if (dot >= 0) qb |= (1 << p)
    }
    val probe = qb +: (0 until nPlanes).map(p => qb ^ (1 << p)) // multi-probe
    // a prebuilt index (lshBucket output, persisted or written
    // partitionBy("lsh_bucket")) is reused as-is: re-deriving the bucket
    // column would re-run the projection UDF over the whole corpus on
    // EVERY query — the build/serve split is the entire point of an index
    val bucketed =
      if (df.columns.contains("lsh_bucket")) df
      else lshBucket(df, embCol, dim, nPlanes)
    topK(bucketed.filter(col("lsh_bucket").isin(probe: _*)), embCol, idCol, query, k)
  }

  private def hyperplanes(dim: Int, nPlanes: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes)(p => Array.tabulate(dim)(i =>
      if ((graft.text.RollingHash.hashToken(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$p:$i")) & 1L) == 0L)
        1.0 else -1.0))
}
