package graft

import graft.vector.VectorFunctions
import graft.vector.VectorFunctions.cosine_sim
import org.apache.spark.sql.functions._

class VectorSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f)),
    (2L, Array(1.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f)),
  ).toDF("id", "emb")

  test("cosine_sim: identical 1, orthogonal 0, opposite -1, 45deg") {
    val q = lit(Array(1.0f, 0.0f, 0.0f))
    val got = vecs.orderBy("id").select(cosine_sim($"emb", q)).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) - 1.0 / math.sqrt(2)) < 1e-12)
    assert(math.abs(got(3) + 1.0) < 1e-12)
  }

  test("cosine_sim null-safe and zero-vector-safe") {
    val df = Seq(
      (1L, Option(Array(0.0f, 0.0f))),
      (2L, Option.empty[Array[Float]]),
    ).toDF("id", "emb")
    val got = df.orderBy("id")
      .select(cosine_sim($"emb", lit(Array(1.0f, 0.0f))))
      .collect()
    assert(got(0).getDouble(0) == 0.0) // zero vector -> 0, not NaN
    assert(got(1).isNullAt(0))         // null in -> null out
  }

  test("interpreted eval matches codegen") {
    val expr = graft.vector.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.5f, 0.5f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.5f, -0.5f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)))
    assert(expr.eval(null).asInstanceOf[Double] == 0.0)
  }

  test("topK returns k best with deterministic tie-break") {
    val top = VectorFunctions.topK(vecs, "emb", "id", Array(1.0f, 0.0f, 0.0f), 2)
      .collect().map(_.getLong(0))
    assert(top.sameElements(Array(0L, 2L)))
  }

  test("SQL registration works") {
    vecs.createOrReplaceTempView("v")
    val n = spark.sql(
      "SELECT id FROM v WHERE cosine_sim(emb, array(1.0f, 0.0f, 0.0f)) > 0.9")
      .count()
    assert(n == 1)
  }

  test("annTopK finds the exact neighbors for clustered data") {
    val rng = new scala.util.Random(7)
    val base = Array.fill(16)(rng.nextGaussian().toFloat)
    val data = (0 until 200).map { i =>
      val v = base.map(x => x + (if (i < 100) 0.01f else 10f) * rng.nextGaussian().toFloat)
      (i.toLong, v)
    }.toDF("id", "emb")
    val ann = VectorFunctions.annTopK(data, "emb", "id", base, 10, dim = 16, nPlanes = 4)
      .collect().map(_.getLong(0)).toSet
    val exact = VectorFunctions.topK(data, "emb", "id", base, 10)
      .collect().map(_.getLong(0)).toSet
    assert((ann intersect exact).size >= 7) // high recall on easy clusters
  }
}
