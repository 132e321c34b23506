package graft.tools

import graft.vector.VectorFunctions.cosine_sim
import org.apache.spark.sql.functions._

/** Substantiates the codegen-expression-vs-UDF claim for the cosine path:
  * runMain graft.tools.CosineBench [nRows] */
object CosineBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = graft.GraftSession.local(32)
    val dim = 64
    val q = Array.tabulate(dim)(i => math.sin(i).toFloat)
    val df = spark.range(n).select(col("id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => sin(col("id") + i).cast("float")).as("emb")).cache()
    df.count()

    val udfCos = udf { (v: Seq[Float]) =>
      var dot = 0.0; var nv = 0.0; var nq = 0.0
      var i = 0
      while (i < dim) { dot += v(i) * q(i); nv += v(i) * v(i); nq += q(i) * q(i); i += 1 }
      if (nv == 0 || nq == 0) 0.0 else dot / math.sqrt(nv * nq)
    }
    def time(label: String)(f: => Any): Unit = {
      (1 to 3).foreach(_ => f) // warm
      val t0 = System.nanoTime(); f
      println(f"[cosine] $label ${(System.nanoTime() - t0) / 1e9}%.3f s for $n rows")
    }
    time("expression (codegen)")(
      df.select(sum(cosine_sim(col("emb"), lit(q)))).collect())
    time("scala UDF")(
      df.select(sum(udfCos(col("emb")))).collect())

    // prove the expression is inside WholeStageCodegen, not a fallback
    val plan = df.select(cosine_sim(col("emb"), lit(q)).as("s"))
      .queryExecution.executedPlan.toString
    println("[cosine] wholestagecodegen=" + plan.contains("*(1)"))
    spark.stop()
  }
}
