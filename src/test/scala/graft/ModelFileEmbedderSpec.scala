package graft

import graft.enrich.{EmbedStage, ModelFileEmbedder}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Model-artifact embedder: the real per-executor model-loading pattern
  * (artifact shipped with addFile, weights loaded lazily once per JVM,
  * closure carries only the artifact name) with a deterministic forward
  * pass standing in for the runtime. */
class ModelFileEmbedderSpec extends SparkSpec {
  import spark.implicits._

  private lazy val artifact = {
    val f = Files.createTempDirectory("graft-model")
      .resolve("encoder-v1.gfte").toString
    ModelFileEmbedder.save(f, inDim = 512, outDim = 32)
    spark.sparkContext.addFile(f) // distribute to executors
    f
  }

  test("embedColumn through the artifact: deterministic, unit-norm, " +
       "null/empty semantics preserved") {
    val docs = Seq((1L, "new orleans jazz quartet"),
        (2L, "brass band on frenchmen street"),
        (3L, null.asInstanceOf[String]), (4L, "  "))
      .toDF("id", "text").repartition(4)
    val emb = new ModelFileEmbedder(artifact)
    val out = EmbedStage.embedColumn(docs, "text", "emb", emb)
      .orderBy("id").collect()

    val v1 = out(0).getSeq[Float](2)
    assert(v1.length == 32)
    val norm = math.sqrt(v1.map(x => x * x.toDouble).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    assert(out(2).isNullAt(2) && out(3).isNullAt(2)) // M1 failure semantics

    // replayable: a second pass produces the identical vectors
    val again = EmbedStage.embedColumn(docs, "text", "emb", emb)
      .orderBy("id").collect()
    assert(out.zip(again).forall { case (a, b) => a == b })
    // and equals a driver-side forward pass on the same artifact
    assert(v1 == new ModelFileEmbedder(artifact)
      .embed("new orleans jazz quartet").toSeq)
  }

  test("weights load once per JVM, not per row or per task") {
    val before = ModelFileEmbedder.loadCount.get()
    val docs = (1 to 1000).map(i => (i.toLong, s"doc number $i"))
      .toDF("id", "text").repartition(8)
    val emb = new ModelFileEmbedder(artifact)
    val n = EmbedStage.embedColumn(docs, "text", "emb", emb)
      .filter(col("emb").isNotNull).count()
    assert(n == 1000)
    // local[*] = one executor JVM: 1000 rows in 8 partitions still load
    // the artifact at most once beyond any earlier test's load
    assert(ModelFileEmbedder.loadCount.get() - before <= 1)
  }

  test("distinct texts get distinct directions (projection is not " +
       "degenerate)") {
    val emb = new ModelFileEmbedder(artifact)
    val a = emb.embed("jazz quartet")
    val b = emb.embed("death metal festival")
    val cos = a.zip(b).map { case (x, y) => x * y }.sum
    assert(cos < 0.99f)
  }

  private def sha256(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(java.nio.file.Paths.get(path)))
      .map("%02x".format(_)).mkString

  test("artifact bytes: a seeded artifact keeps its pinned SHA-256") {
    val f = Files.createTempDirectory("graft-model-sha").resolve("m.gfte").toString
    ModelFileEmbedder.save(f, inDim = 64, outDim = 16)
    assert(Files.size(java.nio.file.Paths.get(f)) == 4108L)
    assert(sha256(f) == "8396dd1876ffa7488aae270c1c1204052a8488df8d89ccad06868973177d3095")
  }
}
