package graft.tools

import graft.vector.{HnswIndex, IvfIndex, VectorFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN recall/latency scale-up experiment (PLANS.md "ANN at 10×"):
  * replicate the embeddings table K× with a deterministic per-copy
  * perturbation (identical copies would make exact top-k all-ties and
  * recall meaningless), then measure, per method, recall@k against the
  * brute-force ground truth and wall time:
  *   - brute: exact codegen cosine + TakeOrdered (q18's shape)
  *   - lsh:   sign-LSH multi-probe (q27's shape, nPlanes=6)
  *   - ivf16: IVF with q39's parameters (16 cells, nProbe 4)
  *   - ivf64: IVF scaled with the corpus (64 cells, nProbe 8 ≈ sqrt-N
  *            sizing — the knob a 10× corpus should turn)
  * `runMain graft.tools.AnnScale [srcSf] [k(copies)] [kNN] [nQueries]` */
object AnnScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val kNN = args.lift(2).map(_.toInt).getOrElse(20)
    val nQueries = args.lift(3).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local(32)

    val base = spark.read.parquet(s"$src/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    val OFF = 100000000L
    // deterministic per-(copy, id, dim) jitter ±1% so every replicated
    // vector is distinct but stays in its neighborhood
    val perturb = udf { (v: Seq[Float], id: Long, c: Long) =>
      val out = new Array[Float](v.length)
      var i = 0
      while (i < v.length) {
        val h = graft.text.RollingHash.hashToken(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"$c:$id:$i"))
        out(i) = v(i) + (((h % 1000L + 1000L) % 1000L) / 1000.0f - 0.5f) * 0.02f
        i += 1
      }
      out
    }
    val corpus = base
      .crossJoin(spark.range(copies).select(col("id").as("_copy")))
      .select((col("vec_id") + col("_copy") * OFF).as("vec_id"),
        perturb(col("embedding"), col("vec_id"), col("_copy")).as("embedding"))
      .persist()
    val n = corpus.count()
    println(s"[annscale] corpus: $n vectors, dim=$dim (${copies}x $src)")

    val queries: Seq[(Long, Array[Float])] = base.orderBy("vec_id")
      .limit(nQueries).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def ids(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet

    // ground truth + brute timing
    var bruteSec = 0.0
    val truth = queries.map { case (qid, q) =>
      val (r, s) = timed(ids(VectorFunctions.topK(corpus, "embedding", "vec_id", q, kNN)))
      bruteSec += s
      qid -> r
    }.toMap

    def evalMethod(name: String)(run: Array[Float] => DataFrame): Unit = {
      var sec = 0.0
      var hit = 0
      var tot = 0
      queries.foreach { case (qid, q) =>
        val (r, s) = timed(ids(run(q)))
        sec += s
        hit += (r intersect truth(qid)).size
        tot += truth(qid).size
      }
      val recall = hit.toDouble / tot
      println(f"[annscale] $name%-7s recall@$kNN=${recall}%.3f  total=${sec}%.2fs  per-query=${sec / nQueries}%.3fs")
    }

    println(f"[annscale] brute   recall@$kNN=1.000  total=${bruteSec}%.2fs  per-query=${bruteSec / nQueries}%.3fs")

    // LSH: bucket ONCE (that's the index — at scale it's a
    // partitionBy(lsh_bucket) table), probe per query
    val nPlanes = 6
    val (lshIndex, lshBuild) = timed {
      val ix = VectorFunctions.lshBucket(corpus, "embedding", dim, nPlanes).persist()
      ix.count(); ix
    }
    println(f"[annscale] lsh     index build: ${lshBuild}%.2fs (bucket pass)")
    evalMethod("lsh")(q =>
      VectorFunctions.annTopK(lshIndex, "embedding", "vec_id", q, kNN, dim, nPlanes))

    def ivf(tag: String, cs: Array[(Int, Array[Float])], nProbe: Int): Unit = {
      val (index, assignSec) = timed {
        val ix = IvfIndex.build(corpus, "embedding", "vec_id", cs).persist()
        ix.count(); ix
      }
      println(f"[annscale] $tag%-7s index assign: ${assignSec}%.2fs")
      evalMethod(tag)(q =>
        IvfIndex.search(index, "embedding", "vec_id", cs, q, kNN, nProbe))
      index.unpersist()
    }
    def seeds(k: Int) = IvfIndex.centroids(corpus, "embedding", "vec_id", k)
    def kmeans(k: Int) = IvfIndex.kmeansCentroids(corpus, "embedding", "vec_id", k)
    ivf("ivf16h", seeds(16), 4)   // q39's exact shape: hash-seed, nProbe 4
    ivf("ivf16k", kmeans(16), 4)  // + Lloyd refinement
    ivf("ivf64k", kmeans(64), 8)  // cells scaled ~sqrt(N) with the corpus

    // HNSW (q166's operator) at serve params: per-partition sub-index
    // graphs, ONE build pass serving every query via searchTopKMany —
    // report the all-queries wall time and the amortized per-query cost
    val (hnswRows, hnswSec) = timed {
      // partition the input so each sub-graph stays index-sized (the
      // documented deployment shape): the parquet corpus is ~2 input
      // splits, which would build two 10k-node graphs on 2 cores —
      // the repartition cost is INCLUDED in the measured time
      HnswIndex.searchTopKMany(corpus.repartition(32), "embedding",
        "vec_id", queries, kNN, HnswIndex.Params(m = 8,
          efConstruction = 64, efSearch = 48)).collect()
    }
    val byQ = hnswRows.groupBy(_.getLong(0))
    var hit = 0
    var tot = 0
    queries.foreach { case (qid, _) =>
      val got = byQ.getOrElse(qid, Array.empty).map(_.getLong(1)).toSet
      hit += (got intersect truth(qid)).size
      tot += truth(qid).size
    }
    println(f"[annscale] hnsw    recall@$kNN=${hit.toDouble / tot}%.3f  " +
      f"total=${hnswSec}%.2fs (build+all probes)  " +
      f"per-query=${hnswSec / nQueries}%.3fs amortized")

    // Routed HNSW (q178's operator): at-rest centroid-partitioned
    // graphs — a probe reads nProbe/16 of the stored bytes (partition
    // pruning, like IVF) and walks ef-bounded within each probed cell
    // (like HNSW). Build persisted once, probes through the stored
    // index — the serve split.
    val rdir = java.nio.file.Files
      .createTempDirectory("annscale-routed").toString + "/idx"
    val csR = kmeans(16)
    val (_, rBuild) = timed {
      graft.vector.RoutedHnsw.writeRoutedIndex(corpus.repartition(32),
        "embedding", "vec_id", rdir, csR,
        HnswIndex.Params(m = 8, efConstruction = 64))
    }
    println(f"[annscale] routed  index build+persist: ${rBuild}%.2fs (16 cells, k-means)")
    evalMethod("routed")(q =>
      graft.vector.RoutedHnsw.search(spark, rdir, "vec_id", csR, q, kNN,
        nProbe = 4, HnswIndex.Params(efSearch = 48)))
    spark.stop()
  }
}
