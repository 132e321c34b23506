package graft

import graft.vector.{IvfIndex, PqIndex, VectorFunctions}

class PqIndexSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(29)
  private val dim = 32
  private val centers =
    Array.fill(8)(Array.fill(dim)(rng.nextGaussian().toFloat * 5))
  private lazy val data = (0 until 4000).map { i =>
    val c = centers(i % 8)
    (i.toLong, c.map(x => (x + rng.nextGaussian() * 1.0).toFloat))
  }.toDF("id", "emb")
  private lazy val cb =
    PqIndex.train(data, "emb", "id", dim, m = 8, ksub = 64, iters = 3)

  test("codes are m bytes and encoding is deterministic") {
    val codes = PqIndex.encode(data, "emb", "id", cb)
    val twice = PqIndex.encode(data, "emb", "id", cb)
    val a = codes.orderBy("id").collect().map(r => r.getAs[Array[Byte]]("pq"))
    val b = twice.orderBy("id").collect().map(r => r.getAs[Array[Byte]]("pq"))
    assert(a.length == 4000 && a.forall(_.length == 8))
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("ADC ranks product-structured data (PQ's model) near-exactly") {
    // vectors built AS products of per-subspace prototypes + small
    // noise — the structure PQ assumes. Neighbor margins here are
    // prototype-scale, far above quantization error, so the 8-byte
    // codes should rank like the floats. (On an isotropic Gaussian blob
    // with the query at its center, margins sit BELOW quantization
    // error and no PQ ranks well — that regime is covered by the
    // shortlist+refine contract instead.)
    val prng = new scala.util.Random(31)
    val protos = Array.fill(8, 8)(Array.fill(4)(prng.nextGaussian().toFloat * 5))
    val pdata = (0 until 4000).map { i =>
      val v = new Array[Float](dim)
      for (s <- 0 until 8; d <- 0 until 4)
        v(s * 4 + d) = protos(s)((i * (s + 3)) % 8)(d) +
          prng.nextGaussian().toFloat * 0.2f
      (i.toLong, v)
    }.toDF("id", "emb")
    val pcb = PqIndex.train(pdata, "emb", "id", dim, m = 8, ksub = 64,
      iters = 3)
    val query = pdata.filter($"id" === 7L).select("emb")
      .head().getSeq[Float](0).toArray
    val codes = PqIndex.encode(pdata, "emb", "id", pcb)
    val short = PqIndex.searchAdc(codes, "id", pcb, query, k = 100)
      .collect().map(_.getLong(0)).toSet
    val exact = VectorFunctions.topK(pdata, "emb", "id", query, 20)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect short).size / 20.0
    assert(recall >= 0.8, s"ADC recall@100 $recall < 0.8")
  }

  test("refined search recovers exact top-k on the corpus embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ecb = PqIndex.train(emb, "embedding", "vec_id", 64, m = 8,
      ksub = 64, iters = 3)
    val query = emb.filter($"vec_id" === 0L).select("embedding")
      .head().getSeq[Float](0).toArray
    val codes = PqIndex.encode(emb, "embedding", "vec_id", ecb)
    val refined = PqIndex.searchAdcRefined(codes, emb, "embedding",
        "vec_id", ecb, query, k = 20, shortlist = 200)
      .collect().map(_.getLong(0)).toSet
    val exact = VectorFunctions.topK(emb, "embedding", "vec_id", query, 20)
      .collect().map(_.getLong(0)).toSet
    val recall = (refined intersect exact).size / 20.0
    assert(recall >= 0.9, s"refined recall $recall < 0.9")
  }

  test("IVF-PQ at rest: cell-pruned probe, codes >=8x smaller than floats") {
    val cs = IvfIndex.centroids(data, "emb", "id", 8)
    val index = IvfIndex.build(data, "emb", "id", cs)
    val tmp = java.nio.file.Files.createTempDirectory("pq-ivf").toString
    IvfIndex.writeIndex(index, s"$tmp/f")
    IvfIndex.writeIndex(
      PqIndex.encode(index, "emb", "id", cb, keep = Seq("centroid_id")),
      s"$tmp/q")

    def bytes(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(dir))
    }
    assert(bytes(s"$tmp/q") * 8 < bytes(s"$tmp/f"),
      s"PQ store ${bytes(s"$tmp/q")} not 8x under float ${bytes(s"$tmp/f")}")

    val stored = IvfIndex.readIndex(spark, s"$tmp/q")
    val cells = stored.select("centroid_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(cells.size > 1, "index collapsed to one cell")
    assert(ivfAdc(stored, cs, cb, centers(1), k = 20, nProbe = 3).nonEmpty)
  }

  /** ADC top-k over the codes of the `nProbe` cells nearest `q`. */
  private def ivfAdc(codes: org.apache.spark.sql.DataFrame,
                     cs: Array[(Int, Array[Float])], cb: PqIndex.Codebook,
                     q: Array[Float], k: Int, nProbe: Int): Seq[Long] =
    PqIndex.searchAdc(
        codes.filter(org.apache.spark.sql.functions.col("centroid_id")
          .isin(IvfProbeCells(cs, q, nProbe).map(Integer.valueOf).toSeq: _*)),
        "id", cb, q, k)
      .collect().map(_.getLong(0)).toSeq

  private def IvfProbeCells(cs: Array[(Int, Array[Float])],
                            q: Array[Float], nProbe: Int): Array[Int] = {
    cs.map { case (cid, c) =>
      var dot = 0.0; var nq = 0.0; var nc = 0.0
      var i = 0
      while (i < q.length) {
        dot += q(i) * c(i); nq += q(i) * q(i); nc += c(i) * c(i); i += 1
      }
      (cid, if (nq == 0 || nc == 0) 0.0 else dot / math.sqrt(nq * nc))
    }.sortBy { case (cid, s) => (-s, cid) }.take(nProbe).map(_._1)
  }

  test("residual PQ halves reconstruction error on many-cluster data " +
       "at identical bytes; recall does not regress") {
    // 64 clusters vs a 64-code-per-subspace codebook: raw PQ spends
    // its codes re-encoding WHICH cluster (which the IVF cell id
    // already narrows); residuals relative to the 16 IVF centroids
    // span a far tighter range, so the same 8 bytes reconstruct much
    // closer. Reconstruction MSE is the metric PQ training minimizes
    // and the sharp, seed-stable discriminator; under cosine the
    // recall gain on synthetic near-tie blobs is real but thin, so it
    // is asserted as no-regression (the serving contract remains
    // shortlist + exact refine either way).
    val mrng = new scala.util.Random(43)
    val mcenters = Array.fill(64)(
      Array.fill(dim)(mrng.nextGaussian().toFloat * 5))
    val mdata = (0 until 6400).map { i =>
      val c = mcenters(i % 64)
      (i.toLong, c.map(x => (x + mrng.nextGaussian() * 1.0).toFloat))
    }.toDF("id", "emb")
    // k-means cells at nlist ≈ cluster count — the IVFPQ operating
    // point (residuals are only small relative to cell MEANS; against
    // hash-sampled routing points they can exceed the raw spread)
    val cs = IvfIndex.kmeansCentroids(mdata, "emb", "id", 64, iters = 3)
    val index = IvfIndex.build(mdata, "emb", "id", cs)
    val rawCb = PqIndex.train(mdata, "emb", "id", dim, m = 8, ksub = 64,
      iters = 3)
    val rcb = PqIndex.trainResidual(index, "emb", "id", cs, dim,
      m = 8, ksub = 64, iters = 3)
    val rawCodes = PqIndex.encode(index, "emb", "id", rawCb,
      keep = Seq("centroid_id"))
    val resCodes = PqIndex.encodeResidual(index, "emb", "id", rcb, cs)
    assert(resCodes.head().getAs[Array[Byte]]("pq").length == 8)

    // reconstruction error, computed driver-side from collected rows
    val vecs = index.select($"id", $"emb", $"centroid_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      .toSeq
    def decode(cb: PqIndex.Codebook, code: Array[Byte]): Array[Float] = {
      val out = new Array[Float](dim)
      for (s <- 0 until cb.m; i <- 0 until cb.subDim)
        out(s * cb.subDim + i) = cb.cents(s)(code(s) & 0xff)(i)
      out
    }
    val rawByCid = rawCodes.collect()
      .map(r => r.getLong(1) -> r.getAs[Array[Byte]]("pq")).toMap
    val resByCid = resCodes.collect()
      .map(r => r.getLong(1) -> r.getAs[Array[Byte]]("pq")).toMap
    def mse(rec: (Long, Array[Float], Int) => Array[Float]): Double =
      vecs.map { case (id, v, cid) =>
        val h = rec(id, v, cid)
        v.indices.map(i => math.pow(v(i) - h(i), 2)).sum
      }.sum / vecs.size
    val rawErr = mse((id, _, _) => decode(rawCb, rawByCid(id)))
    val resErr = mse((id, _, cid) => {
      val d = decode(rcb, resByCid(id)); val c = cs(cid)._2
      Array.tabulate(dim)(i => c(i) + d(i))
    })
    info(s"reconstruction MSE: raw=$rawErr residual=$resErr")
    assert(resErr < 0.7 * rawErr,
      s"residual MSE $resErr not well under raw $rawErr")

    // the distributed audit aggregate (what q196 gates on — nothing
    // corpus-proportional reaches the driver) matches this test's
    // driver-side oracle to FP-reorder tolerance, both modes
    val distRaw = PqIndex.reconstructionMse(index, "emb", "id",
      rawCodes, rawCb)
    val distRes = PqIndex.reconstructionMse(index, "emb", "id",
      resCodes, rcb, cs)
    assert(math.abs(distRaw - rawErr) <= 1e-6 * math.max(1.0, rawErr),
      s"distributed raw MSE $distRaw != driver oracle $rawErr")
    assert(math.abs(distRes - resErr) <= 1e-6 * math.max(1.0, resErr),
      s"distributed residual MSE $distRes != driver oracle $resErr")

    val query = mdata.filter($"id" === 130L).select("emb")
      .head().getSeq[Float](0).toArray
    val exact = VectorFunctions.topK(mdata, "emb", "id", query, 20)
      .collect().map(_.getLong(0)).toSet
    def recall(ids: Set[Long]): Double = (ids intersect exact).size / 20.0
    val raw = recall(ivfAdc(rawCodes, cs, rawCb, query, k = 100,
      nProbe = 8).toSet)
    val res = recall(PqIndex.searchIvfAdcResidual(resCodes, "id", cs, rcb,
      query, k = 100, nProbe = 8).collect().map(_.getLong(0)).toSet)
    info(s"recall@100: raw=$raw residual=$res")
    assert(res >= raw - 0.05, s"residual recall $res regressed vs raw $raw")
  }

}
