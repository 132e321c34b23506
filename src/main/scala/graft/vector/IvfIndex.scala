package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: vectors assigned to their nearest
  * centroid; a query scores only the vectors in the `nProbe` closest
  * centroid cells.
  *
  * This is the partition-pruning scale path SURVEY §4 declares for the
  * reference's HNSW indexes: at 100 TB the index table is WRITTEN
  * PARTITIONED BY `centroid_id`, so a query's cell filter becomes
  * partition pruning and reads `nProbe/nCentroids` of the data instead
  * of scanning everything. Centroid selection is a deterministic
  * hash-spread sample (k-means would improve recall but adds iterative
  * jobs; the index/search plumbing is identical).
  */
object IvfIndex {

  /** Pick `nCentroids` deterministic representatives: the lowest ids
    * after a multiplicative-hash reorder (spreads picks across the id
    * space; closed-form arithmetic so the oracle can replay it in SQL). */
  def centroids(df: DataFrame, embCol: String, idCol: String,
                nCentroids: Int): Array[(Int, Array[Float])] =
    df.select(col(idCol), col(embCol))
      .withColumn("_h",
        pmod(pmod(col(idCol), lit(1000003L)) * 2654435761L, lit(1000003L)))
      .orderBy(col("_h"), col(idCol))
      .limit(nCentroids)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).toArray) }

  /** The ONE nearest-centroid definition (cosine, double-widened
    * operands, lowest-cid ties) shared by the index-build UDF and the
    * k-means aggregate — extracting it guarantees the two cannot
    * drift. */
  private[vector] def nearestCentroid(cs: Array[(Int, Array[Float])],
                                      v: Seq[Float]): Int = {
    var best = -1; var bestScore = Double.MinValue
    cs.foreach { case (cid, c) =>
      var dot = 0.0; var nv = 0.0; var nc = 0.0
      var i = 0
      val n = math.min(v.length, c.length)
      // widen each operand to double BEFORE multiplying: float-rounded
      // products can flip the argmax on a near-tie vector relative to
      // the cosine_sim codegen and the oracle's ::DOUBLE arithmetic
      while (i < n) {
        dot += v(i).toDouble * c(i); nv += v(i).toDouble * v(i)
        nc += c(i).toDouble * c(i); i += 1
      }
      val s = if (nv == 0 || nc == 0) 0.0 else dot / math.sqrt(nv * nc)
      if (s > bestScore || (s == bestScore && cid < best)) { best = cid; bestScore = s }
    }
    best
  }

  private def nearestCentroidUdf(cs: Array[(Int, Array[Float])]) = udf {
    (v: Seq[Float]) => nearestCentroid(cs, v)
  }

  /** Index table: (centroid_id, id, embedding). Write with
    * `.partitionBy("centroid_id")` for pruned reads at scale. */
  def build(df: DataFrame, embCol: String, idCol: String,
            cs: Array[(Int, Array[Float])]): DataFrame =
    df.withColumn("centroid_id", nearestCentroidUdf(cs)(col(embCol)))

  /** Lloyd k-means refinement of the deterministic seed centroids
    * (cosine assignment, per-dimension mean update). Fully distributed:
    * assignment is the same map-side UDF the index build uses; the
    * update collects only `k × dim` partial means to the driver (the
    * classic Spark k-means shape — driver state is O(k·dim), data never
    * leaves the cluster). Deterministic: hash-spread init, fixed
    * iteration count, tie-break by lowest centroid id.
    *
    * Raises IVF recall over raw hash-picked centroids (IvfIndexSpec
    * measures both) at the cost of `iters` extra passes — the standard
    * train/serve trade of an ANN index build. */
  def kmeansCentroids(df: DataFrame, embCol: String, idCol: String,
                      k: Int, iters: Int = 3): Array[(Int, Array[Float])] = {
    var cs = centroids(df, embCol, idCol, k)
    if (iters == 0 || cs.isEmpty) return cs
    val dim = cs(0)._2.length
    // r12 (guide §2.4/§5): each Lloyd round was a dim× posexplode + a
    // (cluster, dim)-grain shuffle + collect, re-reading the vectors
    // per iteration. One persisted vector RDD + one shuffle-free
    // `aggregate` per round (k·(dim+1) doubles of driver state — the
    // classic Spark k-means shape) replaces all of it; assignment goes
    // through the SAME nearestCentroid the index build uses. Means are
    // the same sums/counts, so centroids match the shuffle form up to
    // float-sum order — inside the recall gates' tolerance.
    val vecs = df.select(col(embCol)).rdd
      .map(_.getSeq[Float](0).toArray).persist()
    try {
      var it = 0
      while (it < iters) {
        val csNow = cs
        val acc = vecs.aggregate(new Array[Double](k * (dim + 1)))(
          (st, v) => {
            val cid = nearestCentroid(csNow, v)
            if (cid >= 0) {
              val base = cid * (dim + 1)
              val n = math.min(dim, v.length)
              var i = 0
              while (i < n) { st(base + i) += v(i); i += 1 }
              st(base + dim) += 1.0
            }
            st
          },
          (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
        cs = cs.map { case (cid, old) =>
          val base = cid * (dim + 1)
          val n = acc(base + dim)
          if (n > 0) {
            val c = new Array[Float](old.length)
            var i = 0
            while (i < old.length) { c(i) = (acc(base + i) / n).toFloat; i += 1 }
            (cid, c)
          } else (cid, old) // empty cluster keeps its seed
        }
        it += 1
      }
      cs
    } finally { vecs.unpersist(); () }
  }

  /** Persist the index AT REST partitioned by cell: one directory per
    * `centroid_id`. A probe's cell filter then prunes at file-LISTING
    * time (PartitionFilters, not PushedFilters) and a search reads
    * ~`nProbe/nCentroids` of the stored bytes — the property that makes
    * IVF the 100 TB serving shape (IvfIndexSpec asserts the plan and
    * the scanned-bytes delta; PLANS.md records the measurement). */
  def writeIndex(index: DataFrame, path: String): Unit =
    // hash rows to their cell before partitionBy: without it every
    // input partition writes a file into every cell directory
    // (numPartitions × nCells small files — the classic partitionBy
    // small-files blowup); with it each cell is written by one task
    // (shuffle.partitions tasks hashed by cell, ≤1 file per cell)
    index.repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** Read an at-rest index written by [[writeIndex]]. Probing through
    * [[search]] on this frame hits the partition-pruned path. */
  def readIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  // -------------------------------------------------- maintenance
  //
  // The centroids are frozen at build time: a drifting corpus
  // (new topic cluster, embedding-model refresh) piles its rows into
  // whichever old cells happen to be nearest, and the index degrades in
  // the two ways that matter at scale — cell-size skew (partition
  // pruning stops paying: a probe of the fat cell reads most of the
  // bytes) and split neighborhoods (a semantic cluster straddling two
  // old cells halves small-nProbe recall). This is the analogue of
  // pgvector's REINDEX guidance for ivfflat after heavy writes.

  /** Health metrics of a stored index. `skew` is maxCellRows /
    * (rows / cells) — 1.0 is perfectly balanced, `cells` means
    * everything in one cell; it catches mass drift into few cells.
    * `meanIntraDist` is the average cosine distance of each row to its
    * cell centroid; it catches ANGULAR drift (a new topic cluster
    * split across old cells keeps the sizes balanced but sits far from
    * every old centroid). Driver state O(nCells); the intra-distance
    * is one distributed aggregate over a broadcast centroid join. */
  final case class IndexStats(cells: Int, rows: Long, maxCellRows: Long,
                              avgCellRows: Double, skew: Double,
                              emptyCells: Int, meanIntraDist: Double)

  def indexStats(index: DataFrame, embCol: String,
                 cs: Array[(Int, Array[Float])]): IndexStats = {
    val nCentroids = cs.length
    val counts = index.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1))
    val rows = counts.sum
    val maxCell = if (counts.isEmpty) 0L else counts.max
    val avg = if (nCentroids == 0) 0.0 else rows.toDouble / nCentroids
    IndexStats(nCentroids, rows, maxCell, avg,
      if (avg == 0) 0.0 else maxCell / avg, nCentroids - counts.length,
      meanIntraDist(index, embCol, cs))
  }

  private[vector] def meanIntraDist(index: DataFrame, embCol: String,
                                    cs: Array[(Int, Array[Float])]): Double = {
    if (cs.isEmpty) return 0.0
    val spark = index.sparkSession
    import spark.implicits._
    val cents = cs.toSeq.map { case (cid, c) => (cid, c) }.toDF("_cid", "_ce")
    index.join(broadcast(cents), col("centroid_id") === col("_cid"))
      .agg(avg(lit(1.0) - VectorFunctions.cosine_sim(col(embCol), col("_ce"))))
      .head() match {
        case r if r.isNullAt(0) => 0.0
        case r => r.getDouble(0)
      }
  }

  /** Quick staleness check on sizes alone (cell-size skew above the
    * threshold). Angular drift needs [[maintainIndex]]'s
    * recluster-if-improves comparison. */
  def isStale(stats: IndexStats, maxSkew: Double = 4.0): Boolean =
    stats.skew > maxSkew

  /** Check a stored index and re-cluster it when degraded — the
    * analogue of pgvector's post-heavy-write REINDEX guidance for
    * ivfflat, decided from measurements instead of guesswork:
    *
    *  1. cell-size skew above `maxSkew` → rebuild (pruning has stopped
    *     paying: probes of the fat cell read most of the bytes);
    *  2. otherwise run k-means over the CURRENT contents and compare
    *     mean intra-cell distance under the candidate vs the live
    *     centroids; adopt the candidate only if it improves by at
    *     least 10% — an index that is
    *     still well-clustered re-derives (deterministically) the same
    *     centroids and the call is a no-op.
    *
    * A rebuild stages into a sibling directory, atomically swaps in,
    * and refreshes the at-rest `_graft_ann` descriptor (if present)
    * with the new centroids so `attach()` and the transparent planner
    * keep working. Returns the live centroids and whether a rebuild
    * happened.
    *
    * Single-writer, like [[HnswIndex.addToGraphIndex]]: the swap is a
    * delete+rename, so probes racing the swap may transiently miss the
    * directory. */
  def maintainIndex(spark: SparkSession, path: String,
                    embCol: String, idCol: String,
                    cs: Array[(Int, Array[Float])], nCentroids: Int,
                    maxSkew: Double = 4.0, kmeansIters: Int = 3)
      : (Array[(Int, Array[Float])], Boolean) = {
    val index = readIndex(spark, path)
    val stats = indexStats(index, embCol, cs)
    val data = index.drop("centroid_id")
    // the old descriptor (if any) must be read BEFORE the swap deletes
    // the directory that holds it — its nProbe carries over
    val oldDesc =
      try Some(graft.plans.AnnCatalog.readDescriptor(path))
      catch { case scala.util.control.NonFatal(_) => None }
    val candidate = {
      val cand = kmeansCentroids(data, embCol, idCol, nCentroids, kmeansIters)
      if (isStale(stats, maxSkew)) cand
      else {
        val candIntra = meanIntraDist(build(data, embCol, idCol, cand)
          .select(col("centroid_id"), col(embCol)), embCol, cand)
        if (candIntra < 0.9 * stats.meanIntraDist) cand
        else return (cs, false)
      }
    }
    // stage the rebuild NEXT TO the index, then swap — the build reads
    // the directory it will replace, so it must never write into it
    val staging = path.stripSuffix("/") + "._rebuild"
    writeIndex(build(data, embCol, idCol, candidate), staging)
    atomicSwap(spark, path, staging)
    oldDesc.foreach {
      case graft.plans.AnnCatalog.IvfEntry(_, e, i, _, nProbe) =>
        graft.plans.AnnCatalog.persistDescriptor(
          graft.plans.AnnCatalog.IvfEntry(path, e, i, candidate, nProbe))
      case _ => ()
    }
    (candidate, true)
  }

  /** Delete `path` and rename `staging` into its place — the staged-
    * sibling rebuild swap every maintenance path shares. Single-writer;
    * stage EVERYTHING that must survive (codes, descriptors, codebooks)
    * into `staging` BEFORE calling — anything written to `path` after
    * the delete sits in a crash window where neither version exists. */
  private[vector] def atomicSwap(spark: SparkSession, path: String,
                                 staging: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(staging), p),
      s"could not swap rebuilt index into $path")
  }

  /** Search: probe the `nProbe` best cells, exact top-k within them. */
  // ---------------------------------------- int8 scalar quantization

  /** Symmetric per-vector int8 quantization (pgvector's halfvec trade,
    * one step further): `code_i = round(127 · v_i / s)`, `s = max|v_i|`
    * — 1 byte per dimension at rest instead of 4. For COSINE ranking
    * the scale cancels (`cos(q, (s/127)·code) = cos(q, code)`), so the
    * quantized probe ranks by `cos(query, code)` directly; `scale` is
    * stored anyway so vectors reconstruct to within 1/254 per dim
    * (maintenance, debugging, future L2 support). Deterministic: pure
    * per-row arithmetic, half-up rounding.
    *
    * The 100 TB point: a probe's scan bytes are the embedding column
    * of the probed cells — quantized cells store that column at ~¼
    * the bytes, compounding with the nProbe/nCells partition pruning
    * (spec asserts the at-rest ratio; q185 gates recall). */
  private val quantizeUdf = udf { (v: Seq[Float]) =>
    var mx = 0f
    v.foreach(x => if (math.abs(x) > mx) mx = math.abs(x))
    val sc = if (mx == 0f) 1f else mx
    val out = new Array[Byte](v.length)
    var i = 0
    while (i < v.length) {
      out(i) = math.round(v(i) / sc * 127f).toByte
      i += 1
    }
    (out, sc)
  }

  /** Quantize a built index (`centroid_id`, idCol, embCol) to its
    * int8 at-rest form: (centroid_id, idCol, q8: binary, scale). Write
    * with [[writeIndex]] for the same cell-pruned layout. */
  def quantizeIndex(index: DataFrame, embCol: String,
                    idCol: String): DataFrame =
    index.withColumn("_q", quantizeUdf(col(embCol)))
      .select(col("centroid_id"), col(idCol),
        col("_q._1").as("q8"), col("_q._2").as("scale"))

  /** Cosine between a float query and an int8 code vector. */
  private def codeCosineUdf(q: Array[Float]) = udf { (code: Array[Byte]) =>
    var dot = 0.0; var nq = 0.0; var nc = 0.0
    var i = 0
    val n = math.min(q.length, code.length)
    while (i < n) {
      val c = code(i).toDouble
      dot += q(i) * c; nq += q(i).toDouble * q(i); nc += c * c
      i += 1
    }
    if (nq == 0 || nc == 0) 0.0 else dot / math.sqrt(nq * nc)
  }

  /** [[search]] over a quantized index: identical cell routing and
    * partition pruning, scores computed on the int8 codes (~¼ the scan
    * bytes). Approximate — rank error bounded by the quantization step;
    * gate with a recall floor like any approximate probe (q185). */
  def searchQuantized(index: DataFrame, idCol: String,
                      cs: Array[(Int, Array[Float])], query: Array[Float],
                      k: Int, nProbe: Int): DataFrame = {
    val probeCells = routeCellsFor(cs, query, nProbe)
    index.filter(col("centroid_id")
        .isin(probeCells.map(Integer.valueOf).toIndexedSeq: _*))
      .select(col(idCol), codeCosineUdf(query)(col("q8")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  private[vector] def routeCellsFor(cs: Array[(Int, Array[Float])],
                                    query: Array[Float], nProbe: Int): Array[Int] =
    cs.map { case (cid, c) =>
      var dot = 0.0; var nq = 0.0; var nc = 0.0
      var i = 0
      val n = math.min(query.length, c.length)
      while (i < n) {
        dot += query(i) * c(i); nq += query(i) * query(i)
        nc += c(i) * c(i); i += 1
      }
      (cid, if (nq == 0 || nc == 0) 0.0 else dot / math.sqrt(nq * nc))
    }.sortBy { case (cid, s) => (-s, cid) }.take(nProbe).map(_._1)

  def search(index: DataFrame, embCol: String, idCol: String,
             cs: Array[(Int, Array[Float])], query: Array[Float],
             k: Int, nProbe: Int): DataFrame = {
    val probeCells = routeCellsFor(cs, query, nProbe)
    // cell filter = partition pruning on a partitionBy("centroid_id") table
    VectorFunctions.topK(
      index.filter(col("centroid_id").isin(probeCells.map(Integer.valueOf).toIndexedSeq: _*)),
      embCol, idCol, query, k)
  }
}
