package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011) — the third at-rest code
  * family next to float32 and int8 SQ (IvfIndex.quantizeIndex): the
  * vector is split into `m` subspaces, each subvector replaced by the
  * id of its nearest per-subspace centroid, so a D-dim float vector
  * stores as `m` BYTES (64-dim → 8 bytes, 32× under float, 8× under
  * SQ8). Probes score codes against a per-query ADC distance table —
  * `m` table lookups per candidate, no float vector ever read.
  *
  * Scale design mirrors the reference's pgvector index contract the way
  * the SQ8 path does (reference: `database.py:201-210` index-once,
  * probe-many):
  *  - training is Lloyd's over SUBVECTORS with all `m` subspaces
  *    assigned in one map pass per iteration; the driver only ever
  *    holds the codebook itself (m·ksub·subDim floats — KBs);
  *  - codes ride the same `partitionBy(centroid_id)` layout as every
  *    other IVF artifact, so cell pruning still happens at file-listing
  *    time and the probed bytes are m-byte codes, not 4·D floats;
  *  - like SQ8 (q185), PQ trades rank exactness for bytes — it is an
  *    explicit API gated by a recall floor (q190), never a transparent
  *    rewrite.
  */
object PqIndex {

  /** [m][ksub][subDim] per-subspace centroids. */
  final case class Codebook(m: Int, subDim: Int,
                            cents: Array[Array[Array[Float]]]) {
    def ksub: Int = cents(0).length
  }

  /** Train per-subspace codebooks with deterministic seeding (the same
    * multiplicative-hash row pick as [[IvfIndex.centroids]], sliced
    * into subvectors) and `iters` Lloyd rounds. Each round is ONE
    * assignment pass (a single UDF emits all m codes per row) plus ONE
    * (sub, code, dim)-grain mean aggregate whose result — the whole
    * next codebook — is the only thing collected. */
  def train(df: DataFrame, embCol: String, idCol: String, dim: Int,
            m: Int = 8, ksub: Int = 16, iters: Int = 3): Codebook = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    require(ksub >= 2 && ksub <= 256,
      s"ksub $ksub must fit a one-byte code (2..256)")
    val subDim = dim / m
    val seeds = IvfIndex.centroids(df, embCol, idCol, ksub)
    var cb = Codebook(m, subDim,
      Array.tabulate(m)(s => seeds.map(_._2.slice(s * subDim, (s + 1) * subDim))))
    if (iters == 0) return cb
    // r12 (guide §2.4/§5): each Lloyd round was a 64× posexplode + a
    // (sub, code, dim)-grain SHUFFLE + collect, re-reading (and for the
    // residual form re-deriving) the vectors every iteration. One
    // persisted vector RDD + one shuffle-free `aggregate` per round
    // replaces all of it — every partition folds its vectors into a
    // m·ksub·(subDim+1) sums+counts array (KBs) and the partials merge
    // on the driver, the HashedLogReg/MLlib-kmeans shape. Means are the
    // same sums/counts (double), so the codebook matches the shuffle
    // form up to float-sum order — the recall/MSE gates' tolerance.
    val vecs = df.select(col(embCol)).rdd
      .map(_.getSeq[Float](0).toArray).persist()
    try {
      val cells = m * ksub
      var it = 0
      while (it < iters) {
        val cbNow = cb
        val mN = m; val kN = ksub; val sdN = subDim
        val acc = vecs.aggregate(new Array[Double](cells * (sdN + 1)))(
          (st, v) => {
            val code = assignCodes(cbNow, v)
            var s = 0
            while (s < mN) {
              val k = code(s) & 0xff
              val base = (s * kN + k) * (sdN + 1)
              var i = 0
              while (i < sdN) { st(base + i) += v(s * sdN + i); i += 1 }
              st(base + sdN) += 1.0
              s += 1
            }
            st
          },
          (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
        val next = cb.cents.map(_.map(_.clone()))
        var s = 0
        while (s < mN) {
          var k = 0
          while (k < kN) {
            val base = (s * kN + k) * (sdN + 1)
            val n = acc(base + sdN)
            if (n > 0) { // empty clusters keep their centroid
              var i = 0
              while (i < sdN) {
                next(s)(k)(i) = (acc(base + i) / n).toFloat; i += 1
              }
            }
            k += 1
          }
          s += 1
        }
        cb = Codebook(m, subDim, next)
        it += 1
      }
      cb
    } finally { vecs.unpersist(); () }
  }

  /** m-byte PQ code per vector: per subspace, the L2-nearest centroid
    * (ties → lowest code, deterministic). */
  private def assignCodes(cb: Codebook, v: Seq[Float]): Array[Byte] = {
    val out = new Array[Byte](cb.m)
    var s = 0
    while (s < cb.m) {
      val off = s * cb.subDim
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < cb.cents(s).length) {
        val c = cb.cents(s)(j)
        var d = 0.0; var i = 0
        while (i < cb.subDim) {
          val x = v(off + i).toDouble - c(i); d += x * x; i += 1
        }
        if (d < bestD) { best = j; bestD = d }
        j += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  private def encodeUdf(cb: Codebook) =
    udf((v: Seq[Float]) => assignCodes(cb, v))

  /** Encode to the at-rest code frame: (keep..., idCol, pq). Pass
    * `keep = Seq("centroid_id")` on a built IVF index and write with
    * [[IvfIndex.writeIndex]] to get the cell-pruned IVF-PQ layout. */
  def encode(df: DataFrame, embCol: String, idCol: String, cb: Codebook,
             keep: Seq[String] = Nil): DataFrame =
    df.select((keep.map(col) :+ col(idCol) :+
      encodeUdf(cb)(col(embCol)).as("pq")): _*)

  /** Per-query ADC tables, built ONCE driver-side: per-(subspace, code)
    * query dot products, per-(subspace, code) square norms, and the
    * query norm. Shared by the raw and residual score paths. */
  private def adcTables(cb: Codebook, query: Array[Float])
      : (Array[Array[Double]], Array[Array[Double]], Double) = {
    val dot = Array.tabulate(cb.m, cb.ksub) { (s, j) =>
      val c = cb.cents(s)(j); val off = s * cb.subDim
      var d = 0.0; var i = 0
      while (i < cb.subDim) { d += query(off + i).toDouble * c(i); i += 1 }
      d
    }
    val sq = Array.tabulate(cb.m, cb.ksub) { (s, j) =>
      val c = cb.cents(s)(j)
      var n = 0.0; var i = 0
      while (i < cb.subDim) { n += c(i).toDouble * c(i); i += 1 }
      n
    }
    var qn = 0.0
    query.foreach(x => qn += x.toDouble * x)
    (dot, sq, math.sqrt(qn))
  }

  /** ADC scoring: each candidate's approximate cosine is m lookups. */
  private def adcUdf(cb: Codebook, query: Array[Float]) = {
    val (dot, sq, qNorm) = adcTables(cb, query)
    udf { (code: Array[Byte]) =>
      var d = 0.0; var n = 0.0; var s = 0
      while (s < code.length) {
        val j = code(s) & 0xff
        d += dot(s)(j); n += sq(s)(j); s += 1
      }
      if (qNorm == 0 || n == 0) 0.0 else d / (qNorm * math.sqrt(n))
    }
  }

  /** Exact-over-codes top-k: rank every code row by ADC cosine. */
  def searchAdc(codes: DataFrame, idCol: String, cb: Codebook,
                query: Array[Float], k: Int): DataFrame =
    codes.select(col(idCol), adcUdf(cb, query)(col("pq")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  // ---------------------------------------------------- residual PQ
  //
  // Raw-vector PQ quantizes the GLOBAL point cloud: on clustered data
  // most of each code's resolution is spent telling clusters apart —
  // information the IVF cell id already carries — and within-cluster
  // ranking collapses. Residual encoding (faiss's IVFPQ default)
  // quantizes v − centroid(cell) instead: the full per-subspace
  // codebook models the LOCAL noise around each centroid, recovering
  // within-cell resolution at identical at-rest bytes.

  // cid-KEYED, not positional: routeCellsFor/nearestCentroidUdf carry
  // explicit cell ids, so a filtered or re-assembled cs array must not
  // silently subtract the wrong centroid
  private def residualUdf(cs: Array[(Int, Array[Float])]) = {
    val byId = cs.toMap
    udf { (v: Seq[Float], cid: Int) =>
      val c = byId(cid)
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
  }

  /** Train the codebook on cell residuals of an already-cell-assigned
    * frame (from [[IvfIndex.build]]). */
  def trainResidual(index: DataFrame, embCol: String, idCol: String,
                    cs: Array[(Int, Array[Float])], dim: Int,
                    m: Int = 8, ksub: Int = 64, iters: Int = 3): Codebook = {
    val res = index.withColumn("_res",
      residualUdf(cs)(col(embCol), col("centroid_id")))
    train(res, "_res", idCol, dim, m, ksub, iters)
  }

  /** Encode cell residuals: (centroid_id, idCol, pq) — write with
    * [[IvfIndex.writeIndex]] exactly like the raw form. */
  def encodeResidual(index: DataFrame, embCol: String, idCol: String,
                     cb: Codebook,
                     cs: Array[(Int, Array[Float])]): DataFrame = {
    val res = index.withColumn("_res",
      residualUdf(cs)(col(embCol), col("centroid_id")))
    encode(res, "_res", idCol, cb, keep = Seq("centroid_id"))
  }

  /** Distributed mean squared reconstruction error of a code frame
    * against its base vectors — the audit statistic behind the
    * residual-beats-raw gate. Fully corpus-distributed: codes join to
    * the base on `idCol` (both corpus-sized — a plain shuffle join AQE
    * sizes), the decode runs inside a projection with the KB-scale
    * codebook (and, in residual mode, the nCells centroid map) closed
    * over, and ONE `avg` brings back a single double. Nothing
    * corpus-proportional ever reaches the driver, so the audit itself
    * survives the 100 TB corpus the index is built for.
    *
    * Pass `cs` for an [[encodeResidual]]-built frame (reconstruction
    * is `centroid(cell) + decode(code)`, read from the frame's
    * `centroid_id`); leave it empty for raw [[encode]] codes. */
  def reconstructionMse(base: DataFrame, embCol: String, idCol: String,
                        codes: DataFrame, cb: Codebook,
                        cs: Array[(Int, Array[Float])] = Array.empty)
      : Double = {
    val cMap = cs.map { case (cid, c) => cid -> c }.toMap
    val residual = cs.nonEmpty
    val sqErr = udf { (v: Seq[Float], code: Array[Byte], cid: Int) =>
      val cent = if (residual) cMap(cid) else null
      var s2 = 0.0; var i = 0
      while (i < v.length) {
        val sub = i / cb.subDim
        var h = cb.cents(sub)(code(sub) & 0xff)(i % cb.subDim).toDouble
        if (cent != null) h += cent(i)
        val x = v(i).toDouble - h
        s2 += x * x
        i += 1
      }
      s2
    }
    val joined = base
      .select(col(idCol).as("_id"), col(embCol).as("_v"),
        (if (residual) col("centroid_id") else lit(-1)).as("_cid"))
      .join(codes.select(col(idCol).as("_id"), col("pq").as("_pq")), "_id")
    joined.agg(avg(sqErr(col("_v"), col("_pq"), col("_cid"))).as("mse"))
      .head().getDouble(0)
  }

  /** IVF-ADC over residual codes: the reconstruction is
    * `centroid(cell) + decode(code)`, so
    * `dot(q, v̂) = dot(q, c) + Σ_s dotT[s][code_s]` and
    * `|v̂|² = |c|² + 2·Σ_s cross[cell][s][code_s] + Σ_s sq[s][code_s]`
    * — all three tables precomputed driver-side
    * (nCells·m·ksub doubles, KBs), probe cost still m lookups. */
  def searchIvfAdcResidual(codes: DataFrame, idCol: String,
                           cs: Array[(Int, Array[Float])], cb: Codebook,
                           query: Array[Float], k: Int,
                           nProbe: Int): DataFrame = {
    val cells = IvfIndex.routeCellsFor(cs, query, nProbe)
    val (dotT, sqT, qNorm) = adcTables(cb, query)
    // per-cell constants ONLY for the routed cells, keyed by cid —
    // building (and closure-shipping) tables for every cell wastes
    // >99% of the work at a realistic nlist with small nProbe
    val routed = cells.toSet
    val cellTabs: Map[Int, (Double, Double, Array[Array[Double]])] =
      cs.iterator.filter { case (cid, _) => routed(cid) }.map {
        case (cid, c) =>
          var qc = 0.0; var c2 = 0.0; var i = 0
          val n = math.min(query.length, c.length)
          while (i < n) { qc += query(i).toDouble * c(i); i += 1 }
          i = 0
          while (i < c.length) { c2 += c(i).toDouble * c(i); i += 1 }
          val cross = Array.tabulate(cb.m, cb.ksub) { (s, j) =>
            val cent = cb.cents(s)(j); val off = s * cb.subDim
            var d = 0.0; var x = 0
            while (x < cb.subDim) { d += c(off + x).toDouble * cent(x); x += 1 }
            d
          }
          cid -> ((qc, c2, cross))
      }.toMap
    val scoreUdf = udf { (cid: Int, code: Array[Byte]) =>
      val (qc, c2, cross) = cellTabs(cid)
      var d = qc; var n = c2; var s = 0
      while (s < code.length) {
        val j = code(s) & 0xff
        d += dotT(s)(j)
        n += 2.0 * cross(s)(j) + sqT(s)(j)
        s += 1
      }
      if (qNorm == 0 || n <= 0) 0.0 else d / (qNorm * math.sqrt(n))
    }
    codes.filter(col("centroid_id")
        .isin(cells.map(Integer.valueOf).toIndexedSeq: _*))
      .select(col(idCol),
        scoreUdf(col("centroid_id"), col("pq")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** ADC shortlist + exact re-rank (faiss's IndexRefineFlat contract):
    * the m-byte codes pick `shortlist` candidates, then ONLY those rows'
    * float vectors are read back for an exact cosine top-k. At 100 TB
    * the scan side is the code table (32× smaller) and the float table
    * contributes `shortlist` point-lookups through a broadcast semi-join
    * — the bounded-k' broadcast is safe by construction. */
  def searchAdcRefined(codes: DataFrame, base: DataFrame, embCol: String,
                       idCol: String, cb: Codebook, query: Array[Float],
                       k: Int, shortlist: Int = 100): DataFrame = {
    val ids = searchAdc(codes, idCol, cb, query, shortlist).select(col(idCol))
    VectorFunctions.topK(base.join(broadcast(ids), idCol), embCol, idCol,
      query, k)
  }
}
