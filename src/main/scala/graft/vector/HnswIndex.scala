package graft.vector

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** HNSW (Hierarchical Navigable Small World) ANN index — the literal
  * index structure the reference serves pgvector cosine queries with
  * (`vector_cosine_ops` HNSW, reference src/shared/db/database.py:201-210,
  * migration add_vector_embeddings_to_core_tables.sql:9-27).
  *
  * Spark-idiomatic deployment is Lucene-segment style: one HNSW
  * SUB-INDEX PER PARTITION, built inside `mapPartitions` (a single
  * narrow pass, no shuffle), probed in parallel with the query
  * broadcast in the closure; each partition emits its local top-k and
  * the global answer is the k-bounded merge of ≤ k·numPartitions rows.
  * At scale this is the right factoring for a graph index: the graph
  * never needs cross-executor edges (those would shuffle per PROBE),
  * per-partition recall composes (the true global top-k is contained in
  * the union of per-partition top-k), and a skewed/burst corpus
  * re-balances by ordinary repartitioning, not index surgery.
  *
  * Determinism (required by the oracle gate): layer assignment uses a
  * splitmix-style hash of the vector id instead of an RNG, and every
  * neighbor-set tie breaks on (distance, id). Same partitioning → same
  * graphs → same answers.
  *
  * Complexities are the published ones (Malkov & Yashunin 2016):
  * build O(n · log n · M), search O(ef · log n) distance evaluations.
  */
object HnswIndex {

  /** `m`: max neighbors per node per layer (2m on layer 0);
    * `efConstruction`: candidate-list width at insert;
    * `efSearch`: candidate-list width at query (recall/latency knob). */
  case class Params(m: Int = 8, efConstruction: Int = 64, efSearch: Int = 48)

  // ------------------------------------------------------------ graph

  /** One in-memory sub-index over a partition's vectors. */
  final class Hnsw(dim: Int, params: Params,
                   quantizedAtRest: Boolean = false) {
    private val m = params.m
    private val maxL0 = 2 * params.m
    private val mult = 1.0 / math.log(m.toDouble)

    private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    private val ids = mutable.ArrayBuffer.empty[Long]
    private val norms = mutable.ArrayBuffer.empty[Double]
    // int8 at-rest mode: codes are write-once per vector (add() stores
    // the code AND inserts its dequantized float form, so the graph
    // structure an add builds is identical to the one a reload sees —
    // and re-serialization copies codes verbatim, no requantize drift)
    private var qMode = quantizedAtRest
    private val qCodes = mutable.ArrayBuffer.empty[Array[Byte]]
    private val qScales = mutable.ArrayBuffer.empty[Float]

    private def quantizeVec(v: Array[Float]): (Array[Byte], Float) = {
      var mx = 0f
      var i = 0
      while (i < v.length) {
        if (math.abs(v(i)) > mx) mx = math.abs(v(i)); i += 1
      }
      val s = if (mx == 0f) 1f else mx
      val c = new Array[Byte](v.length)
      i = 0
      while (i < v.length) { c(i) = math.round(v(i) / s * 127f).toByte; i += 1 }
      (c, s)
    }

    private def dequantizeVec(c: Array[Byte], s: Float): Array[Float] = {
      val v = new Array[Float](c.length)
      var i = 0
      while (i < c.length) { v(i) = c(i).toFloat * s / 127f; i += 1 }
      v
    }
    // neighbors(layer)(node) = ArrayBuffer[node]
    private val neighbors = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[mutable.ArrayBuffer[Int]]]
    private var entry = -1
    private var topLayer = -1

    def size: Int = vecs.length

    /** Cosine DISTANCE (1 - similarity); zero vectors sort last. */
    private def dist(a: Int, q: Array[Float], qNorm: Double): Double = {
      val v = vecs(a)
      var dot = 0.0
      var i = 0
      val n = math.min(v.length, q.length)
      while (i < n) { dot += v(i).toDouble * q(i); i += 1 }
      val d = norms(a) * qNorm
      if (d == 0) 2.0 else 1.0 - dot / d
    }

    private def distNodes(a: Int, b: Int): Double = dist(a, vecs(b), norms(b))

    /** (dist asc, id asc) — the graph's one total order, compared
      * directly. r13: the previous `Ordering.by { (d, ids(n)) }` built a
      * boxed (Double, Long) tuple on EVERY comparison, and heap sifts +
      * neighbor sorts compare O(log ef) times per visited node — this
      * was the hottest allocation site of the whole insert path.
      * Distances are finite (zero-norm maps to 2.0), so
      * Double.compare equals the tuple ordering exactly: same graphs. */
    private val byDistThenId: Ordering[(Int, Double)] =
      new Ordering[(Int, Double)] {
        def compare(a: (Int, Double), b: (Int, Double)): Int = {
          val c = java.lang.Double.compare(a._2, b._2)
          if (c != 0) c else java.lang.Long.compare(ids(a._1), ids(b._1))
        }
      }

    /** SELECT-NEIGHBORS-HEURISTIC (Malkov & Yashunin alg. 4): keep a
      * candidate only if it is closer to the base point than to every
      * neighbor already kept — on clustered data this preserves the
      * inter-cluster "highway" edges that plain M-closest selection
      * prunes away (the classic HNSW recall cliff). Remaining slots
      * fill with the closest discarded candidates (keepPruned) so low-
      * degree nodes stay connected. Deterministic: (dist, id) order. */
    private def selectNeighbors(cands: Seq[(Int, Double)], cap: Int): Seq[(Int, Double)] = {
      val sorted = cands.sorted(byDistThenId)
      val kept = mutable.ArrayBuffer.empty[(Int, Double)]
      val discarded = mutable.ArrayBuffer.empty[(Int, Double)]
      sorted.foreach { case (c, dc) =>
        if (kept.length < cap) {
          if (kept.forall { case (r, _) => distNodes(c, r) >= dc })
            kept += ((c, dc))
          else discarded += ((c, dc))
        }
      }
      val fill = discarded.iterator
      while (kept.length < cap && fill.hasNext) kept += fill.next()
      kept.toSeq
    }

    /** Deterministic layer for an id: geometric(1/m) via a splitmix64
      * hash mapped to (0,1] — the -ln(U)·mult draw with U a pure
      * function of the id. */
    private def layerOf(id: Long): Int = {
      var z = id + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      // 53 mantissa bits → u in (0, 1]
      val u = ((z >>> 11) + 1).toDouble / (1L << 53).toDouble
      math.min((-math.log(u) * mult).toInt, 31)
    }

    /** Greedy best-first search on one layer; returns the ef closest
      * (node, dist), tie-broken by id for determinism. */
    private def searchLayer(q: Array[Float], qNorm: Double, ep: Seq[(Int, Double)],
                            ef: Int, layer: Int): mutable.ArrayBuffer[(Int, Double)] = {
      implicit val ord: Ordering[(Int, Double)] = byDistThenId
      // primitive bitset: the visited check is the single hottest
      // operation in the walk; a boxed HashSet dominates build time
      val visited = new java.util.BitSet(vecs.length)
      val candidates = mutable.PriorityQueue.empty[(Int, Double)](ord.reverse) // min-heap
      val best = mutable.PriorityQueue.empty[(Int, Double)](ord)               // max-heap
      ep.foreach { case (n, d) =>
        if (!visited.get(n)) {
          visited.set(n); candidates.enqueue((n, d)); best.enqueue((n, d))
        }
      }
      while (best.size > ef) best.dequeue()
      while (candidates.nonEmpty) {
        val (c, dc) = candidates.dequeue()
        if (best.size >= ef && dc > best.head._2) { candidates.clear() }
        else {
          val ns = neighbors(layer)(c)
          var i = 0
          while (i < ns.length) {
            val nb = ns(i)
            if (!visited.get(nb)) {
              visited.set(nb)
              val d = dist(nb, q, qNorm)
              if (best.size < ef || d < best.head._2 ||
                  (d == best.head._2 && ids(nb) < ids(best.head._1))) {
                candidates.enqueue((nb, d)); best.enqueue((nb, d))
                if (best.size > ef) best.dequeue()
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Int, Double)]
      while (best.nonEmpty) out.prepend(best.dequeue())
      out
    }

    /** Insert one vector; standard HNSW insert with simple M-closest
      * neighbor selection (deterministic). */
    def add(id: Long, v0: Array[Float]): Unit = {
      val v = if (!qMode) v0 else {
        val (c, s) = quantizeVec(v0)
        qCodes += c; qScales += s
        dequantizeVec(c, s)
      }
      val node = vecs.length
      vecs += v; ids += id
      var nv = 0.0
      var i = 0
      while (i < v.length) { nv += v(i).toDouble * v(i); i += 1 }
      norms += math.sqrt(nv)
      val l = layerOf(id)
      while (topLayer < l) {
        neighbors += mutable.ArrayBuffer.empty
        topLayer += 1
      }
      // every node gets an adjacency slot on layers 0..l
      var lay = 0
      while (lay <= topLayer) {
        while (neighbors(lay).length <= node) neighbors(lay) += mutable.ArrayBuffer.empty[Int]
        lay += 1
      }
      if (entry < 0) { entry = node; return }

      val qNorm = norms(node)
      var ep = Seq((entry, dist(entry, v, qNorm)))
      // greedy descent through layers above l
      var layer = topLayer
      while (layer > l) {
        ep = Seq(searchLayer(v, qNorm, ep, 1, layer).head)
        layer -= 1
      }
      // connect on layers min(l, topLayer)..0
      layer = math.min(l, topLayer)
      while (layer >= 0) {
        val found = searchLayer(v, qNorm, ep, params.efConstruction, layer)
        val cap = if (layer == 0) maxL0 else m
        val chosen = selectNeighbors(found.filter(_._1 != node).toSeq, cap)
        chosen.foreach { case (nb, _) =>
          neighbors(layer)(node) += nb
          val back = neighbors(layer)(nb)
          back += node
          if (back.length > cap) {
            // shrink with the same diversity heuristic, not plain
            // closest-M (deterministic tie-break by id)
            val pruned = selectNeighbors(
              back.map(x => (x, distNodes(x, nb))).toSeq, cap).map(_._1)
            back.clear(); back ++= pruned
          }
        }
        ep = found.toSeq
        layer -= 1
      }
      // the deepest node becomes the entry point
      if (l >= topLayer) entry = node
    }

    /** Binary form of this sub-index (big-endian): n, topLayer, entry;
      * per node (id: long, len: int, len floats); per layer 0..topLayer
      * (nodeCount, then per node neighborCount + neighbor ints). Norms
      * recompute on load. Lets the per-partition graphs persist AT REST
      * so the build cost amortizes across JOBS, not just across the
      * queries of one probe pass. */
    def serialize(): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(bos)
      // v2 (int8 at rest): sentinel -2 (v1 starts with n >= 0), then
      // the same layout with (scale: float, len bytes) per vector —
      // codes copied verbatim from the write-once store
      if (qMode) o.writeInt(-2)
      o.writeInt(vecs.length); o.writeInt(topLayer); o.writeInt(entry)
      var i = 0
      while (i < vecs.length) {
        o.writeLong(ids(i))
        if (qMode) {
          val c = qCodes(i)
          o.writeInt(c.length)
          o.writeFloat(qScales(i))
          o.write(c)
        } else {
          val v = vecs(i)
          o.writeInt(v.length)
          var j = 0
          while (j < v.length) { o.writeFloat(v(j)); j += 1 }
        }
        i += 1
      }
      var lay = 0
      while (lay <= topLayer) {
        val ln = neighbors(lay)
        o.writeInt(ln.length)
        var nd = 0
        while (nd < ln.length) {
          val ns = ln(nd)
          o.writeInt(ns.length)
          var e = 0
          while (e < ns.length) { o.writeInt(ns(e)); e += 1 }
          nd += 1
        }
        lay += 1
      }
      o.flush()
      bos.toByteArray
    }

    private[vector] def loadFrom(bytes: Array[Byte]): Unit = {
      require(vecs.isEmpty, "loadFrom on a non-empty index")
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val first = in.readInt()
      qMode = first == -2
      val n = if (qMode) in.readInt() else first
      topLayer = in.readInt(); entry = in.readInt()
      var i = 0
      while (i < n) {
        ids += in.readLong()
        val len = in.readInt()
        val v = if (qMode) {
          val s = in.readFloat()
          val c = new Array[Byte](len)
          in.readFully(c)
          qCodes += c; qScales += s
          dequantizeVec(c, s)
        } else {
          val f = new Array[Float](len)
          var j = 0
          while (j < len) { f(j) = in.readFloat(); j += 1 }
          f
        }
        vecs += v
        var nv = 0.0
        var j = 0
        while (j < len) { nv += v(j).toDouble * v(j); j += 1 }
        norms += math.sqrt(nv)
        i += 1
      }
      var lay = 0
      while (lay <= topLayer) {
        val cnt = in.readInt()
        val ln = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Int]]
        var nd = 0
        while (nd < cnt) {
          val deg = in.readInt()
          val ns = mutable.ArrayBuffer.empty[Int]
          var e = 0
          while (e < deg) { ns += in.readInt(); e += 1 }
          ln += ns
          nd += 1
        }
        neighbors += ln
        lay += 1
      }
    }

    /** The stored (id, vector) pairs, in insertion order — lets
      * maintenance jobs recover the raw rows from a stored graph
      * without keeping a separate copy of the corpus. */
    private[vector] def entries: Iterator[(Long, Array[Float])] =
      ids.iterator.zip(vecs.iterator)

    /** Top-k (id, cosine SIMILARITY) for one query. */
    def search(q: Array[Float], k: Int): Seq[(Long, Double)] =
      search(q, k, params.efSearch)

    /** Top-k with an explicit candidate-list width — the probe-time
      * knob decoupled from the instance's construction params, which
      * is what lets [[HnswIndex.residentGraph]] share one deserialized
      * structure across probes with different efSearch. Read-only and
      * thread-safe: concurrent probes may share `this`. */
    def search(q: Array[Float], k: Int, ef: Int): Seq[(Long, Double)] = {
      if (entry < 0) return Seq.empty
      var nq = 0.0
      var i = 0
      while (i < q.length) { nq += q(i).toDouble * q(i); i += 1 }
      val qNorm = math.sqrt(nq)
      var ep = Seq((entry, dist(entry, q, qNorm)))
      var layer = topLayer
      while (layer > 0) {
        ep = Seq(searchLayer(q, qNorm, ep, 1, layer).head)
        layer -= 1
      }
      searchLayer(q, qNorm, ep, math.max(ef, k), 0)
        .take(k).map { case (n, d) => (ids(n), 1.0 - d) }.toSeq
    }
  }

  // ------------------------------------------------ resident graph cache

  /** Executor-local resident cache of deserialized sub-graphs — the
    * distributed analogue of the reference's shared-buffers-resident
    * pgvector HNSW (its Postgres answers every probe from one warm
    * graph; database.py:201-210). Stored sub-graphs are immutable byte
    * blobs — every mutation path writes NEW bytes — so a probe task may
    * reuse the structure an earlier probe on this executor already
    * deserialized. Deserialization (rebuilding 10^5-10^6-node adjacency
    * + vector arrays) dominates cold-probe latency at production cell
    * sizes, and without this cache every probe JOB pays it again even
    * though executors are long-lived.
    *
    * Keyed by (xxhash64(bytes), length) — content-addressed, so a
    * rewritten sub-graph (incremental add, maintenance) simply misses
    * and the stale entry ages out by LRU. Bounded by ESTIMATED resident
    * bytes (serialized length × 4 for adjacency boxing overhead),
    * budget via system property `graft.ann.graphCacheBytes` (default
    * 4 GiB estimated ≈ 1 GiB serialized per executor JVM — a serving
    * executor dedicates memory to its resident cells exactly as
    * Postgres's graph lives in shared buffers; 0 disables; size it
    * below executor heap headroom). Cached instances are probed
    * read-only ([[Hnsw.search]]); mutation paths (addToGraphIndex)
    * always deserialize privately. */
  private object GraphCache {
    private final case class Entry(g: Hnsw, cost: Long)
    private val budget: Long = java.lang.Long.parseLong(
      System.getProperty("graft.ann.graphCacheBytes", (4L << 30).toString))
    private val map =
      new java.util.LinkedHashMap[java.lang.Long, Entry](16, 0.75f, true)
    private var total = 0L

    def get(bytes: Array[Byte]): Hnsw = {
      if (budget <= 0) {
        val g = new Hnsw(0, Params()); g.loadFrom(bytes); return g
      }
      put(contentKey(bytes), bytes)
    }

    /** Resident instance for a content key WITHOUT touching the bytes —
      * the manifest fast path: a warm probe that knows the stored
      * segment hash never reads, copies, or hashes the blob at all. */
    def lookup(key: Long): Option[Hnsw] =
      if (budget <= 0) None
      else map.synchronized { Option(map.get(key)).map(_.g) }

    /** Insert (or return the resident instance of) a blob under an
      * externally-supplied content key. */
    def put(key: Long, bytes: Array[Byte]): Hnsw = {
      if (budget <= 0) {
        val g = new Hnsw(0, Params()); g.loadFrom(bytes); return g
      }
      map.synchronized {
        val hit = map.get(key)
        if (hit != null) return hit.g
      }
      // deserialize OUTSIDE the lock: concurrent misses may race and
      // both build; the map keeps whichever inserts first
      val g = new Hnsw(0, Params()); g.loadFrom(bytes)
      val cost = bytes.length.toLong * 4
      map.synchronized {
        val prior = map.get(key)
        if (prior != null) prior.g
        else {
          map.put(key, Entry(g, cost)); total += cost
          val it = map.entrySet().iterator()
          while (total > budget && it.hasNext) {
            val e = it.next()
            if (e.getKey != key) { total -= e.getValue.cost; it.remove() }
          }
          g
        }
      }
    }
  }

  /** The 64-bit content key the resident cache addresses blobs by —
    * also what [[RoutedHnsw.writeRoutedIndex]] persists as `seg_hash`,
    * so a stored manifest row IS a cache key. */
  private[graft] def contentKey(bytes: Array[Byte]): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42L)

  /** The shared resident instance for a stored sub-graph blob — probe
    * read-only, pass efSearch explicitly to [[Hnsw.search]]. */
  private[graft] def residentGraph(bytes: Array[Byte]): Hnsw =
    GraphCache.get(bytes)

  /** Resident lookup by STORED content key (no blob bytes touched);
    * [[residentPut]] fills a miss. */
  private[graft] def residentLookup(key: Long): Option[Hnsw] =
    GraphCache.lookup(key)

  private[graft] def residentPut(key: Long, bytes: Array[Byte]): Hnsw =
    GraphCache.put(key, bytes)

  // ----------------------------------------------------- Spark facade

  /** Global top-k for `query`: per-partition HNSW build + probe, then
    * the k-bounded merge. Output: (idCol, score) ordered by
    * (score desc, id) — the same contract as
    * [[VectorFunctions.topK]], which is its exact oracle. */
  def searchTopK(df: DataFrame, embCol: String, idCol: String,
                 query: Array[Float], k: Int,
                 params: Params = Params()): DataFrame =
    searchTopKMany(df, embCol, idCol, Seq(0L -> query), k, params)
      .drop("query_id")

  /** Multi-query form: build each partition's sub-index ONCE, probe it
    * with every query — the serve-time shape (index amortized across
    * the query stream). Output: (query_id, idCol, score). */
  def searchTopKMany(df: DataFrame, embCol: String, idCol: String,
                     queries: Seq[(Long, Array[Float])], k: Int,
                     params: Params = Params()): DataFrame = {
    val spark = df.sparkSession
    val qs = queries.toArray
    val p = params
    val slim = df.select(col(idCol).cast("long"), col(embCol))
      // id-sorted insertion order makes the per-partition graph a pure
      // function of partition CONTENT, not arrival order
      .sortWithinPartitions(col(idCol).cast("long"))
    val outSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField(idCol, LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    val partial = slim.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val index = new Hnsw(0, p)
        it.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1))
            index.add(r.getLong(0), r.getSeq[Float](1).toArray)
        }
        qs.iterator.flatMap { case (qid, q) =>
          index.search(q, k).iterator.map { case (id, s) => Row(qid, id, s) }
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    mergeTopK(partial, idCol, k)
  }

  /** Global k-bounded merge of per-partition top-k rows: ≤
    * k·numPartitions rows reach the shuffle. `rankCol` optionally keeps
    * the per-query rank (1..k) in the output. */
  private[vector] def mergeTopK(partial: DataFrame, idCol: String, k: Int,
                                rankCol: Option[String] = None): DataFrame = {
    // partials are k-BOUNDED (≤ sub-graphs × queries × k rows), so the
    // merge collapses to ONE task: a single narrow exchange into one
    // partition satisfies the window's clustering AND the final sort's
    // ordering requirement (SinglePartition satisfies every
    // distribution), where the default plan paid a 2-stage
    // 32-partition window shuffle plus a range exchange — pure
    // task-launch overhead that measured as the bulk of a warm probe's
    // wall clock at local[32]
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    val ranked = partial.repartition(1)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
    rankCol.fold(ranked.drop("_rk"))(n => ranked.withColumnRenamed("_rk", n))
      .orderBy(col("query_id"), col("score").desc, col(idCol))
  }

  // ------------------------------------------------------ at rest

  /** Persist the per-partition sub-indexes AT REST: one parquet row per
    * partition holding the serialized graph, laid out
    * `partitionBy("graph_id")` so ONE sub-graph = ONE partition
    * directory (the unit [[addToGraphIndex]] rewrites incrementally).
    * Probing a stored index skips the build entirely — the amortization
    * boundary moves from "queries within one job" (searchTopKMany) to
    * "all future jobs".
    *
    * Sub-graph sizing is ENFORCED, not advised: each serialized graph is
    * one in-memory byte array and one parquet BINARY cell, so an
    * oversized partition means an executor OOM or a >2 GiB cell.
    * `maxPartitionRows` caps rows per sub-graph; when the input's
    * average partition would exceed it the input is auto-repartitioned
    * (round-robin — even by construction), and a residual SKEWED
    * partition fails fast inside the build with the repartition hint
    * rather than OOMing. */
  def writeGraphIndex(df: DataFrame, embCol: String, idCol: String,
                      path: String, params: Params = Params(),
                      maxPartitionRows: Int = 500000,
                      autoSplit: Boolean = true,
                      quantized: Boolean = false,
                      knownCount: Long = -1L): Unit = {
    require(maxPartitionRows > 0, "maxPartitionRows must be positive")
    val p = params
    val q = quantized
    val cap = maxPartitionRows
    val slim0 = df.select(col(idCol).cast("long"), col(embCol))
    val slim1 =
      if (!autoSplit) slim0
      else {
        // r13: autoSplit's row count is one extra full pass over the
        // input per index write (and tSpread inputs execute their
        // repartition just to be counted). Callers that already know
        // the row count — a metadata-only count of the raw table, or a
        // maintenance loop rebuilding the same base repeatedly — pass
        // it through; sizing is unchanged (same n → same target).
        val n = if (knownCount >= 0L) knownCount else slim0.count()
        // target ~90% of the cap: round-robin distribution is even only
        // to ±1 per partition (random start offset), and the input may
        // not divide exactly — headroom keeps every partition under the
        // hard cap the build enforces
        val headroom = math.max(1, cap - math.max(1, cap / 10))
        val target = math.max(1, math.ceil(n.toDouble / headroom).toInt)
        if (slim0.rdd.getNumPartitions < target) slim0.repartition(target)
        else slim0
      }
    val slim = slim1.sortWithinPartitions(col(idCol).cast("long"))
    val schema = StructType(Seq(
      StructField("graph_id", IntegerType, nullable = false),
      StructField("n_vectors", LongType, nullable = false),
      StructField("graph", BinaryType, nullable = false)))
    slim.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val index = new Hnsw(0, p, q)
        var n = 0L
        it.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) {
            require(n < cap,
              s"HNSW sub-graph row cap exceeded: partition " +
                s"${org.apache.spark.TaskContext.getPartitionId()} holds more " +
                s"than $cap vectors (skewed input). Repartition the input " +
                s"(df.repartition(ceil(total/$cap))) or raise maxPartitionRows.")
            index.add(r.getLong(0), r.getSeq[Float](1).toArray)
            n += 1
          }
        }
        Iterator.single(
          Row(org.apache.spark.TaskContext.getPartitionId(), n, index.serialize()))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
      .write.mode("overwrite").partitionBy("graph_id").parquet(path)
    // the build-time cap is part of the index's contract (the bound
    // incremental adds must respect), so it persists WITH the index —
    // written after the parquet overwrite (which would wipe it)
    writeMeta(df.sparkSession, path, p, cap, q)
  }

  // ------------------------------------------- persisted build params

  private val MetaFile = "_graft_hnsw_meta"
  private val MetaMagic = "GHNS"

  /** Build-time parameters a stored index carries at rest: the graph
    * knobs (m, efConstruction), the sub-graph row cap and (v2) the
    * int8-at-rest flag. */
  private def writeMeta(spark: org.apache.spark.sql.SparkSession,
                        path: String, p: Params, cap: Int,
                        quantized: Boolean = false): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    val out = new java.io.DataOutputStream(
      fs.create(new org.apache.hadoop.fs.Path(dir, MetaFile), true))
    try {
      out.writeBytes(MetaMagic)
      out.writeInt(2) // version
      out.writeInt(p.m); out.writeInt(p.efConstruction); out.writeInt(cap)
      out.writeInt(if (quantized) 1 else 0)
    } finally out.close()
  }

  /** (m, efConstruction, maxPartitionRows) persisted by
    * [[writeGraphIndex]]; None for an index written before the sidecar
    * existed. */
  def readMeta(spark: org.apache.spark.sql.SparkSession,
               path: String): Option[(Int, Int, Int)] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = new java.io.DataInputStream(fs.open(p))
      try {
        val magic = new Array[Byte](4); in.readFully(magic)
        require(new String(magic, "US-ASCII") == MetaMagic,
          s"not a graft HNSW meta sidecar: $p")
        in.readInt() // version
        Some((in.readInt(), in.readInt(), in.readInt()))
      } finally in.close()
    }
  }

  /** Whether the stored index was written int8-at-rest (v2 sidecar);
    * false for v1 sidecars and missing ones. The graph blobs are also
    * self-describing (the -2 sentinel), so this is only needed where a
    * NEW sub-graph must be created in the stored index's mode. */
  def readMetaQuantized(spark: org.apache.spark.sql.SparkSession,
                        path: String): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return false
    val in = new java.io.DataInputStream(fs.open(p))
    try {
      val magic = new Array[Byte](4); in.readFully(magic)
      require(new String(magic, "US-ASCII") == MetaMagic,
        s"not a graft HNSW meta sidecar: $p")
      val version = in.readInt()
      if (version < 2) false
      else { in.readInt(); in.readInt(); in.readInt(); in.readInt() == 1 }
    } finally in.close()
  }

  /** Incrementally ADD a batch into a stored graph index — the
    * reference's maintenance model (pgvector HNSW is updated on every
    * INSERT, never rebuilt; database.py:201-210) at Spark batch grain.
    *
    * Each batch row is assigned to one existing sub-graph by id hash
    * (keeps growth even), the touched sub-graphs are deserialized, the
    * rows INSERTED with the standard HNSW insert (same code path as the
    * initial build), and ONLY the touched `graph_id=` partition
    * directories are rewritten (dynamic partition overwrite) — untouched
    * sub-graphs are not read, shuffled, or rewritten. Cost per batch is
    * therefore O(touched graphs + batch), not O(corpus).
    *
    * The row cap is the BUILD-TIME cap persisted in the index's meta
    * sidecar (an index built with a larger cap keeps accepting adds up
    * to it; one built with a smaller cap is bounded by its own limit).
    *
    * SINGLE WRITER: the rewritten sub-graphs are staged off the input
    * files (localCheckpoint) before the overwrite, so a failure mid-add
    * cannot corrupt the index by deleting inputs it still needs — but
    * two CONCURRENT callers read-modify-write whole sub-graphs and the
    * last writer wins. Serialize adds (one foreachBatch stream, one
    * maintenance job), the same single-writer contract as the reference's
    * single-Postgres-table index.
    *
    * Streaming form: call from `foreachBatch` (StreamingSpec) — the
    * q65-style incremental pattern with the index as the accumulating
    * state. */
  def addToGraphIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, batch: DataFrame,
                      embCol: String, idCol: String,
                      params: Params = Params()): Unit = {
    import spark.implicits._
    val p = params
    val cap = readMeta(spark, path).map(_._3).getOrElse(500000)
    val stored = spark.read.parquet(path)
    val gids = stored.select(col("graph_id").cast("int")).as[Int]
      .collect().sorted
    require(gids.nonEmpty, s"no stored sub-graphs at $path")
    val g = gids.length

    // gid for a row: gids[ pmod(id, g) ] — stored ids can be sparse
    // (empty build partitions emit no graph). Null ids/vectors are
    // dropped, matching writeGraphIndex's build-side contract.
    val batchDs = batch
      .filter(col(idCol).isNotNull && col(embCol).isNotNull)
      .select(element_at(lit(gids), (pmod(col(idCol).cast("long"), lit(g.toLong))
          + lit(1)).cast("int")).as("gid"),
        col(idCol).cast("long").as("id"),
        col(embCol).cast("array<float>").as("emb"))
      .as[(Int, Long, Array[Float])]

    // r13: with one stored sub-graph every batch row can only touch it —
    // the distinct+collect job over the batch buys nothing
    val touched =
      if (g == 1) gids.toSet
      else batchDs.select(col("gid")).distinct().as[Int].collect().toSet
    val storedTouched = stored
      .filter(col("graph_id").isin(touched.toSeq.map(Integer.valueOf): _*))
      .select(col("graph_id").cast("int"), col("graph"))
      .as[(Int, Array[Byte])]

    val updated = storedTouched.groupByKey(_._1)
      .cogroup(batchDs.groupByKey(_._1)) { (gid, graphs, rows) =>
        val newRows = rows.toArray.sortBy(_._2) // deterministic insert order
        if (newRows.isEmpty) Iterator.empty
        else {
          val index = new Hnsw(0, p)
          graphs.toSeq.headOption.foreach(gr => index.loadFrom(gr._2))
          require(index.size + newRows.length <= cap,
            s"HNSW sub-graph $gid would grow past $cap rows " +
              s"(${index.size} + ${newRows.length}); rebuild with " +
              s"writeGraphIndex to re-split, or raise maxPartitionRows.")
          newRows.foreach { case (_, id, v) => if (v != null) index.add(id, v) }
          Iterator.single((gid, index.size.toLong, index.serialize()))
        }
      }.toDF("graph_id", "n_vectors", "graph")

    // stage the rewritten sub-graphs OFF the stored files before the
    // overwrite: the write below replaces the same directories the
    // cogroup reads, which today only works because inputs are read
    // before commit-time replacement — materializing first removes the
    // read-from/write-to-same-path coupling entirely
    val staged = updated.localCheckpoint(true)

    // dynamic overwrite: only the touched graph_id= directories change
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try staged.write.mode("overwrite").partitionBy("graph_id").parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Probe a stored graph index: deserialize each partition's sub-graph
    * (no rebuild) and answer every query from it, then the k-bounded
    * merge. `params.efSearch` stays a probe-time knob; m/efConstruction
    * are baked into the stored graphs. */
  def searchGraphIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, idCol: String,
                       queries: Seq[(Long, Array[Float])], k: Int,
                       params: Params = Params()): DataFrame =
    searchGraphIndexImpl(spark, path, idCol, queries, k, params, None)

  /** [[searchGraphIndex]] plus a per-query rank column `rn` (1..k in
    * (score desc, id) order) — the output shape of a `row_number()
    * OVER (PARTITION BY qid ...)` top-k, which [[graft.plans.AnnIndexRule]]
    * splices this probe into for the batched lateral/join form. */
  def searchGraphIndexRanked(spark: org.apache.spark.sql.SparkSession,
                             path: String, idCol: String,
                             queries: Seq[(Long, Array[Float])], k: Int,
                             params: Params = Params()): DataFrame =
    searchGraphIndexImpl(spark, path, idCol, queries, k, params, Some("rn"))

  private def searchGraphIndexImpl(spark: org.apache.spark.sql.SparkSession,
                                   path: String, idCol: String,
                                   queries: Seq[(Long, Array[Float])], k: Int,
                                   params: Params,
                                   rankCol: Option[String]): DataFrame = {
    val qs = queries.toArray
    val p = params
    val outSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField(idCol, LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    val partial = spark.read.parquet(path).select(col("graph"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val index = residentGraph(r.getAs[Array[Byte]](0))
          qs.iterator.flatMap { case (qid, q) =>
            index.search(q, k, p.efSearch).iterator
              .map { case (id, s) => Row(qid, id, s) }
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    mergeTopK(partial, idCol, k, rankCol)
  }

  // ------------------------------------------------------- maintenance

  /** Measured recall of a stored graph index against the CURRENT base
    * vectors, over `nQueries` deterministic sample queries (the same
    * multiplicative-hash row pick every family's health metric uses) —
    * the graph analogue of [[IvfIndex.indexStats]], completing the
    * family-wide maintenance contract. Graph recall at a FIXED probe `efSearch` decays as
    * capped sub-graphs fill with incremental adds: the ef-bounded walk
    * covers an ever-smaller fraction of each sub-graph. This measures
    * that decay directly — against live data, not build-time
    * assumptions. */
  def graphIndexRecall(spark: org.apache.spark.sql.SparkSession,
                       path: String, base: DataFrame, embCol: String,
                       idCol: String, nQueries: Int = 5, k: Int = 20,
                       params: Params = Params()): Double = {
    val (qs, exact) = recallGroundTruth(base, embCol, idCol, nQueries, k)
    measuredRecall(spark, path, idCol, qs, exact, k, params)
  }

  /** The probe vectors and their EXACT top-k sets — a pure function of
    * the base (deterministic centroids pick, deterministic topK), so
    * [[maintainGraphIndex]] computes it ONCE and reuses it across its
    * repair rounds instead of re-running nQueries exact scans per
    * measurement (r12; results identical by determinism). */
  private def recallGroundTruth(base: DataFrame, embCol: String,
                                idCol: String, nQueries: Int, k: Int)
      : (Seq[Array[Float]], Seq[Set[Any]]) = {
    val qs = IvfIndex.centroids(base, embCol, idCol, nQueries)
      .map(_._2).toSeq
    // r13: ONE action for all probe queries — the per-query exact
    // top-k subtrees union under a query-id tag and collect together
    // (per-query results identical to separate collects; the searches
    // are independent), instead of nQueries sequential driver
    // roundtrips over the same base.
    val tagged = qs.zipWithIndex.map { case (q, i) =>
      VectorFunctions.topK(base, embCol, idCol, q, k)
        .select(lit(i).as("_qi"), col(idCol))
    }
    val exactByQ = tagged.reduce(_.unionAll(_)).collect()
      .groupBy(_.getInt(0))
      .map { case (qi, rows) => qi -> rows.map(_.get(1)).toSet[Any] }
    val exact = qs.indices.map(i => exactByQ.getOrElse(i, Set.empty[Any]))
    (qs, exact)
  }

  /** Measured recall of the stored index against precomputed ground
    * truth — ONE batched index probe for all queries (one Spark job,
    * not one per query; per-query results identical to separate
    * calls, the searches are independent). */
  private def measuredRecall(spark: org.apache.spark.sql.SparkSession,
                             path: String, idCol: String,
                             qs: Seq[Array[Float]], exact: Seq[Set[Any]],
                             k: Int, params: Params): Double = {
    val got = searchGraphIndex(spark, path, idCol,
        qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }, k, params)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) => qid -> rows.map(_.get(1)).toSet[Any] }
    val per = exact.indices.map { i =>
      (exact(i) intersect got.getOrElse(i.toLong, Set.empty[Any]))
        .size.toDouble / k
    }
    per.sum / per.length
  }

  /** Check a stored graph index's measured recall and REPAIR it when
    * degraded — [[IvfIndex.maintainIndex]]'s contract for the plain
    * graph family. HNSW's failure mode is not centroid drift (there are
    * no centroids) but sub-graph FILL: adds grow each capped sub-graph,
    * and at a fixed probe `efSearch` the walk's covered fraction — and
    * recall — shrinks. The at-rest repair is a RE-SPLIT: rebuild from
    * the current base into more, smaller sub-graphs (starting at half
    * the current mean sub-graph size, halving per round) until measured
    * recall clears the floor. Per-sub-graph search cost falls with
    * size; the price is probe fan-out (every probe opens every
    * sub-graph — the documented plain-graph tradeoff; route-limited
    * probes are [[RoutedHnsw]]'s job). Convergent by construction: at
    * sub-graph sizes near `efSearch` the walk is effectively
    * exhaustive and the k-bounded union is exact.
    *
    * Rebuilds stage into a sibling directory and swap in atomically;
    * the `_graft_ann` descriptor (if present) is re-persisted, like
    * [[RoutedHnsw.maintainIndex]]. Single-writer, like every index
    * mutation here. Returns (final measured recall, rebuilt?). */
  def maintainGraphIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, base: DataFrame, embCol: String,
                         idCol: String, recallFloor: Double = 0.95,
                         nQueries: Int = 5, k: Int = 20,
                         params: Params = Params(), maxRounds: Int = 3)
      : (Double, Boolean) = {
    // ground truth once for the whole maintenance run (r12): the probe
    // vectors and exact sets depend only on `base`, not on the index
    val (qs, exact) = recallGroundTruth(base, embCol, idCol, nQueries, k)
    var recall = measuredRecall(spark, path, idCol, qs, exact, k, params)
    if (recall >= recallFloor) return (recall, false)
    val (m, efC, _) = readMeta(spark, path)
      .getOrElse((params.m, params.efConstruction, 500000))
    val quant = readMetaQuantized(spark, path)
    val buildParams = Params(m = m, efConstruction = efC,
      efSearch = params.efSearch)
    val oldDesc =
      try Some(graft.plans.AnnCatalog.readDescriptor(path))
      catch { case scala.util.control.NonFatal(_) => None }
    val meanRows = spark.read.parquet(path)
      .agg(avg(col("n_vectors"))).head().getDouble(0)
    var target = math.max(1, (meanRows / 2).toInt)
    var round = 0
    var rebuilt = false
    val conf = spark.sessionState.newHadoopConf()
    // r13: the base is the same frame every round — count it once for
    // every rebuild's autoSplit instead of once per round
    lazy val baseN = base.select(col(idCol)).count()
    while (recall < recallFloor && round < maxRounds) {
      val staging = path.stripSuffix("/") + "._rebuild"
      writeGraphIndex(base, embCol, idCol, staging, buildParams,
        maxPartitionRows = target, quantized = quant, knownCount = baseN)
      val pth = new org.apache.hadoop.fs.Path(path)
      val fs = pth.getFileSystem(conf)
      fs.delete(pth, true)
      require(fs.rename(new org.apache.hadoop.fs.Path(staging), pth),
        s"could not swap rebuilt graph index into $path")
      oldDesc.foreach {
        case graft.plans.AnnCatalog.HnswEntry(_, e, i, ps) =>
          graft.plans.AnnCatalog.persistDescriptor(
            graft.plans.AnnCatalog.HnswEntry(path, e, i, ps))
        case _ => ()
      }
      rebuilt = true
      recall = measuredRecall(spark, path, idCol, qs, exact, k, params)
      target = math.max(1, target / 2)
      round += 1
    }
    (recall, rebuilt)
  }
}
