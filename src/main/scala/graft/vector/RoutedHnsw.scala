package graft.vector

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Routed HNSW — centroid-partitioned graph index (the SPANN/DiskANN
  * posting-list factoring): vectors are clustered into IVF cells, each
  * cell holds its own HNSW sub-graph(s), and a probe walks only the
  * `nProbe` cells nearest the query.
  *
  * Why a third index family when [[IvfIndex]] and [[HnswIndex]] exist:
  * the plain graph index ([[HnswIndex.writeGraphIndex]]) partitions by
  * row hash, so EVERY probe must open EVERY sub-graph — cheap per graph
  * (an ef-bounded walk), but on a 1000-executor corpus that is a
  * full-index read per query: the scan-fraction column that makes IVF
  * the 100 TB serving shape (reference SURVEY §4; the reference's own
  * pgvector HNSW is a single-node graph with no such cost) is 100 %.
  * Routing fixes exactly that: the index is laid out
  * `partitionBy("centroid_id")` like IVF, so the cell filter prunes at
  * file-listing time and a probe reads ~`nProbe/nCells` of the stored
  * bytes — while WITHIN each probed cell the search is a graph walk
  * (O(ef·log n) distance evaluations), not IVF's exhaustive cell scan.
  * IVF's pruning × HNSW's in-cell complexity.
  *
  * Recall factors the same way: cell routing recall (identical to IVF
  * at equal centroids/nProbe — same assignment, same cell choice) ×
  * in-cell graph recall (HNSW's; exact when `efSearch` covers the
  * cell). With exhaustive `efSearch` the probe is bit-identical to
  * [[IvfIndex.search]] at the same centroids — which is how the oracle
  * gates it (q178 replays the full route + in-cell exact top-k in SQL).
  *
  * Cells larger than `maxPartitionRows` split into multiple sub-graphs
  * by a deterministic id-hash salt (per-partition recall composes: the
  * cell's true top-k is contained in the union of its sub-graphs'
  * top-k), so one fat cell cannot OOM an executor — the same enforced
  * cap as [[HnswIndex.writeGraphIndex]].
  *
  * Determinism (oracle contract): centroid assignment is
  * [[IvfIndex.build]]'s, the salt is a pure function of the id, rows
  * insert in id order, and the graph itself is [[HnswIndex.Hnsw]]'s
  * deterministic build. Same data → same cells → same graphs → same
  * answers.
  */
object RoutedHnsw {

  /** Deterministic sub-graph salt for an id: splitmix64 spread, then
    * mod the cell's salt count. */
  private def saltOf(id: Long, nSalts: Int): Int = {
    var z = id + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (((z % nSalts) + nSalts) % nSalts).toInt
  }

  /** Build + persist the routed index at `path`, laid out
    * `partitionBy("centroid_id")` with one parquet row per (cell, salt)
    * sub-graph SEGMENT: (n_vectors, seg_hash, graph). Driver state is
    * O(nCells) (the per-cell counts that size the salts); graphs build
    * inside `mapGroups`, one group (≤ cap rows) in memory at a time.
    *
    * Cells segment at 30,000 rows (not just the OOM cap): small
    * segments are the unit of the executor-resident cache, so a serving
    * executor holds hot FRACTIONS of fat cells under its memory budget,
    * and a cold miss re-reads one segment, not an 85 MB cell blob.
    * `seg_hash` is the blob's 64-bit content key ([[HnswIndex
    * .contentKey]]) persisted AT REST — a warm probe matches manifest
    * rows against the resident cache and never reads, copies, or
    * hashes graph bytes at all (see [[searchMany]]). */
  def writeRoutedIndex(df: DataFrame, embCol: String, idCol: String,
                       path: String, cs: Array[(Int, Array[Float])],
                       params: HnswIndex.Params = HnswIndex.Params(),
                       maxPartitionRows: Int = 500000,
                       quantized: Boolean = false): Unit = {
    val assigned = assignCells(df, embCol, idCol, cs)
    buildAndWrite(assigned, path, params, maxPartitionRows, quantized)
  }

  /** Float AND int8 variants of the same index from ONE routing pass
    * (r13, for the float-vs-quantized gate queries): the cell
    * assignment and the per-cell counts are identical for both — only
    * the serialized blob differs — so the assignment is persisted and
    * each variant's group-build runs from those blocks, concurrently
    * (each write's stages leave cores idle at the commit tail). Each
    * variant's graphs are bit-identical to two separate
    * [[writeRoutedIndex]] calls. */
  def writeRoutedIndexPair(df: DataFrame, embCol: String, idCol: String,
                           pathFloat: String, pathQuant: String,
                           cs: Array[(Int, Array[Float])],
                           params: HnswIndex.Params = HnswIndex.Params()): Unit = {
    val assigned = assignCells(df, embCol, idCol, cs).persist()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      assigned.count() // fill the cache once; no race between variants
      val writes = Seq(false, true).map { q =>
        scala.concurrent.Future {
          buildAndWrite(assigned,
            if (q) pathQuant else pathFloat,
            params, 500000, q)
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(writes),
        scala.concurrent.duration.Duration.Inf)
      ()
    } finally { pool.shutdown(); assigned.unpersist() }
  }

  private def assignCells(df: DataFrame, embCol: String, idCol: String,
                          cs: Array[(Int, Array[Float])])
      : org.apache.spark.sql.Dataset[(Int, Long, Array[Float])] = {
    val spark = df.sparkSession
    import spark.implicits._
    IvfIndex.build(
        df.select(col(idCol).cast("long").as("_id"), col(embCol).as("_emb"))
          .filter(col("_id").isNotNull && col("_emb").isNotNull),
        "_emb", "_id", cs)
      .select(col("centroid_id"), col("_id"), col("_emb"))
      .as[(Int, Long, Array[Float])]
  }

  private def buildAndWrite(
      assigned: org.apache.spark.sql.Dataset[(Int, Long, Array[Float])],
      path: String, params: HnswIndex.Params, maxPartitionRows: Int,
      quantized: Boolean): Unit = {
    require(maxPartitionRows > 0, "maxPartitionRows must be positive")
    val spark = assigned.sparkSession
    import spark.implicits._
    val p = params
    val q = quantized
    val cap = maxPartitionRows
    // per-cell counts → salts per cell (driver state O(nCells)); 90% of
    // the target as headroom: the id-hash split is even only in
    // expectation. Segment grain is the SMALLER of the OOM cap and the
    // cache-granularity target.
    val counts: Map[Int, Long] = assigned.groupByKey(_._1).count().collect().toMap
    val seg = math.min(cap, 30000)
    val headroom = math.max(1, seg - math.max(1, seg / 10))
    val nSaltsByCell: Map[Int, Int] =
      counts.map { case (cid, n) =>
        cid -> math.max(1, math.ceil(n.toDouble / headroom).toInt)
      }
    val graphs = assigned
      .groupByKey { case (cid, id, _) =>
        (cid, saltOf(id, nSaltsByCell.getOrElse(cid, 1)))
      }
      .mapGroups { (key: (Int, Int), rows: Iterator[(Int, Long, Array[Float])]) =>
        val cid = key._1
        val sorted = rows.toArray.sortBy(_._2) // id order: content-determined graph
        require(sorted.length <= cap,
          s"routed HNSW sub-graph in cell $cid holds ${sorted.length} > $cap " +
            "rows (salt under-split); rebuild with a larger cell count or " +
            "raise maxPartitionRows.")
        val index = new HnswIndex.Hnsw(0, p, q)
        sorted.foreach { case (_, id, v) => index.add(id, v) }
        val bytes = index.serialize()
        (cid, sorted.length.toLong, HnswIndex.contentKey(bytes), bytes)
      }
      .toDF("centroid_id", "n_vectors", "seg_hash", "graph")
    // hash rows to their cell before partitionBy (IvfIndex.writeIndex's
    // small-files fix): each cell directory is written by one task.
    // Small parquet row groups (vs the 128 MB default) keep each
    // segment's pages separately addressable for the miss path.
    graphs.repartition(col("centroid_id"))
      .write.mode("overwrite")
      .option("parquet.block.size", 8L * 1024 * 1024)
      .partitionBy("centroid_id").parquet(path)
    writeMeta(spark, path, p, cap, q)
  }

  /** The `nProbe` cells nearest a query by cosine, deterministic
    * (similarity desc, cid asc) — identical routing to
    * [[IvfIndex.search]], which is what lets q178's SQL oracle replay
    * it. */
  def routeCells(cs: Array[(Int, Array[Float])], query: Array[Float],
                 nProbe: Int): Array[Int] =
    cs.map { case (cid, c) =>
      var dot = 0.0; var nq = 0.0; var nc = 0.0
      var i = 0
      val n = math.min(query.length, c.length)
      while (i < n) {
        dot += query(i).toDouble * c(i); nq += query(i).toDouble * query(i)
        nc += c(i).toDouble * c(i); i += 1
      }
      (cid, if (nq == 0 || nc == 0) 0.0 else dot / math.sqrt(nq * nc))
    }.sortBy { case (cid, s) => (-s, cid) }.take(nProbe).map(_._1)

  /** Top-k (idCol, score) for one query through the stored routed
    * index: route on the driver (O(nCells) arithmetic), scan ONLY the
    * routed cells' partition directories, walk their graphs, k-bounded
    * merge. */
  def search(spark: SparkSession, path: String, idCol: String,
             cs: Array[(Int, Array[Float])], query: Array[Float],
             k: Int, nProbe: Int,
             params: HnswIndex.Params = HnswIndex.Params()): DataFrame =
    searchMany(spark, path, idCol, cs, Seq(0L -> query), k, nProbe, params)
      .drop("query_id")

  /** Multi-query probe: each query routes independently; the scan reads
    * the UNION of routed cells (still pruned), and each cell's graphs
    * answer only the queries routed to that cell. Output:
    * (query_id, idCol, score), plus a per-query rank 1..k when
    * `rankCol` is set (the window-top-k shape [[graft.plans.AnnIndexRule]]
    * splices).
    *
    * Serve-path IO: on a manifest-format index (`seg_hash` at rest) the
    * probe scans ONLY (centroid_id, seg_hash) of the routed cells — a
    * column-pruned read of a few longs — and resolves each segment
    * against the executor-resident graph cache by its stored content
    * key. Graph BYTES are read only on a cache miss (one direct parquet
    * read per missed file, which also pre-warms its sibling segments —
    * they are about to be probed too). A warm executor therefore pays
    * manifest-scan + walk per probe, never the cell-blob decode that
    * dominated the cold path; this is the segment-resident serving
    * shape of SPANN/DiskANN, with parquet as the at-rest store.
    * Pre-manifest indexes fall back to the full bytes scan. */
  def searchMany(spark: SparkSession, path: String, idCol: String,
                 cs: Array[(Int, Array[Float])],
                 queries: Seq[(Long, Array[Float])], k: Int, nProbe: Int,
                 params: HnswIndex.Params = HnswIndex.Params(),
                 rankCol: Option[String] = None): DataFrame = {
    val p = params
    // cell → the queries routed to it (driver + closure state is
    // O(queries × nProbe), bounded by the planner's maxProbeQueries)
    val byCell: Map[Int, Array[(Long, Array[Float])]] =
      queries.flatMap { case (qid, q) =>
        routeCells(cs, q, nProbe).map(cid => (cid, (qid, q)))
      }.groupBy(_._1).map { case (cid, xs) => cid -> xs.map(_._2).toArray }
    val cells = byCell.keys.toSeq.sorted
    val outSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField(idCol, LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    val stored = spark.read.parquet(path)
    // the isin cell filter prunes at file-listing time
    // (PartitionFilters) — the probe reads ~nProbe/nCells of the CELLS
    val pruned = stored
      .filter(col("centroid_id").isin(cells.map(Integer.valueOf): _*))
    val partial =
      if (stored.schema.fieldNames.contains("seg_hash"))
        pruned
          .select(col("centroid_id").cast("int"), col("seg_hash"),
            input_file_name().as("_file"))
          .mapPartitions { it =>
            // per-task pin of bulk-loaded files: survives cache
            // eviction for the duration of this task
            val pinned = scala.collection.mutable
              .Map.empty[String, Map[Long, HnswIndex.Hnsw]]
            it.flatMap { r =>
              val cid = r.getInt(0)
              val qs = byCell.getOrElse(cid, Array.empty)
              if (qs.isEmpty) Iterator.empty
              else {
                val h = r.getLong(1); val file = r.getString(2)
                val index = HnswIndex.residentLookup(h)
                  .orElse(pinned.get(file).flatMap(_.get(h)))
                  .getOrElse {
                    val m = loadSegments(file)
                    pinned(file) = m
                    m.getOrElse(h, throw new IllegalStateException(
                      s"manifest names segment $h but $file lacks it — " +
                        "index files rewritten mid-probe?"))
                  }
                qs.iterator.flatMap { case (qid, q) =>
                  index.search(q, k, p.efSearch).iterator
                    .map { case (id, s) => Row(qid, id, s) }
                }
              }
            }
          }(org.apache.spark.sql.Encoders.row(outSchema))
      else
        pruned
          .select(col("centroid_id").cast("int"), col("graph"))
          .mapPartitions { it =>
            it.flatMap { r =>
              val cid = r.getInt(0)
              val qs = byCell.getOrElse(cid, Array.empty)
              if (qs.isEmpty) Iterator.empty
              else {
                val index = HnswIndex.residentGraph(r.getAs[Array[Byte]](1))
                qs.iterator.flatMap { case (qid, q) =>
                  index.search(q, k, p.efSearch).iterator
                    .map { case (id, s) => Row(qid, id, s) }
                }
              }
            }
          }(org.apache.spark.sql.Encoders.row(outSchema))
    HnswIndex.mergeTopK(partial, idCol, k, rankCol)
  }

  /** Read every (seg_hash, graph) row of ONE index parquet file via a
    * direct parquet-hadoop read (no Spark job — this runs INSIDE a
    * probe task on a cache miss), inserting each segment into the
    * executor-resident cache under its stored content key. Loading the
    * whole file on a single-segment miss is deliberate: a cold probe is
    * about to walk the file's sibling segments too, and one sequential
    * read beats per-segment seeks. */
  private def loadSegments(fileUri: String): Map[Long, HnswIndex.Hnsw] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val fsPath = new org.apache.hadoop.fs.Path(fileUri)
    // projection derived from the file's own footer (field repetition —
    // required vs optional — must match the writer's exactly)
    val footerReader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(fsPath, conf))
    val requested =
      try {
        val full = footerReader.getFooter.getFileMetaData.getSchema
        new org.apache.parquet.schema.MessageType(full.getName,
          full.getFields.stream()
            .filter(f => f.getName == "seg_hash" || f.getName == "graph")
            .toArray.map(_.asInstanceOf[org.apache.parquet.schema.Type]): _*)
      } finally footerReader.close()
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      requested.toString)
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), fsPath)
      .withConf(conf)
      .build()
    try {
      val out = Map.newBuilder[Long, HnswIndex.Hnsw]
      var g = reader.read()
      while (g != null) {
        val h = g.getLong("seg_hash", 0)
        val bytes = g.getBinary("graph", 0).getBytes
        out += h -> HnswIndex.residentPut(h, bytes)
        g = reader.read()
      }
      out.result()
    } finally reader.close()
  }

  // -------------------------------------------------- maintenance

  /** Decode the stored graphs back to raw rows — the graphs carry their
    * vectors, so maintenance never needs a separate copy of the corpus.
    * Output columns: (centroid_id, `idCol`, `embCol`). */
  def readVectors(spark: SparkSession, path: String,
                  embCol: String, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("centroid_id", IntegerType, nullable = false),
      StructField(idCol, LongType, nullable = false),
      StructField(embCol, ArrayType(FloatType, containsNull = false),
        nullable = false)))
    spark.read.parquet(path)
      .select(col("centroid_id").cast("int"), col("graph"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val cid = r.getInt(0)
          val index = new HnswIndex.Hnsw(0, HnswIndex.Params())
          index.loadFrom(r.getAs[Array[Byte]](1))
          index.entries.map { case (id, v) => Row(cid, id, v.toSeq) }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Check a stored routed index for centroid drift and re-cluster when
    * degraded — [[IvfIndex.maintainIndex]]'s contract for the routed
    * family (rebuild on cell-size skew; otherwise k-means the CURRENT
    * contents, adopt only if mean intra-cell distance improves ≥ 10 %).
    * The corpus is recovered from the graphs themselves
    * ([[readVectors]]); a rebuild stages into a sibling directory,
    * swaps in atomically, and refreshes the `_graft_ann` descriptor.
    * Single-writer, like every index mutation here. */
  def maintainIndex(spark: SparkSession, path: String,
                    embCol: String, idCol: String,
                    cs: Array[(Int, Array[Float])], nCells: Int,
                    maxSkew: Double = 4.0, improveFactor: Double = 0.9,
                    kmeansIters: Int = 3)
      : (Array[(Int, Array[Float])], Boolean) = {
    val data = readVectors(spark, path, embCol, idCol).localCheckpoint(true)
    val stats = IvfIndex.indexStats(
      data.select(col("centroid_id"), col(embCol)), embCol, cs)
    val oldDesc =
      try Some(graft.plans.AnnCatalog.readDescriptor(path))
      catch { case scala.util.control.NonFatal(_) => None }
    val raw = data.drop("centroid_id")
    val candidate = {
      val cand = IvfIndex.kmeansCentroids(raw, embCol, idCol, nCells, kmeansIters)
      if (IvfIndex.isStale(stats, maxSkew)) cand
      else {
        val candIntra = IvfIndex.meanIntraDist(
          IvfIndex.build(raw, embCol, idCol, cand)
            .select(col("centroid_id"), col(embCol)), embCol, cand)
        if (candIntra < improveFactor * stats.meanIntraDist) cand
        else return (cs, false)
      }
    }
    val (m, efC, cap) = readMeta(spark, path)
      .getOrElse((HnswIndex.Params().m, HnswIndex.Params().efConstruction, 500000))
    val staging = path.stripSuffix("/") + "._rebuild"
    writeRoutedIndex(raw, embCol, idCol, staging, candidate,
      HnswIndex.Params(m = m, efConstruction = efC), cap,
      quantized = readMetaQuantized(spark, path))
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(staging), p),
      s"could not swap rebuilt routed index into $path")
    oldDesc.foreach {
      case graft.plans.AnnCatalog.RoutedHnswEntry(_, e, i, _, nProbe, params) =>
        graft.plans.AnnCatalog.persistDescriptor(
          graft.plans.AnnCatalog.RoutedHnswEntry(path, e, i, candidate,
            nProbe, params))
      case _ => ()
    }
    (candidate, true)
  }

  // ------------------------------------------- persisted build params

  private val MetaFile = "_graft_rhnsw_meta"
  private val MetaMagic = "GRHN"

  private def writeMeta(spark: SparkSession, path: String,
                        p: HnswIndex.Params, cap: Int,
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

  /** v2 sidecar int8-at-rest flag; false for v1/missing sidecars. */
  def readMetaQuantized(spark: SparkSession, path: String): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return false
    val in = new java.io.DataInputStream(fs.open(p))
    try {
      val magic = new Array[Byte](4); in.readFully(magic)
      require(new String(magic, "US-ASCII") == MetaMagic,
        s"not a graft routed-HNSW meta sidecar: $p")
      val version = in.readInt()
      if (version < 2) false
      else { in.readInt(); in.readInt(); in.readInt(); in.readInt() == 1 }
    } finally in.close()
  }

  /** (m, efConstruction, maxPartitionRows) persisted by
    * [[writeRoutedIndex]]. The centroids live in the `_graft_ann`
    * descriptor ([[graft.plans.AnnCatalog.persistDescriptor]]). */
  def readMeta(spark: SparkSession, path: String): Option[(Int, Int, Int)] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = new java.io.DataInputStream(fs.open(p))
      try {
        val magic = new Array[Byte](4); in.readFully(magic)
        require(new String(magic, "US-ASCII") == MetaMagic,
          s"not a graft routed-HNSW meta sidecar: $p")
        in.readInt() // version
        Some((in.readInt(), in.readInt(), in.readInt()))
      } finally in.close()
    }
  }
}
