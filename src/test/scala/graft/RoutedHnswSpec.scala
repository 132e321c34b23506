package graft

import graft.plans.AnnCatalog
import graft.vector.{HnswIndex, IvfIndex, RoutedHnsw, VectorFunctions}
import org.apache.spark.sql.functions.{col, count, lit}

class RoutedHnswSpec extends SparkSpec {
  import spark.implicits._

  private def clustered(n: Int, nCenters: Int, dim: Int, seed: Int,
                        spread: Double = 0.2) = {
    val rng = new scala.util.Random(seed)
    val centers = Array.fill(nCenters)(Array.fill(dim)(rng.nextGaussian().toFloat * 5))
    val data = (0 until n).map { i =>
      val c = centers(i % nCenters)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * spread).toFloat))
    }.toDF("id", "emb")
    (data, centers)
  }

  test("exhaustive efSearch: routed probe is bit-identical to IVF at the same centroids") {
    // the oracle contract q178 relies on: routing is IvfIndex.search's
    // (same assignment, same cell choice) and an exhaustive in-cell
    // walk returns the cell's exact top-k — so routed == IVF, row for row
    val (data, _) = clustered(2000, 8, 16, seed = 3)
    val cs = IvfIndex.centroids(data, "emb", "id", 8)
    val dir = java.nio.file.Files.createTempDirectory("rhnsw").toString + "/idx"
    RoutedHnsw.writeRoutedIndex(data, "emb", "id", dir, cs,
      HnswIndex.Params(m = 8, efConstruction = 64))
    val q = data.filter(col("id") === 7L).head().getSeq[Float](1).toArray
    val routed = RoutedHnsw.search(spark, dir, "id", cs, q, k = 15, nProbe = 3,
      HnswIndex.Params(efSearch = 1 << 20)).collect()
    val ivf = IvfIndex.search(IvfIndex.build(data, "emb", "id", cs),
      "emb", "id", cs, q, k = 15, nProbe = 3).collect()
    assert(routed.map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toSeq ==
      ivf.map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toSeq)
  }

  test("recall at production efSearch on clustered data") {
    val (data, centers) = clustered(8000, 16, 16, seed = 11, spread = 0.4)
    val cs = IvfIndex.kmeansCentroids(data, "emb", "id", 16, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("rhnsw-r").toString + "/idx"
    RoutedHnsw.writeRoutedIndex(data, "emb", "id", dir, cs,
      HnswIndex.Params(m = 8, efConstruction = 64))
    val recalls = centers.take(4).map { q =>
      val ann = RoutedHnsw.search(spark, dir, "id", cs, q, k = 20, nProbe = 4,
        HnswIndex.Params(efSearch = 64)).collect().map(_.getLong(0)).toSet
      val exact = VectorFunctions.topK(data, "emb", "id", q, 20)
        .collect().map(_.getLong(0)).toSet
      (ann intersect exact).size.toDouble / exact.size
    }
    val recall = recalls.sum / recalls.length
    assert(recall >= 0.9, s"routed recall@20 fell to $recall (floor 0.9)")
  }

  test("probe reads only the routed cells' partitions (partition pruning)") {
    val (data, centers) = clustered(2000, 8, 16, seed = 31)
    val cs = IvfIndex.centroids(data, "emb", "id", 8)
    val dir = java.nio.file.Files.createTempDirectory("rhnsw-p").toString + "/idx"
    RoutedHnsw.writeRoutedIndex(data, "emb", "id", dir, cs)
    val probed = RoutedHnsw.search(spark, dir, "id", cs, centers(0),
      k = 10, nProbe = 2, HnswIndex.Params(efSearch = 1 << 20))
    probed.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case other => other.children.flatMap(scans)
    }
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      scans(df.queryExecution.executedPlan).headOption
        .getOrElse(fail("no file scan in probe plan"))
    val probedScan = scanOf(probed)
    val s = probedScan.toString
    assert(s.contains("PartitionFilters") &&
      s.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("centroid_id"), s"no centroid partition filter in:\n$s")
    val fullDf = spark.read.parquet(dir).agg(count(lit(1)))
    fullDf.collect()
    val probedBytes = probedScan.metrics("filesSize").value
    val fullBytes = scanOf(fullDf).metrics("filesSize").value
    assert(probedBytes > 0 && fullBytes > 0)
    assert(probedBytes * 2 < fullBytes,
      s"probe read $probedBytes of $fullBytes bytes — not pruned")
    info(f"pruned: $probedBytes of $fullBytes bytes " +
      f"(${probedBytes.toDouble / fullBytes * 100}%.1f%%)")
  }

  test("fat cell splits into salted sub-graphs; results unchanged; cap enforced") {
    val (data, _) = clustered(1200, 4, 8, seed = 7)
    val cs = IvfIndex.centroids(data, "emb", "id", 4)
    val dirBig = java.nio.file.Files.createTempDirectory("rhnsw-c").toString + "/big"
    val dirSplit = java.nio.file.Files.createTempDirectory("rhnsw-c").toString + "/split"
    RoutedHnsw.writeRoutedIndex(data, "emb", "id", dirBig, cs)
    // cap far below the per-cell row count forces multiple sub-graphs
    RoutedHnsw.writeRoutedIndex(data, "emb", "id", dirSplit, cs,
      maxPartitionRows = 100)
    val graphsPerCell = spark.read.parquet(dirSplit)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    assert(graphsPerCell.exists(_ > 1), "expected salted sub-graph split")
    // per-sub-graph top-k composes: exhaustive walks give identical answers
    val q = data.filter(col("id") === 3L).head().getSeq[Float](1).toArray
    val a = RoutedHnsw.search(spark, dirBig, "id", cs, q, 10, 2,
      HnswIndex.Params(efSearch = 1 << 20)).collect().map(_.getLong(0)).toSeq
    val b = RoutedHnsw.search(spark, dirSplit, "id", cs, q, 10, 2,
      HnswIndex.Params(efSearch = 1 << 20)).collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("searchMany routes per query and matches per-query search") {
    val (data, centers) = clustered(2000, 8, 16, seed = 17)
    val cs = IvfIndex.centroids(data, "emb", "id", 8)
    val dir = java.nio.file.Files.createTempDirectory("rhnsw-m").toString + "/idx"
    RoutedHnsw.writeRoutedIndex(data, "emb", "id", dir, cs)
    val queries = centers.take(3).zipWithIndex.map { case (q, i) => (i.toLong, q) }.toSeq
    val many = RoutedHnsw.searchMany(spark, dir, "id", cs, queries, k = 8,
        nProbe = 2, HnswIndex.Params(efSearch = 1 << 20))
      .collect().groupBy(_.getLong(0))
    queries.foreach { case (qid, q) =>
      val single = RoutedHnsw.search(spark, dir, "id", cs, q, 8, 2,
        HnswIndex.Params(efSearch = 1 << 20)).collect().map(_.getLong(0)).toSeq
      assert(many(qid).map(_.getLong(1)).toSeq == single)
    }
  }

  test("descriptor round-trip: registerAndPersist then attach restores the entry") {
    val (data, _) = clustered(500, 4, 8, seed = 23)
    val cs = IvfIndex.centroids(data, "emb", "id", 4)
    val tmp = java.nio.file.Files.createTempDirectory("rhnsw-d").toString
    data.write.mode("overwrite").parquet(s"$tmp/base")
    RoutedHnsw.writeRoutedIndex(data, "emb", "id", s"$tmp/idx", cs,
      HnswIndex.Params(m = 6, efConstruction = 32, efSearch = 24))
    val entry = AnnCatalog.RoutedHnswEntry(s"$tmp/idx", "emb", "id", cs,
      nProbe = 3, HnswIndex.Params(m = 6, efConstruction = 32, efSearch = 24))
    AnnCatalog.registerAndPersist(s"$tmp/base", entry)
    AnnCatalog.clear()
    val restored = AnnCatalog.attach(s"$tmp/base", s"$tmp/idx")
    restored match {
      case AnnCatalog.RoutedHnswEntry(p, e, i, rcs, np, params) =>
        assert(p == s"$tmp/idx" && e == "emb" && i == "id" && np == 3)
        assert(params == HnswIndex.Params(6, 32, 24))
        assert(rcs.length == cs.length)
        assert(rcs.zip(cs).forall { case ((c1, v1), (c2, v2)) =>
          c1 == c2 && v1.sameElements(v2) })
      case other => fail(s"wrong entry restored: $other")
    }
    AnnCatalog.clear()
    // build-params sidecar survives too
    assert(RoutedHnsw.readMeta(spark, s"$tmp/idx").contains((6, 32, 500000)))
  }

  test("SQL lifecycle: CREATE USING ROUTED_HNSW plans the brute top-k onto the probe") {
    // the shared session is built with GraftExtensions: it has the
    // injected GRAFT parser
    try {
      AnnCatalog.clear()
      spark.conf.set("spark.graft.ann.minTableBytes", "0")
      val rng = new scala.util.Random(41)
      val centers = Array.fill(6)(Array.fill(16)(rng.nextGaussian().toFloat * 5))
      val data = (0 until 1500).map { i =>
        val c = centers(i % 6)
        (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.2).toFloat))
      }.toDF("id", "emb")
      val tmp = java.nio.file.Files.createTempDirectory("rhnsw-sql").toString
      data.write.mode("overwrite").parquet(s"$tmp/base")
      val msg = spark.sql(
        s"GRAFT CREATE ANN INDEX USING ROUTED_HNSW ON '$tmp/base' (emb, id) " +
          s"AT '$tmp/idx' OPTIONS (cells=6, nprobe=2, ef_search=1048576)")
        .head().getString(0)
      assert(msg.contains("routed_hnsw"))
      assert(spark.sql("GRAFT SHOW ANN INDEXES").collect()
        .exists(r => r.getString(1) == "routed_hnsw"))
      val cs = AnnCatalog.lookup(Seq(s"$tmp/base")) match {
        case Some(AnnCatalog.RoutedHnswEntry(_, _, _, c, _, _)) => c
        case other => fail(s"unexpected entry $other")
      }
      val base = spark.read.parquet(s"$tmp/base")
      val q = data.filter(col("id") === 11L).head().getSeq[Float](1).toArray
      val planned = VectorFunctions.topK(base, "emb", "id", q, 10)
      // the rewrite fired: plan reads the index's centroid partitions,
      // not a brute-force global sort over the base table
      val plan = planned.queryExecution.optimizedPlan.toString
      assert(plan.contains("centroid_id"), s"probe not planned:\n$plan")
      val viaRule = planned.collect().map(_.getLong(0)).toSeq
      val direct = RoutedHnsw.search(spark, s"$tmp/idx", "id", cs, q, 10, 2,
        HnswIndex.Params(efSearch = 1 << 20)).collect().map(_.getLong(0)).toSeq
      assert(viaRule == direct)
      spark.sql(s"GRAFT DROP ANN INDEX ON '$tmp/base'").collect()
    } finally AnnCatalog.clear()
  }

  test("int8 at-rest routed index: near-float recall, smaller store, " +
       "adds and maintenance stay quantized") {
    val (data, centers) = clustered(3000, 8, 32, seed = 41, spread = 1.0)
    val cs = IvfIndex.centroids(data, "emb", "id", 8)
    val dirF = java.nio.file.Files
      .createTempDirectory("rhnsw-q").toString + "/f"
    val dirQ = java.nio.file.Files
      .createTempDirectory("rhnsw-q").toString + "/q"
    val p = HnswIndex.Params(m = 8, efConstruction = 64, efSearch = 64)
    RoutedHnsw.writeRoutedIndex(data, "emb", "id", dirF, cs, p)
    RoutedHnsw.writeRoutedIndex(data, "emb", "id", dirQ, cs, p,
      quantized = true)
    assert(!RoutedHnsw.readMetaQuantized(spark, dirF))
    assert(RoutedHnsw.readMetaQuantized(spark, dirQ))

    def ids(dir: String) = RoutedHnsw
      .search(spark, dir, "id", cs, centers(2), k = 20, nProbe = 3, p)
      .collect().map(_.getLong(0)).toSet
    val recall = (ids(dirQ) intersect ids(dirF)).size.toDouble / 20
    info(f"routed sq8 recall vs float: $recall%.2f")
    assert(recall >= 0.9)

    def dirBytes(d: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(d))
    }
    val (bf, bq) = (dirBytes(dirF), dirBytes(dirQ))
    info(f"at rest: float=$bf%d B sq8=$bq%d B ratio=${bq.toDouble / bf}%.2f")
    assert(bq * 2 < bf)

    // the stored form is quantized
    assert(spark.read.parquet(dirQ).select("graph").collect()
      .forall(r => java.nio.ByteBuffer
        .wrap(r.getAs[Array[Byte]](0), 0, 4).getInt == -2))
    assert(spark.read.parquet(dirQ)
      .selectExpr("sum(n_vectors)").head().getLong(0) == 3000L)
    // readVectors recovers dequantized rows (maintenance path works)
    assert(RoutedHnsw.readVectors(spark, dirQ, "emb", "id").count() == 3000L)
  }

  test("maintenance: drifted corpus detected and re-clustered from the graphs alone") {
    // build over cluster A only, then a maintenance-triggering check:
    // the stored index IS the corpus (readVectors), no base copy needed
    val rng = new scala.util.Random(53)
    val cA = Array.fill(4)(Array.fill(8)(rng.nextGaussian().toFloat * 5))
    val dataA = (0 until 800).map { i =>
      (i.toLong, cA(i % 4).map(x => (x + rng.nextGaussian() * 0.2).toFloat))
    }.toDF("id", "emb")
    val cs = IvfIndex.centroids(dataA, "emb", "id", 4)
    val tmp = java.nio.file.Files.createTempDirectory("rhnsw-maint").toString
    val dir = s"$tmp/idx"
    RoutedHnsw.writeRoutedIndex(dataA, "emb", "id", dir, cs)
    // decode round-trip: graphs carry the corpus
    assert(RoutedHnsw.readVectors(spark, dir, "emb", "id").count() == 800)
    // drift: a NEW far-away cluster lands in whichever old cells are
    // nearest — rebuild by maintenance should re-derive better centroids
    val cNew = Array.fill(8)(20f + rng.nextGaussian().toFloat)
    val drift = (800 until 1600).map { i =>
      (i.toLong, cNew.map(x => (x + rng.nextGaussian() * 0.2).toFloat))
    }.toDF("id", "emb")
    // grow the index through a rebuild of the union (routed adds go
    // through write; incremental add is the HNSW family's path)
    RoutedHnsw.writeRoutedIndex(dataA.union(drift), "emb", "id", dir, cs)
    val (newCs, rebuilt) = RoutedHnsw.maintainIndex(spark, dir, "emb", "id",
      cs, nCells = 4, maxSkew = 100.0, improveFactor = 0.9, kmeansIters = 2)
    assert(rebuilt, "drifted index should re-cluster")
    // the re-clustered index serves the drifted region with good recall
    // (nProbe=2: 4 k-means cells over 5 natural clusters may split the
    // new region across two cells — routing recall, not a graph defect)
    val ann = RoutedHnsw.search(spark, dir, "id", newCs, cNew, 10, 2,
      HnswIndex.Params(efSearch = 1 << 20)).collect().map(_.getLong(0)).toSet
    val exact = VectorFunctions.topK(dataA.union(drift), "emb", "id", cNew, 10)
      .collect().map(_.getLong(0)).toSet
    assert((ann intersect exact).size >= 9)
  }

  test("writeRoutedIndexPair == two writeRoutedIndex calls, blob for blob") {
    // r13 (q186): both variants from one persisted routing pass must be
    // indistinguishable at rest from two independent builds — same
    // (cell, n_vectors, seg_hash) manifest rows per variant, and the
    // quantized flag round-trips through each variant's meta.
    val (data, _) = clustered(3000, 8, 16, seed = 47)
    val cs = IvfIndex.centroids(data, "emb", "id", 8)
    val base = java.nio.file.Files.createTempDirectory("rhnsw-pair").toString
    val p = HnswIndex.Params(m = 8, efConstruction = 64)
    RoutedHnsw.writeRoutedIndexPair(data, "emb", "id",
      s"$base/pf", s"$base/pq", cs, p)
    RoutedHnsw.writeRoutedIndex(data, "emb", "id", s"$base/sf", cs, p)
    RoutedHnsw.writeRoutedIndex(data, "emb", "id", s"$base/sq", cs, p,
      quantized = true)
    def manifest(dir: String) = spark.read.parquet(dir)
      .select("centroid_id", "n_vectors", "seg_hash")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(manifest(s"$base/pf") == manifest(s"$base/sf"))
    assert(manifest(s"$base/pq") == manifest(s"$base/sq"))
    // float and int8 blobs must actually differ (the pair didn't write
    // the same variant twice)
    assert(manifest(s"$base/pf") != manifest(s"$base/pq"))
  }
}
