package graft

import graft.vector.{IvfIndex, VectorFunctions}
import org.apache.spark.sql.functions.{count, lit}

class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  test("IVF search achieves high recall on clustered data at a fraction of the scan") {
    val rng = new scala.util.Random(11)
    // 4 well-separated clusters of 100 points in 16-d
    val centers = Array.fill(4)(Array.fill(16)(rng.nextGaussian().toFloat * 5))
    val data = (0 until 400).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.1).toFloat))
    }.toDF("id", "emb")
    val query = centers(0)

    val cs = IvfIndex.centroids(data, "emb", "id", 8)
    val index = IvfIndex.build(data, "emb", "id", cs)

    // every vector lands in exactly one cell; cells cover the data
    assert(index.count() == 400)
    assert(index.select("centroid_id").distinct().count() <= 8)

    val ann = IvfIndex.search(index, "emb", "id", cs, query, k = 10, nProbe = 3)
      .collect().map(_.getLong(0)).toSet
    val exact = VectorFunctions.topK(data, "emb", "id", query, 10)
      .collect().map(_.getLong(0)).toSet
    assert((ann intersect exact).size >= 9, s"recall too low: $ann vs $exact")
  }

  test("int8 quantized probe: same routing, near-float recall, ~4x " +
       "smaller at rest") {
    val rng = new scala.util.Random(13)
    val centers = Array.fill(8)(Array.fill(32)(rng.nextGaussian().toFloat * 5))
    // spread 1.0: neighbors separated by more than the quantization
    // step (at spread 0.3 the in-cluster top-20 is decided by sub-step
    // cosine margins and recall drops to ~0.85 — the near-tie worst
    // case any approximate probe has)
    val data = (0 until 4000).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 1.0).toFloat))
    }.toDF("id", "emb")
    val cs = IvfIndex.centroids(data, "emb", "id", 8)
    val index = IvfIndex.build(data, "emb", "id", cs)
    val dirF = java.nio.file.Files
      .createTempDirectory("ivf-sq8").toString + "/f"
    val dirQ = java.nio.file.Files
      .createTempDirectory("ivf-sq8").toString + "/q"
    IvfIndex.writeIndex(index, dirF)
    IvfIndex.writeIndex(IvfIndex.quantizeIndex(index, "emb", "id"), dirQ)

    // vs the FLOAT probe at identical routing — isolates quantization
    val query = centers(2)
    val floatIds = IvfIndex.search(IvfIndex.readIndex(spark, dirF),
        "emb", "id", cs, query, k = 20, nProbe = 3)
      .collect().map(_.getLong(0)).toSet
    val q8Ids = IvfIndex.searchQuantized(IvfIndex.readIndex(spark, dirQ),
        "id", cs, query, k = 20, nProbe = 3)
      .collect().map(_.getLong(0)).toSet
    val recall = (q8Ids intersect floatIds).size.toDouble / 20
    info(f"sq8 recall vs float probe: $recall%.2f")
    assert(recall >= 0.9, s"quantized recall $recall")

    // at-rest bytes: the quantized store holds the same rows at ~1/4
    // the embedding payload (ids/overhead keep the dir ratio < 0.5)
    def dirBytes(d: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(d))
    }
    val (bf, bq) = (dirBytes(dirF), dirBytes(dirQ))
    info(f"at rest: float=$bf%d B quantized=$bq%d B ratio=${bq.toDouble / bf}%.2f")
    assert(bq * 2 < bf, s"quantized store not smaller: $bq vs $bf")

    // determinism: two probes agree row-for-row
    val again = IvfIndex.searchQuantized(IvfIndex.readIndex(spark, dirQ),
        "id", cs, query, k = 20, nProbe = 3)
      .collect().map(_.getLong(0)).toSet
    assert(again == q8Ids)
  }

  test("10x corpus: recall holds above the declared floor (q39 parameters)") {
    // 10x the sf0.1 embeddings cardinality (20k vectors), clustered like
    // real embedding corpora; q39's serve shape (16 cells, nProbe 4) with
    // Lloyd-refined centroids. Declared floor: recall@20 >= 0.9 on
    // clustered data (PLANS.md records 0.7+ on worst-case unclustered).
    val rng = new scala.util.Random(7)
    val centers = Array.fill(16)(Array.fill(16)(rng.nextGaussian().toFloat * 4))
    val data = (0 until 20000).map { i =>
      val c = centers(i % 16)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.4).toFloat))
    }.toDF("id", "emb").repartition(8).cache()
    data.count()

    val cs = IvfIndex.kmeansCentroids(data, "emb", "id", 16, iters = 2)
    val index = IvfIndex.build(data, "emb", "id", cs).cache()
    index.count()
    val recalls = centers.take(4).map { q =>
      val ann = IvfIndex.search(index, "emb", "id", cs, q, k = 20, nProbe = 4)
        .collect().map(_.getLong(0)).toSet
      val exact = VectorFunctions.topK(data, "emb", "id", q, 20)
        .collect().map(_.getLong(0)).toSet
      (ann intersect exact).size.toDouble / exact.size
    }
    val recall = recalls.sum / recalls.length
    index.unpersist(); data.unpersist()
    assert(recall >= 0.9, s"recall@20 at 10x fell to $recall (floor 0.9)")
  }

  test("at-rest index: probe is partition PRUNING and reads a fraction of the bytes") {
    val rng = new scala.util.Random(31)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian().toFloat * 5))
    val data = (0 until 2000).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.2).toFloat))
    }.toDF("id", "emb")
    val cs = IvfIndex.centroids(data, "emb", "id", 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf-idx").toString + "/index"
    IvfIndex.writeIndex(IvfIndex.build(data, "emb", "id", cs), dir)

    val atRest = IvfIndex.readIndex(spark, dir)
    val query = centers(0)
    val probed = IvfIndex.search(atRest, "emb", "id", cs, query, k = 10, nProbe = 2)
    // same answer through the at-rest path as through the in-memory frame
    val inMem = IvfIndex.search(IvfIndex.build(data, "emb", "id", cs),
      "emb", "id", cs, query, k = 10, nProbe = 2)
    assert(probed.collect().map(_.getLong(0)).toSeq ==
      inMem.collect().map(_.getLong(0)).toSeq)

    // the cell filter must land in PartitionFilters (file-listing time),
    // not PushedFilters (row time)
    // the probe has an exchange, so AQE wraps it: the file scan hides
    // inside adaptive wrappers and materialized query stages, which
    // collectLeaves treats as opaque — recurse through them explicitly
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

    // executed-scan metrics: the probe reads only the 2 probed cells'
    // files and a fraction of the stored bytes
    val fullDf = atRest.agg(count(lit(1)))
    fullDf.collect() // execute so the baseline scan's metrics populate
    val fullScan = scanOf(fullDf)
    val probedFiles = probedScan.metrics("numFiles").value
    val probedBytes = probedScan.metrics("filesSize").value
    val fullBytes = fullScan.metrics("filesSize").value
    assert(probedBytes > 0 && fullBytes > 0)
    assert(probedBytes * 2 < fullBytes,
      s"probe read $probedBytes of $fullBytes bytes — not pruned")
    info(s"pruned scan: $probedFiles files, $probedBytes of $fullBytes bytes " +
      f"(${probedBytes.toDouble / fullBytes * 100}%.1f%%)")
  }

  test("maintenance: angular drift detected via intra-cell distance, re-cluster repairs recall") {
    val rng = new scala.util.Random(23)
    val dim = 8
    // clusters separated by ANGLE (cosine assignment cares about
    // direction, not magnitude)
    def cluster(dir: Array[Float], n: Int, from: Int): Seq[(Long, Array[Float])] =
      (0 until n).map { i =>
        ((from + i).toLong,
          dir.map(x => x * 5f + (rng.nextGaussian() * 0.3).toFloat))
      }
    val xPos = Array.tabulate(dim)(i => if (i == 0) 1f else 0f)
    val xNeg = Array.tabulate(dim)(i => if (i == 0) -1f else 0f)
    val yPos = Array.tabulate(dim)(i => if (i == 1) 1f else 0f)
    val base = cluster(xPos, 80, 0) ++ cluster(xNeg, 80, 80)
    val dir = java.nio.file.Files.createTempDirectory("ivf-maint").toString

    val baseDf = base.toDF("id", "emb")
    val cs0 = IvfIndex.kmeansCentroids(baseDf, "emb", "id", 3, iters = 3)
    IvfIndex.writeIndex(IvfIndex.build(baseDf, "emb", "id", cs0), s"$dir/idx")
    graft.plans.AnnCatalog.persistDescriptor(
      graft.plans.AnnCatalog.IvfEntry(s"$dir/idx", "emb", "id", cs0, 1))
    val healthy = IvfIndex.indexStats(
      IvfIndex.readIndex(spark, s"$dir/idx"), "emb", cs0)
    // a fresh k-means index re-derives its own centroids → no-op
    val (keep, rebuilt0) = IvfIndex.maintainIndex(spark, s"$dir/idx",
      "emb", "id", cs0, nCentroids = 3)
    assert(!rebuilt0)
    assert(keep.map(_._2.toSeq).toSeq == cs0.map(_._2.toSeq).toSeq)

    // DRIFT: a new topic cluster along +y, 90° from both old clusters.
    // Its rows split across the old cells by jitter tip, so CELL SIZES
    // stay balanced — the skew check alone cannot see this — but every
    // drifted row sits ~90° from its cell centroid, so the mean
    // intra-cell distance explodes.
    // The drifted index routes every row through the OLD centroids.
    val drift = cluster(yPos, 240, 1000)
    IvfIndex.writeIndex(IvfIndex.build((base ++ drift).toDF("id", "emb"),
      "emb", "id", cs0), s"$dir/idx")
    graft.plans.AnnCatalog.persistDescriptor(
      graft.plans.AnnCatalog.IvfEntry(s"$dir/idx", "emb", "id", cs0, 1))
    val drifted = IvfIndex.indexStats(
      IvfIndex.readIndex(spark, s"$dir/idx"), "emb", cs0)
    assert(drifted.meanIntraDist > healthy.meanIntraDist * 3,
      s"drift should blow up intra-cell distance: $healthy -> $drifted")

    // recall at the drift center with nProbe=1 BEFORE repair: one
    // probed old cell holds only part of the split new cluster
    val all = (base ++ drift).toDF("id", "emb")
    val exact = VectorFunctions.topK(all, "emb", "id", yPos, 20)
      .collect().map(_.getLong(0)).toSet
    def recallAt(cs: Array[(Int, Array[Float])]): Double = {
      val got = IvfIndex.search(IvfIndex.readIndex(spark, s"$dir/idx"),
          "emb", "id", cs, yPos, 20, nProbe = 1)
        .collect().map(_.getLong(0)).toSet
      (got & exact).size.toDouble / exact.size
    }
    val recallBefore = recallAt(cs0)

    // repair: the recluster-if-improves comparison triggers the rebuild
    // (cell sizes alone stayed balanced); the drift cluster gets its
    // own centroid and nProbe=1 recall is restored
    val (cs1, rebuilt) = IvfIndex.maintainIndex(spark, s"$dir/idx",
      "emb", "id", cs0, nCentroids = 3)
    assert(rebuilt, "angular drift must trigger the re-cluster")
    val repaired = IvfIndex.indexStats(
      IvfIndex.readIndex(spark, s"$dir/idx"), "emb", cs1)
    assert(repaired.rows == 400)
    assert(repaired.meanIntraDist < drifted.meanIntraDist / 3,
      s"rebuild did not re-tighten cells: $drifted -> $repaired")
    val recallAfter = recallAt(cs1)
    assert(recallAfter >= 0.95,
      s"re-cluster should restore nProbe=1 recall: $recallBefore -> $recallAfter")
    assert(recallAfter >= recallBefore)
    // the at-rest descriptor now carries the NEW centroids (nProbe kept)
    graft.plans.AnnCatalog.readDescriptor(s"$dir/idx") match {
      case graft.plans.AnnCatalog.IvfEntry(_, _, _, rcs, nProbe) =>
        assert(nProbe == 1)
        assert(rcs.map(_._2.toSeq).toSeq == cs1.map(_._2.toSeq).toSeq)
      case other => fail(s"wrong descriptor kind after maintenance: $other")
    }
  }

  test("centroid pick is deterministic") {
    val data = (0 until 50).map(i => (i.toLong, Array.fill(4)(i.toFloat))).toDF("id", "emb")
    val c1 = IvfIndex.centroids(data, "emb", "id", 4).map(_._1).toSeq
    val c2 = IvfIndex.centroids(data, "emb", "id", 4).map(_._1).toSeq
    assert(c1 == c2)
  }

  test("k-means refinement: deterministic, and recall >= hash-seed recall") {
    val rng = new scala.util.Random(23)
    // 8 clusters, mildly overlapping — where seed choice actually matters
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian().toFloat * 3))
    val data = (0 until 800).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.5).toFloat))
    }.toDF("id", "emb").cache()

    val seed = IvfIndex.centroids(data, "emb", "id", 8)
    val trained = IvfIndex.kmeansCentroids(data, "emb", "id", 8, iters = 3)
    val trained2 = IvfIndex.kmeansCentroids(data, "emb", "id", 8, iters = 3)
    assert(trained.map(_._2.toSeq).toSeq == trained2.map(_._2.toSeq).toSeq,
      "k-means must be deterministic")

    def recall(cs: Array[(Int, Array[Float])]): Double = {
      val index = IvfIndex.build(data, "emb", "id", cs)
      val queries = centers.take(4)
      queries.map { q =>
        val ann = IvfIndex.search(index, "emb", "id", cs, q, k = 10, nProbe = 2)
          .collect().map(_.getLong(0)).toSet
        val exact = VectorFunctions.topK(data, "emb", "id", q, 10)
          .collect().map(_.getLong(0)).toSet
        (ann intersect exact).size.toDouble / exact.size
      }.sum / queries.length
    }
    val rTrained = recall(trained)
    val rSeed = recall(seed)
    assert(rTrained >= rSeed, s"kmeans=$rTrained < seed=$rSeed")
    assert(rTrained >= 0.8, s"kmeans recall too low: $rTrained")
  }
}
