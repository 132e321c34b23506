package graft

import graft.plans.AnnCatalog
import graft.vector.{HnswIndex, IvfIndex, VectorFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col

/** Transparent ANN planning: a stored index registered against a table
  * path makes the naturally-written brute-force top-k plan into an index
  * probe — the reference's `ORDER BY embedding <=> q LIMIT k` contract
  * (database.py:201-210), where the planner, not the query, picks the
  * index. */
class AnnIndexRuleSpec extends SparkSpec {
  import spark.implicits._

  /** The suite's tables are tiny by design — disable the size-based
    * cost gate so the rewrite paths are observable (the gate has its own
    * test below). The rule itself is installed at session build. */
  private def gateOff(): Unit =
    spark.conf.set("spark.graft.ann.minTableBytes", "0")

  /** All V1 file scans in the executed plan, recursing through AQE
    * wrappers (the IvfIndexSpec pattern). */
  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scans(q.plan)
    case other => other.children.flatMap(scans)
  }

  private def scanRoots(df: DataFrame): Seq[String] =
    scans(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))

  /** 3 well-separated clusters written to a parquet "table". */
  private def writeBase(n: Int = 300, dim: Int = 8): (String, Array[Array[Float]]) = {
    val rng = new scala.util.Random(5)
    val centers = Array.fill(3)(Array.fill(dim)(rng.nextGaussian().toFloat * 5))
    val data = (0 until n).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.2).toFloat))
    }.toDF("vec_id", "embedding").repartition(4)
    val dir = java.nio.file.Files.createTempDirectory("ann-rule").toString
    data.write.parquet(s"$dir/base")
    (dir, centers)
  }

  test("IVF: registered index turns brute-force top-k into a pruned index probe") {
    gateOff()
    val (dir, centers) = writeBase()
    try {
      val base = spark.read.parquet(s"$dir/base")
      val cs = IvfIndex.centroids(base, "embedding", "vec_id", 6)
      IvfIndex.writeIndex(IvfIndex.build(base, "embedding", "vec_id", cs),
        s"$dir/ivf")
      AnnCatalog.register(s"$dir/base",
        AnnCatalog.IvfEntry(s"$dir/ivf", "embedding", "vec_id", cs, nProbe = 2))

      val q = centers(0)
      val df = VectorFunctions.topK(base, "embedding", "vec_id", q, 10)
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

      // the plan scans the INDEX with a centroid partition filter — the
      // base table is not read at all
      val roots = scanRoots(df)
      assert(roots.exists(_.contains("/ivf")), s"no index scan in $roots")
      assert(!roots.exists(_.contains("/base")), s"base table still scanned: $roots")
      val s = scans(df.queryExecution.executedPlan)
        .find(_.relation.location.rootPaths.head.toString.contains("/ivf"))
        .get.toString
      assert(s.contains("PartitionFilters") &&
        s.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
          .contains("centroid_id"), s"no centroid partition filter:\n$s")

      // identical rows to the explicit probe API
      val direct = IvfIndex.search(spark.read.parquet(s"$dir/ivf"),
          "embedding", "vec_id", cs, q, 10, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == direct)
    } finally AnnCatalog.clear()
  }

  test("HNSW: registered graph index answers the query; exact at covering ef") {
    gateOff()
    val (dir, centers) = writeBase()
    try {
      val base = spark.read.parquet(s"$dir/base")
      HnswIndex.writeGraphIndex(base, "embedding", "vec_id", s"$dir/hnsw",
        HnswIndex.Params(m = 8, efConstruction = 64))
      AnnCatalog.register(s"$dir/base",
        AnnCatalog.HnswEntry(s"$dir/hnsw", "embedding", "vec_id",
          HnswIndex.Params(efSearch = 1 << 20)))

      val q = centers(1)
      val df = VectorFunctions.topK(base, "embedding", "vec_id", q, 10)
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

      val roots = scanRoots(df)
      assert(roots.exists(_.contains("/hnsw")), s"no graph scan in $roots")
      assert(!roots.exists(_.contains("/base")), s"base table still scanned: $roots")

      // covering efSearch ⇒ probe is exact ⇒ equals brute force,
      // computed here WITHOUT the catalog entry. Scores agree to 1e-9
      // (the graph walk computes sqrt(na)·sqrt(nb), codegen sqrt(na·nb) —
      // one ulp apart; the 4dp-rounding oracle convention absorbs it)
      AnnCatalog.clear()
      val brute = VectorFunctions.topK(base, "embedding", "vec_id", q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == brute.map(_._1))
      got.zip(brute).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-9, s"$a vs $b")
      }
    } finally AnnCatalog.clear()
  }

  test("SQL form plans into the same probe") {
    gateOff()
    val (dir, centers) = writeBase()
    try {
      val base = spark.read.parquet(s"$dir/base")
      val cs = IvfIndex.centroids(base, "embedding", "vec_id", 6)
      IvfIndex.writeIndex(IvfIndex.build(base, "embedding", "vec_id", cs),
        s"$dir/ivf")
      AnnCatalog.register(s"$dir/base",
        AnnCatalog.IvfEntry(s"$dir/ivf", "embedding", "vec_id", cs, nProbe = 2))
      base.createOrReplaceTempView("ann_rule_base")
      val q = centers(2)
      val qSql = q.mkString("array(", "F,", "F)")
      val df = spark.sql(
        s"""SELECT vec_id, cosine_sim(embedding, $qSql) AS score
           |FROM ann_rule_base ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)
      val got = df.collect().map(_.getLong(0)).toSeq
      assert(scanRoots(df).exists(_.contains("/ivf")),
        s"SQL form not rewritten: ${scanRoots(df)}")
      val direct = IvfIndex.search(spark.read.parquet(s"$dir/ivf"),
          "embedding", "vec_id", cs, q, 10, nProbe = 2)
        .collect().map(_.getLong(0)).toSeq
      assert(got == direct)
    } finally AnnCatalog.clear()
  }

  test("pgvector distance form: orderBy(cosine_dist.asc_nulls_last).limit(k) rewrites") {
    gateOff()
    val (dir, centers) = writeBase()
    try {
      val base = spark.read.parquet(s"$dir/base")
      val cs = IvfIndex.centroids(base, "embedding", "vec_id", 6)
      IvfIndex.writeIndex(IvfIndex.build(base, "embedding", "vec_id", cs),
        s"$dir/ivf")
      AnnCatalog.register(s"$dir/base",
        AnnCatalog.IvfEntry(s"$dir/ivf", "embedding", "vec_id", cs, nProbe = 2))
      val q = centers(0)
      // the reference's literal shape: ORDER BY embedding <=> q LIMIT k
      val df = base.select(col("vec_id"),
          VectorFunctions.cosine_dist(col("embedding"),
            org.apache.spark.sql.functions.lit(q)).as("dist"))
        .orderBy(col("dist").asc_nulls_last, col("vec_id")).limit(10)
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(scanRoots(df).exists(_.contains("/ivf")),
        s"distance form not rewritten: ${scanRoots(df)}")
      val direct = IvfIndex.search(spark.read.parquet(s"$dir/ivf"),
          "embedding", "vec_id", cs, q, 10, nProbe = 2)
        .collect().map(r => (r.getLong(0), 1.0 - r.getDouble(1))).toSeq
      assert(got.map(_._1) == direct.map(_._1))
      got.zip(direct).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-12) }

      // plain .asc (nulls first) must NOT rewrite on a nullable column:
      // a null distance would lead the brute-force output but never the
      // probe's
      if (base.schema("embedding").nullable) {
        val ascFirst = base.select(col("vec_id"),
            VectorFunctions.cosine_dist(col("embedding"),
              org.apache.spark.sql.functions.lit(q)).as("dist"))
          .orderBy(col("dist").asc, col("vec_id")).limit(10)
        ascFirst.collect()
        assert(scanRoots(ascFirst).forall(_.contains("/base")))
      }
    } finally AnnCatalog.clear()
  }

  test("persisted registration: attach() restores the rewrite from the descriptor") {
    gateOff()
    val (dir, centers) = writeBase()
    try {
      val base = spark.read.parquet(s"$dir/base")
      val cs = IvfIndex.centroids(base, "embedding", "vec_id", 6)
      IvfIndex.writeIndex(IvfIndex.build(base, "embedding", "vec_id", cs),
        s"$dir/ivf")
      AnnCatalog.registerAndPersist(s"$dir/base",
        AnnCatalog.IvfEntry(s"$dir/ivf", "embedding", "vec_id", cs, nProbe = 2))
      // simulate a NEW session: in-memory registration gone
      AnnCatalog.clear()
      val cold = VectorFunctions.topK(base, "embedding", "vec_id", centers(0), 8)
      cold.collect()
      assert(scanRoots(cold).forall(_.contains("/base")), "cleared catalog must be brute force")

      val restored = AnnCatalog.attach(s"$dir/base", s"$dir/ivf")
      restored match {
        case AnnCatalog.IvfEntry(_, emb, id, rcs, np) =>
          assert(emb == "embedding" && id == "vec_id" && np == 2)
          assert(rcs.map(_._1).toSeq == cs.map(_._1).toSeq)
          assert(rcs.map(_._2.toSeq).toSeq == cs.map(_._2.toSeq).toSeq)
        case other => fail(s"wrong entry kind: $other")
      }
      val warm = VectorFunctions.topK(base, "embedding", "vec_id", centers(0), 8)
      val got = warm.collect().map(_.getLong(0)).toSeq
      assert(scanRoots(warm).exists(_.contains("/ivf")),
        s"attached index not used: ${scanRoots(warm)}")
      val direct = IvfIndex.search(spark.read.parquet(s"$dir/ivf"),
          "embedding", "vec_id", cs, centers(0), 8, nProbe = 2)
        .collect().map(_.getLong(0)).toSeq
      assert(got == direct)

      // HNSW descriptor round-trips too
      HnswIndex.writeGraphIndex(base, "embedding", "vec_id", s"$dir/hnsw")
      AnnCatalog.registerAndPersist(s"$dir/base2",
        AnnCatalog.HnswEntry(s"$dir/hnsw", "embedding", "vec_id",
          HnswIndex.Params(m = 8, efConstruction = 64, efSearch = 99)))
      AnnCatalog.clear()
      AnnCatalog.attach(s"$dir/base2", s"$dir/hnsw") match {
        case AnnCatalog.HnswEntry(_, _, _, p) =>
          assert(p == HnswIndex.Params(8, 64, 99))
        case other => fail(s"wrong entry kind: $other")
      }
    } finally AnnCatalog.clear()
  }

  test("catalog keys are fully qualified: local file: equivalence, distinct authorities distinct") {
    try {
      val e = AnnCatalog.IvfEntry("/nowhere/ivf", "emb", "id",
        Array(0 -> Array(1.0f)), nProbe = 1)
      // the bare-local path a user writes and the file: root a file index
      // reports must key identically
      AnnCatalog.register("/tmp/graft-norm-test/t", e)
      assert(AnnCatalog.lookup(Seq("file:/tmp/graft-norm-test/t")).contains(e))
      // same path under different scheme/authority must NOT collide —
      // the round-5 normalization stripped scheme+authority and would
      // have served bucketB's query from bucketA's index
      AnnCatalog.register("s3a://bucketA/t", e)
      assert(AnnCatalog.lookup(Seq("s3a://bucketB/t")).isEmpty)
      assert(AnnCatalog.lookup(Seq("hdfs://nn/t")).isEmpty)
      assert(AnnCatalog.lookup(Seq("s3a://bucketA/t")).contains(e))
    } finally AnnCatalog.clear()
  }

  test("explicit desc_nulls_first over a nullable embedding does not rewrite") {
    gateOff()
    val (dir, centers) = writeBase()
    try {
      val base = spark.read.parquet(s"$dir/base")
      val cs = IvfIndex.centroids(base, "embedding", "vec_id", 6)
      IvfIndex.writeIndex(IvfIndex.build(base, "embedding", "vec_id", cs),
        s"$dir/ivf")
      AnnCatalog.register(s"$dir/base",
        AnnCatalog.IvfEntry(s"$dir/ivf", "embedding", "vec_id", cs, nProbe = 2))
      assume(base.schema("embedding").nullable)
      val q = centers(0)
      val df = base.select(col("vec_id"),
          VectorFunctions.cosine_sim(col("embedding"),
            org.apache.spark.sql.functions.lit(q)).as("score"))
        .orderBy(col("score").desc_nulls_first, col("vec_id")).limit(10)
      df.collect()
      assert(scanRoots(df).forall(_.contains("/base")),
        s"desc_nulls_first was rewritten: ${scanRoots(df)}")
    } finally AnnCatalog.clear()
  }

  test("stale registration (deleted index files) degrades to brute force") {
    gateOff()
    val (dir, centers) = writeBase()
    try {
      val base = spark.read.parquet(s"$dir/base")
      val cs = IvfIndex.centroids(base, "embedding", "vec_id", 6)
      AnnCatalog.register(s"$dir/base",
        AnnCatalog.IvfEntry(s"$dir/never-written", "embedding", "vec_id",
          cs, nProbe = 2))
      val df = VectorFunctions.topK(base, "embedding", "vec_id", centers(0), 5)
      val got = df.collect() // must not throw from inside the optimizer
      assert(got.length == 5)
      assert(scanRoots(df).forall(_.contains("/base")))
    } finally AnnCatalog.clear()
  }

  test("conservative fallbacks: unregistered, ascending similarity, non-base score") {
    gateOff()
    val (dir, centers) = writeBase()
    try {
      val base = spark.read.parquet(s"$dir/base")
      val cs = IvfIndex.centroids(base, "embedding", "vec_id", 6)
      IvfIndex.writeIndex(IvfIndex.build(base, "embedding", "vec_id", cs),
        s"$dir/ivf")
      val q = centers(0)

      // no registration → brute force
      val un = VectorFunctions.topK(base, "embedding", "vec_id", q, 5)
      un.collect()
      assert(scanRoots(un).forall(_.contains("/base")))

      AnnCatalog.register(s"$dir/base",
        AnnCatalog.IvfEntry(s"$dir/ivf", "embedding", "vec_id", cs, nProbe = 2))

      // ascending score (farthest-k) is not the index contract
      val asc = base.select(col("vec_id"),
          VectorFunctions.cosine_sim(col("embedding"),
            org.apache.spark.sql.functions.lit(q)).as("score"))
        .orderBy(col("score").asc).limit(5)
      asc.collect()
      assert(scanRoots(asc).forall(_.contains("/base")))
    } finally AnnCatalog.clear()
  }

  // ---------------------------------------------------------------
  // round-6 surface: filtered + payload planning with runtime fallback

  /** Base table WITH a payload column (label = vec_id % 5). */
  private def writeBaseP(n: Int = 300, dim: Int = 8): (String, Array[Array[Float]]) = {
    val rng = new scala.util.Random(5)
    val centers = Array.fill(3)(Array.fill(dim)(rng.nextGaussian().toFloat * 5))
    val data = (0 until n).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.2).toFloat), i % 5)
    }.toDF("vec_id", "embedding", "label").repartition(4)
    val dir = java.nio.file.Files.createTempDirectory("ann-rule-p").toString
    data.write.parquet(s"$dir/base")
    (dir, centers)
  }

  private def fallbacks(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[graft.plans.AnnFallbackExec] = p match {
    case f: graft.plans.AnnFallbackExec => f +: f.children.flatMap(fallbacks)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fallbacks(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      fallbacks(q.plan)
    case other => other.children.flatMap(fallbacks)
  }

  /** Register a covering-efSearch HNSW index (probe provably exact) over
    * a payload-bearing base; returns (dir, centers, base). */
  private def hnswRegistered(): (String, Array[Array[Float]], DataFrame) = {
    val (dir, centers) = writeBaseP()
    val base = spark.read.parquet(s"$dir/base")
    HnswIndex.writeGraphIndex(base, "embedding", "vec_id", s"$dir/hnsw",
      HnswIndex.Params(m = 8, efConstruction = 64))
    AnnCatalog.register(s"$dir/base",
      AnnCatalog.HnswEntry(s"$dir/hnsw", "embedding", "vec_id",
        HnswIndex.Params(efSearch = 1 << 20)))
    (dir, centers, base)
  }

  test("filtered top-k plans as over-fetched probe + join-back; exact vs brute force") {
    gateOff()
    val (dir, centers, base) = hnswRegistered()
    try {
      spark.conf.set("spark.graft.ann.overfetch", "8")
      val q = centers(0)
      def query(b: DataFrame) = b
        .filter(col("vec_id") % 3 === 0)
        .select(col("vec_id"),
          VectorFunctions.cosine_sim(col("embedding"),
            org.apache.spark.sql.functions.lit(q)).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(10)

      val df = query(base)
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // the probe path ran: index scanned, no brute fallback
      assert(scanRoots(df).exists(_.contains("/hnsw")),
        s"filtered query not rewritten: ${scanRoots(df)}")
      val fb = fallbacks(df.queryExecution.executedPlan)
      assert(fb.nonEmpty, "no AnnFallbackExec in the filtered plan")
      assert(fb.head.metrics("fallbackFired").value == 0,
        "selective predicate should be served by the probe branch")
      assert(fb.head.metrics("probeRows").value == 10)
      // the probe branch's base scan must NOT read the embedding column
      // (that IO saving is the point of the join-back at 100 TB)
      val baseScans = scans(df.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.head.toString.contains("/base"))
      assert(baseScans.exists(!_.output.map(_.name).contains("embedding")),
        s"join-back scan reads the embedding column: ${baseScans.map(_.output.map(_.name))}")
      // and the UNTAKEN brute branch (the scan that DOES read the
      // embedding column) must have produced zero rows — the fallback
      // plan costs nothing unless it fires
      val bruteScan = baseScans.find(_.output.map(_.name).contains("embedding"))
      assert(bruteScan.exists(_.metrics("numOutputRows").value == 0),
        s"brute branch executed on the happy path: " +
          s"${bruteScan.map(_.metrics("numOutputRows").value)}")

      // exact: covering ef + fallback contract ⇒ equals brute force
      AnnCatalog.clear()
      val brute = query(base).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == brute.map(_._1))
      got.zip(brute).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-9, s"$a vs $b") }
    } finally {
      AnnCatalog.clear()
      spark.conf.unset("spark.graft.ann.overfetch")
    }
  }

  test("over-selective predicate fires the runtime brute fallback, still exact") {
    gateOff()
    val (dir, centers, base) = hnswRegistered()
    try {
      val q = centers(1)
      // only 5 rows in the whole table satisfy the predicate (< k = 10):
      // no over-fetch can cover it, the probe must come up short and the
      // brute branch must serve the query
      def query(b: DataFrame) = b
        .filter(col("vec_id") >= 295)
        .select(col("vec_id"),
          VectorFunctions.cosine_sim(col("embedding"),
            org.apache.spark.sql.functions.lit(q)).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(10)

      val df = query(base)
      val got = df.collect().map(_.getLong(0)).toSeq
      val fb = fallbacks(df.queryExecution.executedPlan)
      assert(fb.nonEmpty, "no AnnFallbackExec in the filtered plan")
      assert(fb.head.metrics("fallbackFired").value == 1,
        "over-selective predicate must fall back to brute force")

      AnnCatalog.clear()
      val brute = query(base).collect().map(_.getLong(0)).toSeq
      assert(got == brute)
      assert(got.size == 5)
    } finally AnnCatalog.clear()
  }

  test("payload columns plan as probe + broadcast join-back, not a full scan-sort") {
    gateOff()
    val (dir, centers, base) = hnswRegistered()
    try {
      val q = centers(2)
      def query(b: DataFrame) = b
        .select(col("vec_id"), col("label"),
          VectorFunctions.cosine_sim(col("embedding"),
            org.apache.spark.sql.functions.lit(q)).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(10)

      val df = query(base)
      val got = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(scanRoots(df).exists(_.contains("/hnsw")),
        s"payload query not rewritten: ${scanRoots(df)}")
      val fb = fallbacks(df.queryExecution.executedPlan)
      assert(fb.nonEmpty && fb.head.metrics("fallbackFired").value == 0)
      // join-back reads only (vec_id, label) from base
      val baseScans = scans(df.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.head.toString.contains("/base"))
      assert(baseScans.exists(!_.output.map(_.name).contains("embedding")))

      AnnCatalog.clear()
      val brute = query(base).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(got == brute)
    } finally AnnCatalog.clear()
  }

  test("multi-query lateral top-k plans as ONE batched stored-graph probe") {
    gateOff()
    val (dir, centers, base) = hnswRegistered()
    try {
      val rng = new scala.util.Random(9)
      val queries = (0 until 12).map { i =>
        (i.toLong * 7, centers(i % 3).map(x => (x + rng.nextGaussian() * 0.1).toFloat))
      }.toDF("qid", "qemb")
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      def lateral(b: DataFrame) = queries.crossJoin(b)
        .select(col("qid"), col("vec_id"),
          VectorFunctions.cosine_sim(col("embedding"), col("qemb")).as("score"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("rn") <= 5)

      val df = lateral(base)
      val got = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq.sorted
      assert(scanRoots(df).exists(_.contains("/hnsw")),
        s"lateral form not rewritten: ${scanRoots(df)}")
      assert(!scanRoots(df).exists(_.contains("/base")),
        s"base still cross-joined: ${scanRoots(df)}")

      // the gated q177 shape — outer rounding projection + global sort
      // ABOVE the rank filter — must rewrite identically
      val outer = lateral(base)
        .select(col("qid"), col("vec_id"),
          org.apache.spark.sql.functions.round(col("score"), 4).as("score"),
          col("rn"))
        .orderBy(col("qid"), col("rn"))
      outer.collect()
      assert(scanRoots(outer).exists(_.contains("/hnsw")) &&
        !scanRoots(outer).exists(_.contains("/base")),
        s"q177 shape not rewritten: ${scanRoots(outer)}")

      // covering ef ⇒ the batched probe equals the brute window per query
      AnnCatalog.clear()
      val brute = lateral(base).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq.sorted
      assert(got == brute)
      assert(got.size == 12 * 5)
    } finally AnnCatalog.clear()
  }

  test("over-fetch + post-filter composition (hard negatives) rides the batched probe") {
    // the q202 serving shape: lateral top-20 through the index, label
    // join-back on the id, anti-label filter, re-rank to 5 — the inner
    // window must rewrite onto the stored graph while the join-back
    // reads only (vec_id, label) from base
    gateOff()
    val (dir, centers, base) = hnswRegistered()
    try {
      val rng = new scala.util.Random(11)
      val anchors = (0 until 9).map { i =>
        (i.toLong * 13,
         centers(i % 3).map(x => (x + rng.nextGaussian() * 0.1).toFloat),
         i % 5)
      }.toDF("qid", "qemb", "qlabel")
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      def negatives(b: DataFrame) = {
        val probed = anchors.select(col("qid"), col("qemb"))
          .crossJoin(b)
          .select(col("qid"), col("vec_id"),
            VectorFunctions.cosine_sim(col("embedding"), col("qemb"))
              .as("score"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("score").desc, col("vec_id"))))
          .filter(col("rn") <= 20)
        probed
          .join(b.select(col("vec_id"), col("label")), Seq("vec_id"))
          .join(anchors.select(col("qid"), col("qlabel")), Seq("qid"))
          .filter(col("label") =!= col("qlabel"))
          .withColumn("neg_rank", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("score").desc, col("vec_id"))))
          .filter(col("neg_rank") <= 5)
          .select(col("qid"), col("vec_id"), col("label"), col("neg_rank"))
      }

      val df = negatives(base)
      val got = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
        .toSeq.sorted
      assert(scanRoots(df).exists(_.contains("/hnsw")),
        s"inner top-20 not rewritten onto the graph: ${scanRoots(df)}")
      // the only base scans left are the label join-back — none may
      // read the embedding column back
      val baseScans = scans(df.queryExecution.executedPlan).filter(
        _.relation.location.rootPaths.head.toString.contains("/base"))
      assert(baseScans.nonEmpty &&
        baseScans.forall(!_.output.map(_.name).contains("embedding")),
        s"label join-back re-reads embeddings: ${baseScans.map(_.output.map(_.name))}")

      // covering ef ⇒ identical to the fully brute composition
      AnnCatalog.clear()
      val brute = negatives(base).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
        .toSeq.sorted
      assert(got == brute)
      assert(got.size == 9 * 5)
    } finally AnnCatalog.clear()
  }

  test("cost gate: a table below minTableBytes keeps the brute-force scan") {
    gateOff()
    val (dir, centers) = writeBase()
    try {
      val base = spark.read.parquet(s"$dir/base")
      val cs = IvfIndex.centroids(base, "embedding", "vec_id", 6)
      IvfIndex.writeIndex(IvfIndex.build(base, "embedding", "vec_id", cs),
        s"$dir/ivf")
      AnnCatalog.register(s"$dir/base",
        AnnCatalog.IvfEntry(s"$dir/ivf", "embedding", "vec_id", cs, nProbe = 2))
      val q = centers(0)

      // threshold far above the table size → planner keeps the scan
      // (the Postgres small-table behavior)
      spark.conf.set("spark.graft.ann.minTableBytes", (10L << 20).toString)
      val cheap = VectorFunctions.topK(base, "embedding", "vec_id", q, 5)
      cheap.collect()
      assert(scanRoots(cheap).forall(_.contains("/base")),
        s"tiny table was rewritten onto the index: ${scanRoots(cheap)}")

      // threshold off → probe
      spark.conf.set("spark.graft.ann.minTableBytes", "0")
      val probe = VectorFunctions.topK(base, "embedding", "vec_id", q, 5)
      probe.collect()
      assert(scanRoots(probe).exists(_.contains("/ivf")))
    } finally {
      AnnCatalog.clear()
      spark.conf.set("spark.graft.ann.minTableBytes", "0")
    }
  }

  test("q205's RRF vector leg rides the stored graph — base never cross-joined") {
    // the round-8 fix for the last corpus-proportional cartesian: the
    // hybrid-RRF query registers its own graph index, so its executed
    // plan must scan the graph parquet and must NOT read the staged
    // base copy (the anchors still read the original embeddings table,
    // which is not under the staged graft-rrf directory)
    try {
      val df = SparkEntry.queries("q205_hybrid_rrf")(
        spark, "/root/testdata/sf0.001")
      assert(df.collect().nonEmpty)
      val roots = scanRoots(df)
      assert(roots.exists(r => r.contains("graft-rrf") && r.contains("/graphs")),
        s"vector leg not served from the stored graph: $roots")
      assert(!roots.exists(r => r.contains("graft-rrf") && r.contains("/base")),
        s"staged base still cross-joined: $roots")
    } finally AnnCatalog.clear()
  }
}
