package graft

/** Benchmark main (driver contract): times every declared query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line. A short warmup runs first
  * (JIT + codegen caches + parquet footers) so per-query numbers measure
  * the queries, not JVM startup. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)

    // warmup (not timed): run every query once at the smallest scale
    // factor so codegen compilation and JIT are paid before timing — the
    // timed numbers then measure data-proportional work at the target sf
    spark.range(2000000L).selectExpr("sum(id)").collect()
    // optional comma-separated query filter for local iteration —
    // applied to the warmup too (warming all 300 queries to time 4
    // costs ten minutes for nothing)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(set) => SparkEntry.queries.filter { case (k, _) => set(k) }
      case None => SparkEntry.queries
    }
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      selected.foreach { case (_, fn) =>
        try { fn(spark, warmDir).count() } catch { case _: Throwable => () }
        GraftSession.dropLeftoverState(spark)
      }
    }
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      catch { case _: Throwable => () }
    }
    try Tables.events(spark, sfDir).limit(1).count()
    catch { case _: Throwable => () }

    // best-of-2 per query: single-run numbers on a shared container vary
    // ±30%; the min of two runs is a far more stable estimate of the
    // query's actual cost
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // noise isolation for committed artifacts: queries that run right
    // after a memory-heavy block inherit its GC pressure and can read
    // 4-5x their isolated cost (round-10's q29/q30/q32 artifact). With
    // SPARK_GRAFT_BENCH_GC=1 a full GC runs before each query's timing
    // so each number reflects the query, not its alphabetical neighbor.
    val gcBetween = sys.env.get("SPARK_GRAFT_BENCH_GC").contains("1")
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      if (gcBetween) { System.gc(); Thread.sleep(200) }
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        val dt = (System.nanoTime() - t0) / 1e9
        // drop caches a query may have left behind (e.g. the pipeline's
        // merge frames) so later queries aren't timed under memory pressure
        GraftSession.dropLeftoverState(spark)
        dt
      }
      name -> times.min
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // the driver's captured stdout tail can truncate before the total —
    // persist the full JSON so rounds compare without re-running
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench.json: ${e.getMessage}")
    }
    spark.stop()
  }
}
