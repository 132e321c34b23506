package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): times every declared query on
  * SPARK_GRAFT_SF_DIR, its full plan run through the `noop` sink, and
  * prints one JSON line. A short warmup runs first (JIT + codegen caches
  * + parquet footers) so per-query numbers measure the queries, not JVM
  * startup. A query that throws gets no time: it is listed under
  * `failed` with its exception class instead. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus)

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
        try runDeclared(fn(spark, warmDir)) catch { case _: Throwable => () }
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
      val r = timeQuery(spark, sfDir, reps, fn)
      r.left.foreach(e => System.err.println(s"[bench] $name failed: $e"))
      name -> r
    }
    val timed = results.collect { case (k, Right(t)) => k -> t }
    val qs = timed.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, Left(e)) =>
      "\"" + k + "\":\"" + e.getClass.getName + "\"" }.mkString("{", ",", "}")
    val total = if (timed.nonEmpty) timed.map(_._2).sum else 0.0
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
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

  /** Run the plan the query declares, every projected column included,
    * and discard the rows. `count()` would let the optimizer prune the
    * SELECT list, so a failing or costly projection would go untimed.
    * The one runner every timing main uses. */
  private[graft] def runDeclared(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Best-of-`reps` wall time in seconds of one query's declared plan, or
    * the first exception it throws: a failed query gets no time. */
  def timeQuery(spark: SparkSession, sfDir: String, reps: Int,
                fn: (SparkSession, String) => DataFrame): Either[Throwable, Double] =
    try Right((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      try { runDeclared(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
      // drop caches a query may have left behind (e.g. the pipeline's
      // merge frames) so later queries aren't timed under memory pressure
      finally GraftSession.dropLeftoverState(spark)
    }.min)
    catch { case e: Throwable => Left(e) }
}
