package graft.tools

/** Physical-plan audit over every declared query: counts the operators
  * that determine scale behavior (shuffle exchanges, join strategies,
  * codegen spans, parquet pushdown) and prints one markdown row per
  * query. Output is the source for PLANS.md — the "is this the plan you
  * would want at 100 TB" review.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // optional second arg: comma-separated query filter; optional third
    // arg "full" also dumps each filtered query's final physical plan
    val only = args.lift(1).map(_.split(",").toSet)
    val dump = args.lift(2).contains("full")
    val spark = graft.GraftSession.local(4)
    println("| query | exchanges | bcast joins | SMJ | codegen spans | scans | pushed filters |")
    println("|---|---|---|---|---|---|---|")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.collect() // execute THIS plan (count() would build a different
                     // one) so AQE's FINAL shape — re-optimized joins,
                     // coalesced stages, codegen spans — is what we audit
        // AQE plan strings append an "== Initial Plan ==" section that
        // would double-count every operator — audit the final plan only
        val plan = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        def n(p: String) = p.r.findAllIn(plan).length
        val exchanges = n("Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)")
        val bhj = n("BroadcastHashJoin") + n("BroadcastNestedLoopJoin")
        val smj = n("SortMergeJoin")
        val wsc = n("\\*\\(\\d+\\)").min(99)
        val scans = n("FileScan parquet|Scan parquet")
        val pushed = n("PushedFilters: \\[[^\\]]")
        println(s"| $name | $exchanges | $bhj | $smj | $wsc | $scans | $pushed |")
        if (dump) println(plan)
        spark.catalog.clearCache()
      } catch {
        case e: Throwable => println(s"| $name | ERR ${e.getClass.getSimpleName} | | | | | |")
      }
    }
    spark.stop()
  }
}
