package graft

/** Plan audit: prints the formatted physical plan for selected queries so
  * scan pushdown (`PushedFilters`/`ReadSchema`), broadcast choices, and
  * WholeStageCodegen spans can be reviewed. Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q01_pricing_summary", "q03_region_rollup",
        "q16_serve_events_by_date", "q18_cosine_topk", "q22_ngram_jaccard",
        "q31_asof_join")
    val spark = GraftSession.local(4)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
