package graft

/** End-to-end smoke over the real sf0.001 testdata: the registry declares
  * each query once with an oracle, the rules installed at session build
  * rewrite the queries that rely on them, and every declared query runs
  * and returns rows (the Tier-1 gate shape). */
class EntrySmokeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query is declared once, with a non-blank oracle") {
    val names = SparkEntry.specs.map(_.name)
    val dups = names.diff(names.distinct).distinct.sorted
    assert(dups.isEmpty, s"declared in more than one QuerySpec: ${dups.mkString(", ")}")
    val blank = SparkEntry.specs.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle: ${blank.mkString(", ")}")
  }

  test("session-built rules plan q50 onto the range join and q169 onto its IVF index") {
    val q50 = SparkEntry.queries("q50_range_join_rule")(spark, sf)
    val opt = q50.queryExecution.optimizedPlan.toString
    assert(opt.contains("_graft_lcell"), s"RangeJoinRule did not fire:\n$opt")
    try {
      val q169 = SparkEntry.queries("q169_ann_auto")(spark, sf)
      val exec = q169.queryExecution.executedPlan.toString
      assert(exec.contains("/ivf"), s"AnnIndexRule did not plan the IVF probe:\n$exec")
      // the filtered shape is rewritten once: one probe-or-brute fallback
      val q174 = SparkEntry.queries("q174_ann_filtered")(spark, sf)
      val fallbacks = "AnnFallbackNode".r
        .findAllIn(q174.queryExecution.optimizedPlan.toString).length
      assert(fallbacks == 1, s"expected one AnnFallbackNode in q174, got $fallbacks")
    } finally graft.plans.AnnCatalog.clear()
  }

  test("every query runs on sf0.001") {
    val qs = SparkEntry.queries
    qs.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      withClue(s"$name should return rows: ") { assert(n > 0) }
    }
  }
}
