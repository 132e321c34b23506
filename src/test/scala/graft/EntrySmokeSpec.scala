package graft

/** End-to-end smoke over the real sf0.001 testdata: the registry declares
  * each query once with an oracle, and every declared query runs and
  * returns rows (the Tier-1 gate shape). */
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

  test("every query runs on sf0.001") {
    val qs = SparkEntry.queries
    qs.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      withClue(s"$name should return rows: ") { assert(n > 0) }
    }
  }
}
