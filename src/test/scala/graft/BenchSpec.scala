package graft

import org.apache.spark.sql.functions.{lit, raise_error}

/** Bench times only queries that finish; a throwing query is a failure,
  * not a fast time. */
class BenchSpec extends SparkSpec {

  test("timeQuery returns the exception of a query that throws") {
    val r = Bench.timeQuery(spark, "unused", 2,
      (s, _) => s.range(1).toDF().filter(raise_error(lit("boom")).isNull))
    assert(r.left.exists(_.getMessage.contains("boom")),
      s"a throwing query must not get a time: $r")
  }

  test("timeQuery runs the projected columns, so a failing SELECT item fails") {
    val r = Bench.timeQuery(spark, "unused", 2,
      (s, _) => s.range(1).toDF().select(raise_error(lit("boom"))))
    assert(r.left.exists(_.getMessage.contains("boom")),
      s"a query whose projection throws must not get a time: $r")
  }

  test("timeQuery times a query that finishes") {
    val r = Bench.timeQuery(spark, "unused", 2, (s, _) => s.range(10).toDF())
    assert(r.exists(_ >= 0.0), s"expected a time: $r")
  }
}
