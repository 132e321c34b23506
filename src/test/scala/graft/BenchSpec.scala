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

  test("an AbBench pair leaves no session conf or ANN registration behind") {
    val key = "spark.graft.ann.minTableBytes"
    val before = spark.conf.getOption(key)
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    graft.tools.AbBench.isolated(spark) {
      spark.conf.set(key, "0")
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      spark.conf.set("spark.graft.test.isolated", "set")
      graft.plans.AnnCatalog.register("/tmp/graft-ab-isolated",
        graft.plans.AnnCatalog.HnswEntry("/tmp/graft-ab-isolated-index", "embedding", "vec_id",
          graft.vector.HnswIndex.Params()))
    }
    assert(spark.conf.getOption(key) == before)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
    assert(spark.conf.getOption("spark.graft.test.isolated").isEmpty)
    assert(graft.plans.AnnCatalog.lookup(Seq("/tmp/graft-ab-isolated")).isEmpty)
  }
}
