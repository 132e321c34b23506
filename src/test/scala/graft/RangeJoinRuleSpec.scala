package graft

import org.apache.spark.sql.functions._

/** RangeJoinRule is installed at session build (GraftExtensions), so
  * every theta-join below is planned with it; reference answers are
  * computed in Scala. */
class RangeJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private val leftRows = (1 to 200).map(i => (i % 5L, i.toLong, i * 60000000L))
  private val rightRows =
    (1 to 200).map(i => (i % 5L, 1000L + i, i * 60000000L + 30000000L))

  private def fixture() =
    (leftRows.toDF("k", "l_id", "l_us"), rightRows.toDF("k", "r_id", "r_us"))

  private def theta(l: org.apache.spark.sql.DataFrame,
                    r: org.apache.spark.sql.DataFrame) =
    l.join(r, l("k") === r("k") &&
      r("r_us") > l("l_us") && r("r_us") <= l("l_us") + 300000000L)
      .select(col("l_id"), col("r_id"))

  test("rewrites the interval theta-join to the bucketed equi-join") {
    val (l, r) = fixture()
    val expected = (for {
      (lk, lId, lUs) <- leftRows
      (rk, rId, rUs) <- rightRows
      if lk == rk && rUs > lUs && rUs <= lUs + 300000000L
    } yield (lId, rId)).toSet
    val df = theta(l, r)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("_graft_lcell"), s"rule did not fire:\n$opt")
    val rewritten = df.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(rewritten == expected)
    assert(rewritten.nonEmpty)
  }

  test("boundary semantics survive the rewrite: (t, t+W], cross-cell pairs") {
    val l = Seq((1L, 10L, 0L), (1L, 11L, 250000000L)).toDF("k", "l_id", "l_us")
    val r = Seq(
      (1L, 20L, 0L),          // equal -> excluded
      (1L, 21L, 300000000L),  // == l_us(10)+W -> included for 10
      (1L, 22L, 550000000L),  // == l_us(11)+W, next cell -> included for 11
      (1L, 23L, 550000001L),  // just past -> excluded
    ).toDF("k", "r_id", "r_us")
    val out = theta(l, r).collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(out == Set((10L, 21L), (11L, 21L), (11L, 22L)))
  }

  test("conservative: non-matching shapes are left alone") {
    val (l, r) = fixture()
    // no upper bound -> not a bounded interval, rule must not fire
    val df = l.join(r, l("k") === r("k") && r("r_us") > l("l_us"))
    assert(!df.queryExecution.optimizedPlan.toString.contains("_graft_lcell"))
    // left outer -> not inner, rule must not fire
    val df2 = l.join(r, l("k") === r("k") &&
      r("r_us") > l("l_us") && r("r_us") <= l("l_us") + 300000000L, "left")
    assert(!df2.queryExecution.optimizedPlan.toString.contains("_graft_lcell"))
  }

  test("matches RangeJoin.within on real events data") {
    val e = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val l = e.select(col("user_id").as("k"), col("event_id").as("l_id"),
      col("us").as("l_us"))
    val r = e.select(col("user_id").as("k"), col("event_id").as("r_id"),
      col("us").as("r_us"))
    val viaRule = theta(l, r).count()
    val e2 = Tables.events(spark, "/root/testdata/sf0.001")
    val lts = e2.select(col("user_id"), col("event_id").as("l_id"), col("ts").as("l_ts"))
    val rts = e2.select(col("user_id"), col("event_id").as("r_id"), col("ts").as("r_ts"))
    val viaOperator = graft.plans.RangeJoin
      .within(lts, rts, "user_id", "l_ts", "r_ts", 300L).count()
    assert(viaRule == viaOperator)
  }
}
