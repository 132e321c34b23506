package graft

import graft.tools.PlanWalk
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** [[PlanWalk.pagedBroadcasts]] counts a broadcast hash join as paged
  * exactly when Spark's `HashedRelation.apply` builds an
  * `UnsafeHashedRelation` for it. */
class PlanWalkSpec extends SparkSpec {
  import spark.implicits._

  private def row = Seq((1, 2, 3L, "a")).toDF("i", "j", "l", "s")

  /** (broadcast hash joins, paged ones) of `row` joined to `build`, after the run. */
  private def counts(build: DataFrame, keys: Seq[String]): (Int, Int) = {
    val out = row.join(broadcast(build), keys)
    out.collect()
    val plan = out.queryExecution.executedPlan
    (PlanWalk.nodes(plan).count(_.isInstanceOf[BroadcastHashJoinExec]),
      PlanWalk.pagedBroadcasts(plan).size)
  }

  test("paged: a string key, or integral keys wider than one long together") {
    assert(counts(row, Seq("s")) == (1, 1))
    assert(counts(row, Seq("i", "l")) == (1, 1)) // 12 bytes: no packing
  }

  test("not paged: integral keys that pack into one long") {
    assert(counts(row, Seq("l")) == (1, 0))
    assert(counts(row, Seq("i", "j")) == (1, 0)) // two ints, one long
  }

  test("not paged: an empty build side builds no relation") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // AQE drops the join
    try {
      val empty = spark.range(3).filter($"id" > 5).select($"id".cast("string").as("s"))
      assert(counts(empty, Seq("s")) == (1, 0))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
