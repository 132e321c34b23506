package graft

import graft.plans.SaltedJoin
import graft.store.BucketedStore
import org.apache.spark.sql.functions._

class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed-by-key join plans with no shuffle Exchange") {
    val a = (1 to 2000).map(i => (i.toLong, s"a$i")).toDF("id", "va")
    val b = (1 to 2000).map(i => (i.toLong, s"b$i")).toDF("id", "vb")
    BucketedStore.saveBucketed(a, "bk_a", Seq("id"), buckets = 8)
    BucketedStore.saveBucketed(b, "bk_b", Seq("id"), buckets = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bk_a").join(spark.table("bk_b"), "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected co-located join, plan was:\n$plan")
      assert(joined.count() == 2000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS bk_a")
    spark.sql("DROP TABLE IF EXISTS bk_b")
  }

  test("salted join equals plain join on skewed data") {
    val big = (1 to 5000).map(i =>
      (if (i % 10 == 0) 1L else i.toLong, i)).toDF("k", "payload")
    val small = Seq((1L, "hot"), (2L, "cold"), (7L, "x")).toDF("k", "dim")
    val plain = big.join(small, "k")
    val salted = SaltedJoin.join(big, small, Seq("k"))
    assert(salted.count() == plain.count())
    assert(salted.except(plain).count() == 0)
    assert(plain.except(salted).count() == 0)
  }

  test("dynamic partition pruning: a filtered dim prunes fact partitions at runtime") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val fact = Seq(
      ("2024-01-01", 1L, 10.0), ("2024-01-02", 2L, 20.0),
      ("2024-01-03", 3L, 30.0), ("2024-01-04", 4L, 40.0),
    ).toDF("day", "k", "v").withColumn("day", to_date(col("day")))
    fact.withColumn("p_date", col("day"))
      .write.mode("overwrite").partitionBy("p_date").parquet(dir)
    // dim: only one qualifying date, discovered at RUNTIME through the
    // join (the fact filter is not static — DPP must inject it)
    // the dim must be a REAL scan: a filter over a local Seq is
    // constant-folded away (ConvertToLocalRelation) and the pruning rule
    // then sees no selective predicate on the build side
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
    Seq(("2024-01-02", "keep"), ("2024-01-03", "drop"))
      .toDF("d", "tag").withColumn("d", to_date(col("d")))
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") === "keep")
    // KB-sized test tables fail DPP's benefit heuristic (benefit is
    // proportional to the partitioned scan's bytes); raise the fallback
    // ratio so the decision reflects the plan SHAPE, as it would at a
    // production fact-table size
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio",
      "10000.0")
    val joined = try {
      val j = spark.read.parquet(dir).join(dim, col("p_date") === col("d"))
      j.collect()
      j
    } finally {
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    }
    val rows = joined.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("k") == 2L)
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a DynamicPruningExpression partition filter in:\n${plan.take(2000)}")
  }
}
