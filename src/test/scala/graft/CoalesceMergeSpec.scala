package graft

import graft.dims.CoalesceMerge
import graft.dims.CoalesceMerge.{CoalesceNewWins, InsertOnly, Overwrite}
import graft.tools.PlanWalk
import org.apache.spark.sql.Row

/** The three merge rule families of the reference loader (SURVEY §2.10):
  * COALESCE-per-column (A2 artists), mixed coalesce/overwrite (A3 venues),
  * insert-only (A1 genres); plus dedup-before-merge (D3) and the
  * operation-summary counters (A-agg1). */
class CoalesceMergeSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq(
    (1L, Option("old-name"), Option("old-web"), Option(10.0)),
    (2L, Option("keep-me"), None, Option(20.0)),
  ).toDF("id", "name", "website", "score")

  test("A2 coalesce rule: non-null source wins, null never clobbers") {
    val source = Seq(
      (1L, Option("new-name"), Option.empty[String], Option(11.0)),
      (3L, Option("fresh"), Option("w3"), Option(30.0)),
    ).toDF("id", "name", "website", "score")
    val out = CoalesceMerge.upsert(target, source, Seq("id"))
      .orderBy("id").collect()
    assert(out(0) == Row(1L, "new-name", "old-web", 11.0, "update"))
    assert(out(1) == Row(2L, "keep-me", null, 20.0, "keep"))
    assert(out(2) == Row(3L, "fresh", "w3", 30.0, "insert"))
  }

  test("A3 mixed rules: overwrite column takes source even when null") {
    val source = Seq((1L, Option.empty[String], Option.empty[String], Option(99.0)))
      .toDF("id", "name", "website", "score")
    val out = CoalesceMerge.upsert(target, source, Seq("id"),
      Map("name" -> CoalesceNewWins, "website" -> Overwrite, "score" -> Overwrite))
      .orderBy("id").collect()
    assert(out(0) == Row(1L, "old-name", null, 99.0, "update"))
  }

  test("A1 insert-only: matched rows keep every target value") {
    val source = Seq(
      (1L, Option("clobber"), Option("clobber"), Option(0.0)),
      (4L, Option("newrow"), None, Option(4.0)),
    ).toDF("id", "name", "website", "score")
    val out = CoalesceMerge.upsert(target, source, Seq("id"),
      Map("name" -> InsertOnly, "website" -> InsertOnly, "score" -> InsertOnly))
      .orderBy("id").collect()
    assert(out(0) == Row(1L, "old-name", "old-web", 10.0, "update"))
    assert(out(2) == Row(4L, "newrow", null, 4.0, "insert"))
  }

  test("D3 source dedup: duplicate natural keys collapse before merge") {
    val source = Seq(
      (5L, Option("a"), Option.empty[String], Option(1.0)),
      (5L, Option("a"), Option.empty[String], Option(1.0)),
    ).toDF("id", "name", "website", "score")
    val out = CoalesceMerge.upsert(target, source, Seq("id"))
    assert(out.filter($"id" === 5L).count() == 1)
  }

  test("D3 conflicting duplicates resolve deterministically") {
    // same key, DIFFERENT payloads: winner must be stable, not arbitrary
    val source = Seq(
      (5L, Option("zzz"), Option("w2"), Option(2.0)),
      (5L, Option("aaa"), Option("w1"), Option(1.0)),
    ).toDF("id", "name", "website", "score")
    (1 to 3).foreach { _ =>
      val out = CoalesceMerge.upsert(target, source.repartition(7), Seq("id"))
        .filter($"id" === 5L).collect()
      assert(out.length == 1)
      assert(out(0).getString(1) == "aaa") // smallest value tuple wins
    }
  }

  test("null keys never match: both null-key rows survive the upsert") {
    // SQL equality semantics: a null-key source row is an insert; it must
    // not silently absorb (and discard) a null-key target row.
    val t = Seq((Option.empty[String], Option("tval")),
      (Option("k1"), Option("t1"))).toDF("name", "v")
    val s = Seq((Option.empty[String], Option("sval"))).toDF("name", "v")
    val out = CoalesceMerge.upsert(t, s, Seq("name"),
      Map("v" -> InsertOnly)).collect()
    assert(out.length == 3)
    val nullKey = out.filter(_.isNullAt(0)).map(r =>
      (r.getString(1), r.getString(2))).toSet
    assert(nullKey == Set(("tval", "keep"), ("sval", "insert")))
  }

  test("insertIfAbsent is get-or-create (A1 shape)") {
    val source = Seq(
      (1L, Option("x"), Option.empty[String], Option(0.0)),
      (9L, Option("g"), Option.empty[String], Option(9.0)),
    ).toDF("id", "name", "website", "score")
    val out = CoalesceMerge.insertIfAbsent(target, source, Seq("id"))
    assert(out.count() == 3)
    assert(out.filter($"id" === 1L).head().getString(1) == "old-name")
  }

  test("A-agg1 operation summary counts insert/update/keep") {
    val source = Seq(
      (1L, Option("n"), Option.empty[String], Option(1.0)),
      (7L, Option("i"), Option.empty[String], Option(7.0)),
    ).toDF("id", "name", "website", "score")
    val merged = CoalesceMerge.upsert(target, source, Seq("id"))
    val sums = CoalesceMerge.operationSummary(merged)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums == Map("insert" -> 1L, "update" -> 1L, "keep" -> 1L))
  }

  test("insertIfAbsent against a bucketed target: sort-merge anti-join, no target exchange") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val names = Seq("jazz", "funk", "blues", "zydeco")
    graft.store.BucketedStore.saveBucketed(
      names.map(n => (n, n.length.toLong)).toDF("name", "id"), "cm_genres", Seq("name"), buckets)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("artist_id", "genre_id")
    graft.store.BucketedStore.saveBucketed(edges, "cm_edges", Seq("artist_id", "genre_id"), buckets)
    try {
      val cases = Seq(
        (spark.table("cm_genres"), Seq(("jazz", 4L), ("bounce", 6L)).toDF("name", "id"), Seq("name"), 5L),
        (spark.table("cm_edges"), Seq((1L, 2L), (9L, 9L)).toDF("artist_id", "genre_id"),
          Seq("artist_id", "genre_id"), 4L))
      cases.foreach { case (target, source, keys, rows) =>
        val out = CoalesceMerge.insertIfAbsent(target, source, keys)
        assert(out.collect().length == rows)
        val plan = out.queryExecution.executedPlan
        assert(PlanWalk.pagedBroadcasts(plan).isEmpty)
        val anti = PlanWalk.nodes(plan).collect {
          case j: SortMergeJoinExec if j.joinType == LeftAnti => j }
        assert(anti.size == 1, plan.toString)
        assert(PlanWalk.nodes(anti.head.right).collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"target side exchanged:\n${anti.head}")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS cm_genres")
      spark.sql("DROP TABLE IF EXISTS cm_edges")
    }
  }
}
