package graft

import graft.enrich.{EmbedStage, HashingEmbedder}
import graft.serve.Serving
import java.sql.Timestamp
import org.apache.spark.sql.functions._

class ServingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    (1L, ts("2024-01-05 10:00:00"), 7L, "view", 1.0),
    (2L, ts("2024-01-05 10:10:00"), 7L, "click", 2.0),
    (3L, ts("2024-01-05 11:30:00"), 7L, "purchase", 3.0), // >30min gap: new session
    (4L, ts("2024-01-05 10:05:00"), 8L, "view", 4.0),
    (5L, ts("2024-01-06 09:00:00"), 7L, "view", 5.0),     // different day
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("eventsByDate: day filter, per-user eager agg, order, TTL") {
    val out = Serving.eventsByDate(events, "2024-01-05", "2024-01-01").collect()
    assert(out.length == 4)
    assert(out.map(_.getLong(0)).sameElements(Array(1L, 4L, 2L, 3L))) // time order
    val first = out(0)
    assert(first.getLong(5) == 3L)   // user 7 has 3 events that day
    assert(first.getLong(6) == 600L) // 6.00 in exact cents
    assert(first.getLong(7) == 43200L) // 4 days ahead -> 12h TTL
  }

  test("userDayDigest re-nests deterministically") {
    val out = Serving.userDayDigest(events, "2024-01-05")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(7L) == "click,purchase,view") // sorted, not arrival order
    assert(out(8L) == "view")
  }

  test("sessionize splits on gap") {
    val out = Serving.sessionize(events, gapMinutes = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // user 7: [e1,e2] session 1, [e3] session 2, [e5 next day] session 3
    assert(out.toSet == Set((7L, 1L, 2L), (7L, 2L, 1L), (7L, 3L, 1L), (8L, 1L, 1L)))
  }

  test("perDateCounts groups by date string") {
    val out = Serving.perDateCounts(events)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("2024-01-05" -> 4L, "2024-01-06" -> 1L))
  }

  test("hashing embedder: deterministic unit vectors; empty -> null (M1/M5)") {
    val e = new HashingEmbedder(32)
    val v1 = e.embed("snug harbor jazz")
    val v2 = e.embed("snug harbor jazz")
    assert(v1.sameElements(v2))
    val norm = math.sqrt(v1.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)

    val df = Seq((1L, "some text"), (2L, "")).toDF("id", "text")
    val out = EmbedStage.embedColumn(df, "text", "emb").orderBy("id").collect()
    assert(!out(0).isNullAt(2) && out(0).getSeq[Float](2).length == 64)
    assert(out(1).isNullAt(2))
  }
}
