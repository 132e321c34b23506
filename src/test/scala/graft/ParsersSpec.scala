package graft

import graft.parse.Parsers
import org.apache.spark.sql.functions._

/** Golden-behavior micro-fixtures from the reference (FIXTURES.md §5):
  * time parse (tests/simple_tests.py:100-117), S3-key dates
  * (tests/test_loader_utils.py:16-69), capacity buckets
  * (loader/service.py:163-169), TTL tiers (redis_cache.py:76-96), flags
  * (loader/service.py:573-575). */
class ParsersSpec extends SparkSpec {
  import spark.implicits._

  test("P5 time parse: 8:00pm, padded 9:30am, default on no match") {
    val df = Seq(
      ("2025-03-21", "8:00pm"),
      ("2025-03-21", "  9:30am  "),
      ("2025-03-21", "no time here"),
    ).toDF("d", "t")
    val got = df.select(date_format(
      Parsers.parsePerformanceTime($"d", $"t", "America/Chicago"),
      "yyyy-MM-dd HH:mm").as("ts")).as[String].collect()
    // America/Chicago is UTC-5 in March (CDT)
    assert(got(0) == "2025-03-22 01:00") // 8pm CDT = 01:00 UTC next day
    assert(got(1) == "2025-03-21 14:30") // 9:30am CDT = 14:30 UTC
    assert(got(2) == "2025-03-21 05:00") // 12:00am default = 05:00 UTC
  }

  test("P9 key-date extraction: path wins, filename, compact, none") {
    val df = Seq(
      "raw_events/2025/07/30/event_data_2025-07-29_20250730_002901.json",
      "different/path/event_data_2024-12-01_20241201_120000.json",
      "some/path/file_name_20230115_160000.json",
      "some/random/file.json",
    ).toDF("key")
    val got = df.select(Parsers.extractDateFromKey($"key").as("d"))
      .as[Option[String]].collect()
    assert(got(0).contains("2025-07-30")) // path beats filename
    assert(got(1).contains("2024-12-01"))
    assert(got(2).contains("2023-01-15"))
    assert(got(3).isEmpty)
  }

  test("P8 capacity buckets: 50 intimate / 150 medium / 800 large") {
    val got = Seq(50, 150, 800).toDF("c")
      .select(Parsers.capacityBucket($"c")).as[String].collect()
    assert(got.sameElements(Array("intimate", "medium", "large")))
  }

  test("C5 TTL tiers: -1d/0d/+3d/+10d -> 604800/3600/43200/86400") {
    val df = Seq("2023-12-31", "2024-01-01", "2024-01-04", "2024-01-11").toDF("d")
    val got = df.select(Parsers.ttlSeconds(to_date($"d"), to_date(lit("2024-01-01"))))
      .as[Long].collect()
    assert(got.sameElements(Array(604800L, 3600L, 43200L, 86400L)))
  }

  test("P7 flags: outdoor venue not indoors; streaming flag") {
    val df = Seq("Broadside (Outdoor)", "WWOZ Streaming", "Snug Harbor").toDF("n")
    val got = df.select(Parsers.isIndoors($"n"), Parsers.isStreaming($"n"))
      .as[(Boolean, Boolean)].collect()
    assert(got(0) == ((false, false)))
    assert(got(1) == ((true, true)))
    assert(got(2) == ((true, false)))
  }

  test("M2 embed-text composition skips empty parts") {
    val df = Seq(("Kermit Ruffins", "Trumpet player", "", "Jazz, Funk")).toDF(
      "name", "desc", "website", "genres")
    val got = df.select(Parsers.composeEmbedText(Seq(
      "" -> $"name", "" -> $"desc", "Website" -> $"website",
      "Genres" -> $"genres")).as("t")).as[String].head()
    assert(got == "Kermit Ruffins. Trumpet player. Genres: Jazz, Funk")
  }
}
