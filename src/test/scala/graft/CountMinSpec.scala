package graft

import graft.sketch.{CmsBuffer, CountMin, HllSketch}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private def words(n: Int): Seq[String] =
    (1 to n).flatMap(i => Seq.fill(i % 7 + 1)(s"w${i % 50}"))

  test("estimate is never below the true count (one-sided error)") {
    val data = words(2000)
    val exact = data.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val sk = data.toDF("t").agg(CountMin.cms_agg(col("t"), 4, 32).as("sk"))
      .head().getAs[Array[Byte]](0)
    val buf = CountMin.deserialize(sk)
    exact.foreach { case (term, c) =>
      val est = buf.query(UTF8String.fromString(term))
      assert(est >= c, s"$term est=$est < exact=$c")
    }
    // absent term: bounded by collisions, and 0 when no row collides
    assert(buf.query(UTF8String.fromString("never_seen")) >= 0L)
  }

  test("wide sketch with few distinct values is exact") {
    val data = Seq.fill(100)("a") ++ Seq.fill(7)("b") ++ Seq.fill(1)("c")
    val sk = data.toDF("t").agg(CountMin.cms_agg(col("t"), 4, 1024).as("sk"))
      .head().getAs[Array[Byte]](0)
    val buf = CountMin.deserialize(sk)
    assert(buf.query(UTF8String.fromString("a")) == 100L)
    assert(buf.query(UTF8String.fromString("b")) == 7L)
    assert(buf.query(UTF8String.fromString("c")) == 1L)
    assert(buf.query(UTF8String.fromString("d")) == 0L)
  }

  test("partitioning-invariant: map-side combine equals single partition") {
    val df = words(3000).toDF("t")
    def sketch(parts: Int): Seq[Long] = {
      val sk = df.repartition(parts).agg(CountMin.cms_agg(col("t"), 4, 32))
        .head().getAs[Array[Byte]](0)
      CountMin.deserialize(sk).counts.toSeq
    }
    assert(sketch(1) == sketch(13)) // counter addition is order-proof
  }

  test("cms_merge of stored sketches equals one global sketch (rollup)") {
    val df = words(3000).zipWithIndex
      .map { case (w, i) => (i % 5, w) }.toDF("g", "t")
    val fine = df.groupBy("g").agg(CountMin.cms_agg(col("t"), 4, 32).as("sk"))
    val merged = fine.agg(expr("cms_merge(sk)"))
      .head().getAs[Array[Byte]](0)
    val global = df.agg(CountMin.cms_agg(col("t"), 4, 32))
      .head().getAs[Array[Byte]](0)
    assert(merged.toSeq == global.toSeq)
  }

  test("sketches survive parquet persistence (binary column round-trip)") {
    val dir = java.nio.file.Files.createTempDirectory("cms").toString
    val df = words(1000).zipWithIndex.map { case (w, i) => (i % 3, w) }
      .toDF("g", "t")
    df.groupBy("g")
      .agg(CountMin.cms_agg(col("t"), 4, 32).as("cms"),
        HllSketch.hll_sketch(col("t"), 9).as("hll"))
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    // CMS rollup from disk == direct global sketch
    val mergedCms = back.agg(expr("cms_merge(cms)"))
      .head().getAs[Array[Byte]](0)
    val globalCms = df.agg(CountMin.cms_agg(col("t"), 4, 32))
      .head().getAs[Array[Byte]](0)
    assert(mergedCms.toSeq == globalCms.toSeq)
    // HLL rollup from disk == direct global estimate, register-identical
    val mergedEst = back.agg(HllSketch.hll_merge_est(col("hll")))
      .head().getLong(0)
    val directEst = df.agg(HllSketch.hll_distinct(col("t"), 9))
      .head().getLong(0)
    assert(mergedEst == directEst)
  }

  test("hll_merge_sketch gives a further-mergeable intermediate level") {
    val df = words(2000).zipWithIndex.map { case (w, i) => (i % 4, i % 2, w) }
      .toDF("a", "b", "t")
    // day → month → total, three levels
    val day = df.groupBy("a", "b").agg(HllSketch.hll_sketch(col("t"), 9).as("sk"))
    val month = day.groupBy("a").agg(expr("hll_merge_sketch(sk)").as("sk"))
    val total = month.agg(HllSketch.hll_merge_est(col("sk"))).head().getLong(0)
    val direct = df.agg(HllSketch.hll_distinct(col("t"), 9)).head().getLong(0)
    assert(total == direct)
  }

  test("SQL surface: cms_agg/cms_query/hll_sketch/hll_merge_est registered") {
    words(500).toDF("t").createOrReplaceTempView("cms_words")
    val row = spark.sql(
      """SELECT cms_query(cms_agg(t, 4, 32), 'w1') AS est,
        |       hll_merge_est(sk) AS hd FROM (
        |  SELECT t, NULL AS sk FROM cms_words)""".stripMargin)
    // hll_merge over all-null sketches is NULL; cms path returns a count
    val r = row.head()
    assert(r.getLong(0) >= words(500).count(_ == "w1").toLong)
    assert(r.isNullAt(1))
    val sqlEst = spark.sql(
      """SELECT hll_merge_est(sk) FROM
        |  (SELECT hll_sketch(t, 9) AS sk FROM cms_words)""".stripMargin)
      .head().getLong(0)
    val apiEst = words(500).toDF("t")
      .agg(HllSketch.hll_distinct(col("t"), 9)).head().getLong(0)
    assert(sqlEst == apiEst)
  }

  test("CmsBuffer row hashes are the documented FNV('r|term') closed form") {
    val b = new CmsBuffer(2, 32)
    b.update(UTF8String.fromString("abc"), 3L)
    val h0 = graft.text.RollingHash.hashToken(UTF8String.fromString("0|abc"))
    val h1 = graft.text.RollingHash.hashToken(UTF8String.fromString("1|abc"))
    assert(b.counts(java.lang.Long.remainderUnsigned(h0, 32L).toInt) == 3L)
    assert(b.counts(32 + java.lang.Long.remainderUnsigned(h1, 32L).toInt) == 3L)
  }
}
