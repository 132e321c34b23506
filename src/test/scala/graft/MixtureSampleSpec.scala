package graft

import graft.operators.MixtureSample
import org.apache.spark.sql.functions._

class MixtureSampleSpec extends SparkSpec {
  import spark.implicits._

  // skewed corpus: 800 docs of "big", 80 of "mid", 8 of "rare"
  private def corpus = (
    (0 until 800).map(i => (i.toLong, "big")) ++
    (800 until 880).map(i => (i.toLong, "mid")) ++
    (880 until 888).map(i => (i.toLong, "rare"))
  ).toDF("doc_id", "src")

  test("temperature flattening: rarer groups get higher rates, cap binds") {
    val rates = MixtureSample.temperatureSample(corpus, col("src"), "doc_id",
        gainBp = 6000, capBp = 30000)
      .select("group", "rate_bp").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates("big") < rates("mid") && rates("mid") < rates("rare"))
    // rate_g = min(cap, 6000·sqrt(888/n_g)) exactly
    assert(rates("big") ==
      math.min(30000L, math.floor(6000 * math.sqrt(888.0 / 800)).toLong))
    assert(rates("mid") ==
      math.min(30000L, math.floor(6000 * math.sqrt(888.0 / 80)).toLong))
    assert(rates("rare") == 30000L) // 6000·sqrt(111) ≈ 63k → capped 3×
  }

  test("per-doc copies: whole part + Bernoulli; group mass ≈ n_g·rate") {
    val out = MixtureSample.temperatureSample(corpus, col("src"), "doc_id")
      .cache()
    // every doc emits floor(rate/10000) or floor(rate/10000)+1 copies
    assert(out.filter(
      col("n_copies") =!= expr("rate_bp div 10000") &&
      col("n_copies") =!= expr("rate_bp div 10000 + 1")).count() == 0L)
    // kept mass per group tracks n_g·rate_bp/10000 (hash-uniformity:
    // generous ±20% tolerance on the Bernoulli fraction)
    val mass = out.groupBy("group")
      .agg(sum("n_copies").as("kept"), count(lit(1)).as("n_g"),
        first("rate_bp").as("rate"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    mass.foreach { case (g, kept, n, rate) =>
      val want = n.toDouble * rate / 10000.0
      assert(math.abs(kept - want) <= math.max(4.0, 0.2 * want),
        s"group $g kept=$kept want=$want")
    }
    out.unpersist()
  }

  test("deterministic: two runs produce identical rows") {
    def run() = MixtureSample.temperatureSample(corpus, col("src"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(run() == run())
  }
}
