package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Temperature-flattened corpus mixture sampling — the multilingual /
  * multi-source pretraining mixing step (Conneau & Lample's
  * p_g ∝ q_g^α rebalancing; the reference has no corpus assembly at
  * all, so this extends the north-star pipeline surface the same way
  * the dedup family does): over-represented groups are down-sampled
  * and rare groups up-sampled (emitted more than once), with every
  * per-document decision a pure function of the id.
  *
  * Determinism across engines (the oracle contract): α is FIXED at 0.5
  * because IEEE-754 requires `sqrt` (and `/`) to be correctly rounded —
  * Spark and any replaying SQL engine compute bit-identical rates —
  * whereas a general `pow(x, α)` is only faithfully rounded and may
  * differ in the last ulp between libms. The rate then drops to an
  * integer basis-point grid, and the per-doc draw compares integer
  * hash residues (the q173 mod-before-multiply closed form, ANSI-safe),
  * so no further float arithmetic exists to disagree about.
  *
  * Sampling semantics per group g with n_g members out of N total:
  * `rate_bp = min(capBp, floor(gainBp · sqrt(N / n_g)))` — at α = 0.5
  * the kept mass per group scales with sqrt(n_g), flattening the
  * distribution; `gainBp` sets the overall budget (a group at the
  * corpus mean frequency keeps ≈ gainBp/10000 · sqrt(#groups) of its
  * docs) and `capBp` bounds upsampling (e.g. 30000 = at most 3×).
  * Each doc then emits `n_copies = rate_bp div 10000 + Bernoulli(rate_bp
  * mod 10000)` copies — 0 drops the doc, ≥ 2 repeats it (rare-group
  * upsampling), exactly the epoch-repeat layout a sampling-weighted
  * training run consumes.
  *
  * Plan shape: one hash aggregate for the group counts, a broadcast of
  * that tiny frame plus the 1-row total back onto the corpus grain,
  * then map-side integer arithmetic — no shuffle of the documents
  * themselves, no window, no driver state beyond the group list.
  *
  * @return one row per INPUT doc: (idCol, group, rate_bp, n_copies)
  */
object MixtureSample {
  private val P = 1000003L
  private val Mult = 2654435761L

  /** The q173 closed-form uniform residue in [0, P): mod before the
    * multiply keeps every intermediate < 2^63 under ANSI overflow
    * checking, and the whole draw replays verbatim in oracle SQL. */
  private def hashResidue(id: Column, seed: Long): Column =
    pmod(pmod(id + lit(seed), lit(P)) * lit(Mult), lit(P))

  def temperatureSample(df: DataFrame, groupCol: Column, idCol: String,
                        gainBp: Int = 6000, capBp: Int = 30000,
                        seed: Long = 17L): DataFrame = {
    require(gainBp > 0 && capBp >= gainBp, "need 0 < gainBp <= capBp")
    val grouped = df.select(col(idCol), groupCol.as("group"))
    val counts = grouped.groupBy(col("group"))
      .agg(count(lit(1)).as("n_g"))
    val total = counts.agg(sum(col("n_g")).as("n_total"))
    val rated = counts.crossJoin(broadcast(total))
      .select(col("group"),
        least(lit(capBp.toLong),
          floor(lit(gainBp) *
            sqrt(col("n_total").cast("double") / col("n_g"))))
          .cast("bigint").as("rate_bp"))
    grouped.join(broadcast(rated), Seq("group"))
      .select(col(idCol), col("group"), col("rate_bp"),
        expr("rate_bp div 10000").as("_whole"),
        hashResidue(col(idCol).cast("long"), seed).as("_h"),
        // integer Bernoulli threshold: h < floor(frac_bp · P / 10000)
        expr(s"(rate_bp % 10000) * ${P}L div 10000").as("_t"))
      .select(col(idCol), col("group"), col("rate_bp"),
        (col("_whole") + when(col("_h") < col("_t"), 1L).otherwise(0L))
          .cast("bigint").as("n_copies"))
  }
}
