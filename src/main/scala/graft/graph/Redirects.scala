package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HTTP redirect-chain resolution — the frontier step BEFORE URL
  * dedup: archived crawls carry 301/302 maps (src → dst), and the
  * canonical identity of a page is its chain's FINAL target, not the
  * URL that was fetched. Collapsing `a → b → c` onto `c` before the
  * canonical-URL groupBy (q288) is what stops one logical page from
  * surviving dedup once per redirect hop.
  *
  * Resolution is POINTER DOUBLING, not per-hop iteration: each round
  * joins the current mapping with itself, so `maxHops` needs only
  * ⌈log2(maxHops)⌉ shuffle rounds — at 100 TB a 32-hop budget costs 5
  * self-joins of an (8-byte, 8-byte) key frame, never a driver loop
  * over rows. The doubling horizon is 2^⌈log2(maxHops)⌉ ≥ maxHops, so
  * each row also carries its WALKED HOP COUNT (one extra 8-byte
  * column through the shuffles); the budget is then enforced exactly:
  * a chain is unresolved when, after the rounds, its target still has
  * an out-edge (self-loops, cycles, chains deeper than the horizon)
  * OR its walked count exceeds `maxHops` (chains the doubling
  * over-reached past the stated budget — e.g. a 7-hop chain under
  * maxHops=5). Unresolved rows keep `final_id` NULL so downstream
  * dedup can quarantine rather than mis-assign them.
  *
  * Materialization: each round eagerly `localCheckpoint`s to truncate
  * lineage (see inline comment). Checkpoint blocks live at the
  * executors' default storage level (memory, spilling to disk); on a
  * real cluster an EXECUTOR LOSS after truncation makes the frame
  * unrecoverable ("checkpoint block not found") because the lineage
  * is gone. Acceptable for this engine's job-scoped frames (the
  * resolve output is consumed within the same job); long-lived
  * callers on preemptible clusters should write a reliable
  * `checkpoint()` to the checkpoint dir instead — same plan shape,
  * durable blocks.
  *
  * Input `edges`: one row per redirect (`src`, `dst`), at most one
  * out-edge per src (HTTP gives exactly one Location per URL; callers
  * with conflicting observations dedup first — latest-fetch-wins is a
  * groupBy upstream).
  */
object Redirects {

  /** Resolve every chain to (src, final_id, unresolved). Sources with
    * no out-edge are NOT in the output (they are their own final —
    * callers left-join and coalesce, see q304). */
  def resolve(edges: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    var t = edges.select(col("src"), col("dst").as("tgt"),
      lit(1L).as("_d"))
    var hops = 1
    while (hops < maxHops) {
      // t2(u) = t(t(u)) where defined, else t(u): one self-join doubles
      // the hop horizon; targets that are terminal just pass through.
      // The walked-hop counts ADD on composition, so _d ends up the
      // chain's true depth (up to the doubling horizon).
      val step = t.select(col("src").as("_s2"), col("tgt").as("_t2"),
        col("_d").as("_d2"))
      t = t.join(step, t("tgt") === step("_s2"), "left")
        .select(col("src"), coalesce(col("_t2"), col("tgt")).as("tgt"),
          (col("_d") + coalesce(col("_d2"), lit(0L))).as("_d"))
      hops *= 2
      // MATERIALIZE each round (truncate lineage): without this, the
      // self-join references its own unexecuted subtree TWICE, so the
      // plan doubles per round — 2^rounds copies of the base scan (a
      // depth-64 resolution over 1M edges read 100 s before this line,
      // 4 s after; PLANS.md records the redirects lineage blow-up).
      // localCheckpoint keeps the frame usable by the caller with no
      // explicit unpersist contract (eviction caveat in the object doc).
      if (hops < maxHops) t = t.localCheckpoint(true)
    }
    // unresolved = target still redirects after the rounds (cycle or
    // deeper than the horizon) OR the walked depth exceeds the stated
    // budget (the doubling horizon over-reached maxHops)
    val outs = edges.select(col("src").as("_o")).distinct()
    t.join(outs, t("tgt") === outs("_o"), "left")
      .select(col("src"),
        when(col("_o").isNull && col("_d") <= maxHops, col("tgt"))
          .as("final_id"),
        (col("_o").isNotNull || col("_d") > maxHops).as("unresolved"))
  }
}
