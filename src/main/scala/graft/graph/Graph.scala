package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives over edge DataFrames.
  *
  * `dedup.Dedup.unionFindClusters` collects the edge set to the driver —
  * right for LSH candidate graphs (edges ≪ nodes), wrong once the edge
  * set itself is cluster-scale. These are the distributed counterparts:
  * plain DataFrame joins + aggregations, one shuffle per superstep, no
  * driver state beyond loop control.
  */
object Graph {

  /** Connected components by iterative min-label propagation.
    *
    * Per superstep each node's label becomes the min of its own and its
    * neighbors' labels — after convergence every node carries the
    * minimum id reachable from it (the recursive-CTE closure answer).
    * Supersteps are plain shuffles (join on src + groupBy dst), so the
    * step cost is O(|E|) shuffled bytes regardless of component count;
    * iterations needed = graph diameter (near-dup graphs: single
    * digits). `localCheckpoint` after each step truncates the logical
    * plan so iteration N doesn't replan (or re-execute) steps 1..N-1 —
    * THE standard Spark iterative-algorithm guard. Labels here propagate
    * with pointer-jumping (active from superstep 2),
    * so convergence needs O(log diameter) supersteps — maxIter 20 covers
    * diameter ~2^18, effectively any real graph. If `maxIter` still fires before
    * convergence the labels of any unconverged component are an upper
    * bound on its true minimum (deterministic, but not a fixed point):
    * `strict = true` turns that into an exception instead of a warning,
    * for callers (e.g. the dedup transitive closure) whose contract is
    * the exact recursive closure.
    *
    * @param ids   one row per node: column `id` (long)
    * @param edges undirected candidate pairs: columns `id_a`, `id_b`
    */
  def connectedComponents(ids: DataFrame, edges: DataFrame,
                          maxIter: Int = 20,
                          strict: Boolean = false): DataFrame = {
    // cached pre-partitioned on src: the cache's hashpartitioning(src)
    // satisfies both the seed distinct below and every superstep's msgs
    // join, so the |E| edge rows shuffle ONCE for the whole run instead
    // of once per iteration
    val und = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(col("src"))
      .persist()
    try {
      // seed over ids ∪ edge endpoints: an edge mentioning a node missing
      // from `ids` must still relay labels (and must not trip the
      // convergence probe into a premature stop)
      val nodes = ids.select(col("id"))
        .union(und.select(col("src").as("id"))).distinct()
      val (labels, converged) =
        minLabelFixpoint(nodes.select(col("id"), col("id").as("label")),
          und, maxIter)
      if (!converged) {
        val msg = s"[graft] connectedComponents: maxIter=$maxIter " +
          "reached before convergence — labels are an upper bound, not a fixpoint"
        if (strict) throw new IllegalStateException(msg)
        System.err.println(msg)
      }
      // output contract: one row per distinct input id
      ids.select(col("id")).distinct().join(labels, "id")
        .select(col("id"), col("label").as("cluster_id"))
    } finally und.unpersist()
  }

  /** Shared min-label superstep loop (the engine's ONE implementation of
    * distributed label propagation, driven by `connectedComponents`).
    * `seed` must cover
    * every node that should relay labels; `sym` is the symmetrized edge
    * list (`src`, `dst`). Each superstep is one join + one groupBy-min
    * sharing the id partitioning; `localCheckpoint` truncates lineage so
    * step N never replans steps 1..N-1. Each node's previous label rides
    * through the aggregation next to the new one, and an accumulator in
    * a pass-through map counts label≠prev rows DURING the checkpoint
    * materialization — one job per superstep, no separate probe job and
    * no join of the full label set against the previous iteration
    * (which would cost two more exchanges per superstep; the separate
    * probe job it replaces measured ~25% of q124's CC wall time).
    * Callers should pass `sym` hash-partitioned (cached) on
    * `src`; then the only per-superstep shuffle is the groupBy that
    * routes messages to their destination ids.
    *
    * Each superstep from the second on adds pointer-jumping:
    * label'(v) = min(label(v), label(label(v))). A label is always the
    * id of a node reachable from v, so the jump stays within v's
    * component (exactness preserved) while doubling how far labels
    * travel per superstep — convergence in O(log diameter) instead of
    * O(diameter), for one extra self-join shuffle per superstep. */
  private[graft] def minLabelFixpoint(seed: DataFrame, sym: DataFrame,
                                      maxIter: Int): (DataFrame, Boolean) = {
    // the seed is cached, not checkpointed: iteration 1 consumes it
    // twice (msgs join + convergence probe) so the cache avoids a
    // double evaluation, while skipping an eager materialization job
    val seedCached = seed.cache()
    var labels = seedCached
    var iter = 0
    var converged = false
    var ok = false
    try {
      val labelType = seed.schema("label").dataType

      // ONE superstep: min-label round (+ optional pointer jump).
      // Message rows carry prev = null; each node's own row carries
      // prev = its current label. After groupBy, max(prev) is exactly
      // the node's previous label (one own-row per seeded node), so
      // convergence reads off the aggregated frame directly.
      def superstep(cur: DataFrame, stepIdx: Int): DataFrame = {
        val msgs = sym.join(cur, sym("src") === cur("id"))
          .select(sym("dst").as("id"), col("label"),
            lit(null).cast(labelType).as("prev"))
        val own = cur.select(col("id"), col("label"),
          col("label").as("prev"))
        var next = own.unionByName(msgs)
          .groupBy("id").agg(min("label").as("label"),
            max("prev").as("prev"))
        // pointer jumping costs one self-join exchange per superstep and
        // only pays off once labels must travel multiple hops; starting
        // it at superstep 2 means shallow graphs (near-dup chains,
        // diameter ≤ 3 — the common case) never pay it, while deep
        // graphs keep O(log diameter) convergence from step 2 onward
        if (stepIdx >= 2) {
          // left join: a label that is not itself a seeded node id
          // (possible for caller-provided cluster labels) just keeps its
          // current value
          val byId = next.select(col("id").as("_jid"),
            col("label").as("_jlabel"))
          next = next.join(byId, next("label") === byId("_jid"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("_jlabel"), col("label")))
                .as("label"),
              col("prev"))
        }
        next
      }

      val spark = seed.sparkSession
      while (iter < maxIter && !converged) {
        val next = superstep(labels, iter)
        // convergence probe FUSED into the materialization job: a
        // pass-through mapPartitions counts changed rows into an
        // accumulator while localCheckpoint writes the partitions, so
        // each superstep is ONE job, not checkpoint + probe. Task
        // retries can only over-count (accumulator at-least-once), and
        // an over-count merely runs one more superstep — a false
        // "converged" is impossible.
        // null-safe: a node reached by an edge but absent from the seed
        // has prev = null and must count as changed, not converged.
        val acc = spark.sparkContext.longAccumulator("graft.cc.changed")
        val nextSchema = next.schema
        val counted = next.mapPartitions { it =>
          it.map { r =>
            val l = if (r.isNullAt(1)) null else r.get(1)
            val p = if (r.isNullAt(2)) null else r.get(2)
            if ((l == null) != (p == null) || (l != null && l != p)) acc.add(1L)
            r
          }
        }(org.apache.spark.sql.Encoders.row(nextSchema))
        val checkpointed = counted.localCheckpoint()
        labels = checkpointed.select(col("id"), col("label"))
        converged = acc.value == 0
        iter += 1
      }
      ok = true
    } finally {
      // every later `labels` is an independent checkpoint, so the seed
      // cache can be dropped without invalidating the result; on an
      // exception mid-loop, drop it unconditionally so the session
      // doesn't leak the cached seed
      if (!ok || !(labels eq seedCached)) seedCached.unpersist()
    }
    (labels, converged)
  }

  private val DampNum = 85L
  private val DampDen = 100L
  private val Scale = 1000000000000L

  /** PageRank in integer fixed-point arithmetic.
    *
    * Ranks are maintained as `bigint` units of `Scale` (mass 1.0 ≡
    * `Scale` = 10¹²), damping is `DampNum`/`DampDen` = 85/100, every step being integer division and long sums — so the
    * result is EXACTLY reproducible anywhere (a float PageRank differs
    * in the last ulps across engines/partitionings because double
    * addition isn't associative; long addition is). Dangling-node mass
    * is dropped (not redistributed), matching the replay SQL.
    *
    * rank₀ = Scale div N;
    * rankₖ₊₁(v) = teleport + (Σ_{u→v} rankₖ(u) div outdeg(u)) * DampNum div DampDen
    * where teleport = (Scale div N) * (DampDen − DampNum) div DampDen.
    *
    * Each iteration: one join of edges to current ranks (both sides
    * hash-partitioned on src — a co-partitioned shuffle reused across
    * iterations at scale via bucketing) + one groupBy dst. Driver holds
    * only N.
    *
    * @param edges directed distinct edges: columns `src`, `dst` (long)
    */
  def pageRankFixedPoint(edges: DataFrame, iterations: Int = 3): DataFrame = {
    // r13: the edge frame feeds the node set (BOTH union legs), the
    // out-degree aggregate, and every iteration's contribution join —
    // with pure lineage each consumer re-evaluated the caller's edge
    // subtree from scratch, because the legs project different columns
    // and ReuseExchange never matches (measured on q313: the
    // outlink-extraction UDF chain ran as ~5 separate ~1 s stages; on
    // q125 the orders⋈lineitem join repeated per consumer). One eager
    // localCheckpoint pays a single evaluation of a (long, long) frame
    // — the same lineage-cut shape every iterative loop here uses.
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    // N enters as a broadcast 1-row aggregate, not a driver-side count
    val nN = nodes.agg(count(lit(1)).as("_n"))
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val teleportExpr =
      expr(s"(($Scale div _n) * ${DampDen - DampNum}) div $DampDen")
    var ranks = nodes.crossJoin(broadcast(nN))
      .select(col("id"), expr(s"$Scale div _n").as("rank"))
    var i = 0
    while (i < iterations) {
      val contrib = e.join(ranks, e("src") === ranks("id"))
        .join(outdeg, "src")
        .select(col("dst").as("id"), expr("rank div deg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("m"))
      ranks = nodes.join(contrib, Seq("id"), "left")
        .crossJoin(broadcast(nN))
        .select(col("id"),
          (teleportExpr +
            expr(s"(coalesce(m, 0L) * $DampNum) div $DampDen")).as("rank"))
      // short runs keep pure lineage; long runs cut it every 5 steps so
      // planning cost and recompute depth stay bounded
      if ((i + 1) % 5 == 0) ranks = ranks.localCheckpoint()
      i += 1
    }
    ranks
  }
}
