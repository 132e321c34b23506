package graft.dims

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** The reference loader's upsert semantics (SURVEY.md §2.10), re-expressed
  * set-oriented: instead of row-at-a-time `INSERT ... ON CONFLICT`, one
  * full-outer join of target vs. deduplicated source with per-column
  * assignment rules.
  *
  * Three rule families coexist in the reference:
  *  - insert-only (genres, A1 — loader/service.py:277-285): matched rows
  *    keep every target value;
  *  - COALESCE-per-column (artists, A2 — loader/service.py:342-361): new
  *    non-null values win, nulls never clobber;
  *  - last-write-wins (subset of venue columns, A3 —
  *    loader/service.py:577-623): source always wins when matched.
  *
  * At scale this is a single shuffle on the natural key (or zero shuffles
  * when both sides are bucketed by it); the source is `dropDuplicates`'d
  * on the key first because Spark has no unique constraints (D3).
  */
object CoalesceMerge {

  sealed trait Rule
  /** target value kept when matched; source used only for inserts. */
  case object InsertOnly extends Rule
  /** coalesce(source, target): non-null source wins. */
  case object CoalesceNewWins extends Rule
  /** source always wins when matched (last-write-wins). */
  case object Overwrite extends Rule

  /** Statically-empty check (no job, no IO): true only when the plan is a
    * provably empty LocalRelation / zero-partition RDD — the
    * `emptyWarehouse` bootstrap shape. Parquet-backed targets always
    * return false (a file listing would not be free). */
  private def knownEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _: org.apache.spark.sql.execution.LogicalRDD =>
        df.rdd.getNumPartitions == 0
      case _ => false
    }

  /** Bootstrap fast path: merging into a known-empty target is a pure
    * insert of the deduplicated source — no outer join, no shuffle of the
    * (empty) target side. Column set/order matches the general path. */
  private def insertAll(target: DataFrame, src: DataFrame, keys: Seq[String]): DataFrame = {
    // same column order as the general path: keys, then remaining target
    // columns, then _action
    val ordered = keys ++ target.columns.filterNot(keys.contains)
    val aligned = ordered.map { c =>
      if (src.columns.contains(c)) col(c)
      else lit(null).cast(target.schema(c).dataType).as(c)
    }
    src.select(aligned :+ lit("insert").as("_action"): _*)
  }

  /** Upsert `source` into `target` on `keys`, the source first reduced to one
    * row per key by [[dedupDeterministic]].
    *
    * @param rules per-column rule for every non-key column present in
    *              both frames; columns absent from the map default to
    *              CoalesceNewWins (the reference's artist rule).
    * @return merged frame with target's column order plus an `_action`
    *         column ("insert" | "update" | "keep") for A-agg1 counters.
    */
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String],
             rules: Map[String, Rule] = Map.empty): DataFrame =
    upsertUnique(target, dedupDeterministic(source, keys), keys, rules)

  /** [[upsert]] of a source that already holds one row per key, reduced by
    * [[dedupDeterministic]] so columns derived from the survivors (an
    * embedding) are computed once per key. */
  def upsertUnique(target: DataFrame, src: DataFrame, keys: Seq[String],
                   rules: Map[String, Rule] = Map.empty): DataFrame = {
    if (knownEmpty(target)) return insertAll(target, src, keys)
    // Presence markers, not key-nullness: a null-key target row must read
    // as "target present, unmatched" (keep), not as an insert.
    val t = target.withColumn("_tp", lit(1)).alias("t")
    val s = src.withColumn("_sp", lit(1)).alias("s")
    // Plain equality (not <=>): null keys never match, consistent with the
    // SQL-oracle FULL OUTER JOIN — a null-key source row becomes an insert
    // without silently discarding a null-key target row's values.
    val cond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val joined = t.join(s, cond, "full_outer")

    val matched = col("t._tp").isNotNull && col("s._sp").isNotNull
    val insertOnlyRow = col("t._tp").isNull

    val keyCols = keys.map(k => coalesce(col(s"t.$k"), col(s"s.$k")).as(k))
    val valueCols = target.columns.filterNot(keys.contains).map { c =>
      val tc = col(s"t.$c")
      val hasSrc = src.columns.contains(c)
      if (!hasSrc) tc.as(c)
      else {
        val sc = col(s"s.$c")
        val whenMatched = rules.getOrElse(c, CoalesceNewWins) match {
          case InsertOnly      => tc
          case CoalesceNewWins => coalesce(sc, tc)
          case Overwrite       => sc
        }
        when(matched, whenMatched)
          .when(insertOnlyRow, sc)   // pure insert
          .otherwise(tc)             // target-only row: keep
          .as(c)
      }
    }
    val action = when(insertOnlyRow, "insert")
      .when(matched, "update").otherwise("keep")
    joined.select(keyCols ++ valueCols :+ action.as("_action"): _*)
  }

  /** D3 with a DETERMINISTIC winner: `dropDuplicates` keeps an arbitrary
    * row among key-duplicates, so a retried/re-planned merge could pick a
    * different payload. Rank duplicates by their full value tuple and
    * keep the smallest — stable across runs, partitionings and retries
    * (all engine column types here are orderable; no map columns). */
  def dedupDeterministic(source: DataFrame, keys: Seq[String]): DataFrame = {
    val valueCols = source.columns.filterNot(keys.contains)
    if (valueCols.isEmpty) source.dropDuplicates(keys)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(valueCols.map(col).toIndexedSeq: _*)
      source.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    }
  }

  /** A1 — insert-if-absent (get-or-create): anti-join then union; no
    * matched-row updates at all. Cheaper than full-outer when the rule
    * set is pure InsertOnly.
    *
    * A stored target bucketed on exactly `keys` ([[bucketedOn]]) is
    * anti-joined by sort-merge (`merge` hint): it is read in its buckets
    * with no exchange and only the source is shuffled. A broadcast of it
    * would build a hash relation keyed by a string or by two longs, a
    * whole 16 MB memory page however small the target ([[HashLookup]]).
    * Any other target is left to the planner. */
  def insertIfAbsent(target: DataFrame, source: DataFrame, keys: Seq[String],
                     dedupSource: Boolean = true): DataFrame = {
    val src = if (dedupSource) dedupDeterministic(source, keys) else source
    if (knownEmpty(target))
      return target.unionByName(src, allowMissingColumns = true)
    val targetKeys = target.select(keys.map(col): _*)
    val fresh = src.join(if (bucketedOn(target, keys)) targetKeys.hint("merge") else targetKeys,
      keys, "left_anti")
    target.unionByName(fresh, allowMissingColumns = true)
  }

  /** True when `df` scans a table bucketed on exactly `keys` into at least
    * `spark.sql.shuffle.partitions` buckets. Only then does a sort-merge
    * join keep the table's own partitioning: with fewer buckets than the
    * other side's shuffle partitions, the planner re-shuffles the table. */
  private def bucketedOn(df: DataFrame, keys: Seq[String]): Boolean =
    df.queryExecution.optimizedPlan match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.bucketSpec.exists(b =>
        b.bucketColumnNames == keys && b.numBuckets >= SQLConf.get.numShufflePartitions)
      case _ => false
    }

  /** A-agg1 — operation summary counters over the merge's `_action`. */
  def operationSummary(merged: DataFrame): DataFrame =
    merged.groupBy(col("_action")).agg(count(lit(1)).as("n"))
}
