package graft.operators

import org.apache.spark.sql.{DataFrame, Column, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Exact global ordering operators that scale.
  *
  * `row_number()/ntile()/sum() OVER (ORDER BY ...)` with no PARTITION BY
  * collapses the whole relation into ONE task (Spark's WindowExec warns
  * "Moving all data to a single partition") — the classic 100 TB
  * scale-killer hiding in a correct small-data plan. These helpers keep
  * the exact semantics with ONE range shuffle:
  *
  *   1. `repartitionByRange(order)` + `sortWithinPartitions(order)` —
  *      a scalable parallel total sort (the same machinery as a global
  *      `ORDER BY`, range boundaries from a driver-side sample);
  *   2. `monotonically_increasing_id()` over the sorted partitions,
  *      decomposed into (partition id, 1-based local rank) — the id
  *      packs the partition id in the upper 31 bits and the record
  *      number in the lower 33, and projection order after a sort is
  *      the sort order, so the local rank IS the per-partition rank;
  *   3. per-partition counts (reusing the same exchange) rolled into an
  *      exclusive prefix on a ≤ numShufflePartitions-row frame, then
  *      broadcast-joined back: global rank = partition offset + local
  *      rank.
  *
  * The only unpartitioned window left runs over that bounded offsets
  * frame (one row per shuffle partition), never over the data.
  *
  * Preconditions: `order` must be a TOTAL order (include a unique
  * tiebreaker column) for the result to be deterministic — the same
  * requirement the single-partition window form has for a stable
  * result. Partitions must stay under 2^33 rows (the id's record
  * field); with numShufflePartitions sized so partitions fit in
  * executor memory this holds by construction.
  *
  * Reference semantics pinned by the ScalaTest spec: equality with the
  * `Window.orderBy(...)` single-partition forms, including NTILE's
  * remainder rule (first n%k buckets one row larger) and n<k.
  */
object GlobalOrder {

  private val Mid = "_go_mid"
  private val Pid = "_go_pid"
  private val Lrn = "_go_lrn"
  private val Cnt = "_go_cnt"
  private val Off = "_go_off"
  private val Tot = "_go_n"
  private val Val = "_go_v"
  private val Lrs = "_go_lrs"
  private val SOff = "_go_soff"

  private def guard(df: DataFrame): Unit = {
    val clash = df.columns.filter(_.startsWith("_go_"))
    require(clash.isEmpty,
      s"input columns collide with GlobalOrder temp names: ${clash.mkString(",")}")
  }

  /** Range-sorted frame tagged with (partition id, 1-based local rank).
    *
    * Materialized via an eager localCheckpoint: the ranked frame feeds BOTH
    * the per-row side and the per-partition offsets aggregate of every
    * public method, and the (pid, local-rank) pairing must be the SAME
    * evaluation on both branches. Without materialization that pairing
    * rests on Spark exchange reuse (`spark.sql.exchange.reuse`) plus the
    * caller honoring the total-order precondition; checkpointing makes it
    * unconditional, and as a bonus stacked calls (q140's three ntiles)
    * stop re-executing the whole upstream lineage per call — each call
    * reads the previous call's materialized output. */
  private def ranked(df: DataFrame, order: Seq[Column],
                     partitions: Int): DataFrame = {
    val n = if (partitions > 0) partitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn(Mid, monotonically_increasing_id())
      .withColumn(Pid, shiftright(col(Mid), 33).cast("int"))
      .withColumn(Lrn, col(Mid).bitwiseAND(lit((1L << 33) - 1)) + lit(1L))
      .drop(Mid)
      .localCheckpoint(true)
  }

  /** Per-partition row counts (plus optional per-partition sums) with
    * their exclusive prefix — the broadcast side of the offset join.
    * Bounded at one row per shuffle partition, so the unpartitioned
    * prefix window here is over a fixed-size frame, not the data. */
  private def offsets(t: DataFrame, sumCol: Option[String]): DataFrame = {
    val aggs = count(lit(1)).as(Cnt) +:
      sumCol.map(c => sum(col(c)).as("_go_stot")).toSeq
    val counts = t.groupBy(col(Pid)).agg(aggs.head, aggs.tail: _*)
    val w = Window.orderBy(col(Pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = counts.withColumn(Off,
      coalesce(sum(col(Cnt)).over(w), lit(0L)))
    sumCol.fold(base)(_ => base.withColumn(SOff,
      coalesce(sum(col("_go_stot")).over(w), lit(0L))))
  }

  /** Exact `row_number() OVER (ORDER BY order)` without the
    * single-partition window: one range shuffle + a broadcast join. */
  def withRowNumber(df: DataFrame, order: Seq[Column], out: String,
                    partitions: Int = 0): DataFrame = {
    guard(df)
    val t = ranked(df, order, partitions)
    val offs = offsets(t, None).select(col(Pid), col(Off))
    t.join(broadcast(offs), Seq(Pid))
      .withColumn(out, col(Off) + col(Lrn))
      .drop(Pid, Lrn, Off)
  }

  /** Exact `ntile(k) OVER (ORDER BY order)` (SQL remainder rule: with
    * n rows, the first n%k buckets hold one row more). Output is INT,
    * matching Spark's ntile. */
  def withNtile(df: DataFrame, order: Seq[Column], k: Int, out: String,
                partitions: Int = 0): DataFrame = {
    require(k >= 1, s"ntile bucket count must be >= 1, got $k")
    guard(df)
    val t = ranked(df, order, partitions)
    // the grand total rides in the same bounded offsets frame (an
    // unbounded window over ≤ numShufflePartitions rows) — one broadcast
    // join instead of offsets + a separate total cross-join
    val wTot = Window.orderBy(col(Pid))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offs = offsets(t, None)
      .withColumn(Tot, sum(col(Cnt)).over(wTot))
    val rn = "_go_rn"
    // q = n div k rows per bucket, first r = n % k buckets get one more;
    // greatest(q, 1) keeps the (never-taken when q = 0) ELSE branch from
    // dividing by zero under ANSI evaluation
    val bucket = expr(
      s"""CASE WHEN $rn <= ($Tot % $k) * (($Tot div $k) + 1)
         |THEN ($rn - 1) div (($Tot div $k) + 1) + 1
         |ELSE ($Tot % $k) +
         |  ($rn - ($Tot % $k) * (($Tot div $k) + 1) - 1)
         |    div greatest($Tot div $k, 1L) + 1 END""".stripMargin)
    t.join(broadcast(offs.select(col(Pid), col(Off), col(Tot))), Seq(Pid))
      .withColumn(rn, col(Off) + col(Lrn))
      .withColumn(out, bucket.cast("int"))
      .drop(Pid, Lrn, Off, rn, Tot)
  }

  /** Exact `row_number() OVER (PARTITION BY keys ORDER BY order)`
    * without the per-key single-task ceiling: `Window.partitionBy(h)`
    * sends EVERY row of a key to ONE task, so a mega-host with 10^7
    * frontier URLs serializes on one core (the q305 politeness-skew
    * hazard). Here the data is range-partitioned by (keys ++ order) —
    * a hot key SPANS partitions — and the per-key rank is rebuilt
    * from per-(partition, key) segment stats:
    *
    *   1. range shuffle + in-partition sort on (keys ++ order): rows
    *      of a key are contiguous within each partition, so the
    *      per-partition local row number (from the id decomposition)
    *      increments by exactly 1 inside a (partition, key) segment;
    *   2. one aggregate builds the SEGMENT frame — one row per
    *      (partition id, key): row count + first local row number.
    *      A 10^7-row host spanning 100 partitions contributes 100
    *      rows here, not 10^7;
    *   3. the per-key exclusive prefix over that frame (a window
    *      partitioned BY KEY over segment rows — bounded by the
    *      partition count per key, never by data);
    *   4. join back on (partition id, keys) — uniform by construction
    *      (a partition id's rows are one shuffle partition), so the
    *      join reintroduces no skew; rank = prefix + (local row
    *      number - segment start) + 1.
    *
    * Two shuffles of the data (range + the segment join) vs the
    * window form's one — the price of removing the per-key ceiling.
    * Equality with `row_number().over(Window.partitionBy...)` is
    * spec-pinned (GlobalOrderSpec), including single-row keys and a
    * key spanning many partitions.
    *
    * `keys` are column NAMES (they survive the groupBy/join round
    * trip); `order` must make (keys ++ order) a total order. */
  def withGroupedRowNumber(df: DataFrame, keys: Seq[String],
                           order: Seq[Column], out: String,
                           partitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "withGroupedRowNumber needs at least one key")
    guard(df)
    val t = ranked(df, keys.map(col) ++ order, partitions)
    val segs = t.groupBy((col(Pid) +: keys.map(col)): _*)
      .agg(count(lit(1)).as(Cnt), min(col(Lrn)).as(SOff))
    val wKey = Window.partitionBy(keys.map(col): _*).orderBy(col(Pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = segs
      .withColumn(Off, coalesce(sum(col(Cnt)).over(wKey), lit(0L)))
      .select((col(Pid) +: keys.map(col)) :+ col(Off) :+ col(SOff): _*)
    t.join(offs, Pid +: keys)
      .withColumn(out, col(Off) + (col(Lrn) - col(SOff)) + lit(1L))
      // the using-columns join moved the keys first; restore the
      // caller's column order
      .select((df.columns :+ out).map(col): _*)
  }

  /** Exact running total `sum(value) OVER (ORDER BY order ROWS BETWEEN
    * UNBOUNDED PRECEDING AND CURRENT ROW)` for an integral value, plus
    * (optionally) the row number from the same single shuffle.
    *
    * The local scan is a narrow per-partition pass over the sorted
    * data (mapPartitions — genuine sequential accumulation); the
    * cross-partition carry is the broadcast prefix of per-partition
    * totals. Long arithmetic is associative, so the partition-split
    * accumulation is bit-identical to the sequential window — the
    * reason this takes an integral column and not a double (callers
    * quantize money to cents first; see Parsers.cents). Null values
    * count as 0 (the window form instead carries the previous total). */
  def withRunningSumLong(df: DataFrame, order: Seq[Column], value: Column,
                         out: String, rnOut: Option[String] = None,
                         partitions: Int = 0): DataFrame = {
    guard(df)
    val t = ranked(df.withColumn(Val, value.cast("bigint")),
      order, partitions)
    // sequential accumulator within each sorted partition
    val schema = t.schema.add(Lrs, LongType)
    val vIdx = t.schema.fieldIndex(Val)
    val scanned = t.mapPartitions { it =>
      var acc = 0L
      it.map { r =>
        if (!r.isNullAt(vIdx)) acc += r.getLong(vIdx)
        Row.fromSeq(r.toSeq :+ acc)
      }
    }(Encoders.row(schema))
    val offs = offsets(t, Some(Val))
      .select(col(Pid), col(Off), col(SOff))
    val joined = scanned.join(broadcast(offs), Seq(Pid))
      .withColumn(out, col(SOff) + col(Lrs))
    rnOut.fold(joined)(c => joined.withColumn(c, col(Off) + col(Lrn)))
      .drop(Pid, Lrn, Off, SOff, Lrs, Val)
  }
}
