package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Descending, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftbridge.PlanBridge

/** Whole-operator as-of join through all three Catalyst extension layers:
  * a logical node ([[AsOfJoinNode]]), a planner strategy
  * ([[AsOfJoinStrategy]], injected by [[graft.GraftExtensions]]), and a
  * physical merge operator ([[AsOfJoinExec]]).
  *
  * The physical plan is the one a 100 TB point-in-time enrichment wants:
  * each side shuffled ONCE on its key and sorted (key, time) within
  * partitions — EnsureRequirements inserts exactly those exchanges/sorts
  * from the declared `requiredChildDistribution`/`Ordering` — then a
  * single streaming two-pointer merge per partition holding ONE buffered
  * right row, never a per-key window buffer over the unioned inputs (the
  * compositional form in [[AsOfJoin]]) and never a range-explosion.
  *
  * Semantics match DuckDB `ASOF JOIN` (inner): for each left row the
  * single right row with the greatest `rightTime <= leftTime` (backward)
  * or smallest `rightTime >= leftTime` (forward) within the same key;
  * right rows tied on (key, time) are broken deterministically by
  * keeping the last in the child's sort order. `allowEqual = false`
  * makes the comparison strict (`<` / `>`), matching DuckDB's four
  * inequality forms. `tolerance` (same integral unit as the time
  * columns — pass `unix_micros(ts)` for timestamps, `datediff` days for
  * dates) invalidates a match farther than the bound from the left
  * cursor, exactly pandas `merge_asof(tolerance=...)`: the nearest
  * match is found first, then dropped if out of range — equivalent to a
  * post-filter but evaluated inside the merge so no wide intermediate
  * row ever materializes. Neither knob changes the physical shape: same
  * one-shuffle-per-side, same single buffered right row.
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    forward: Boolean,
    tolerance: Option[Long] = None,
    allowEqual: Boolean = true) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, fwd, tol, eq) =>
      AsOfJoinExec(lk, rk, lt, rt, fwd, tol, eq,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    forward: Boolean,
    tolerance: Option[Long],
    allowEqual: Boolean,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  tolerance.foreach { _ =>
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(Seq(LongType, IntegerType, ShortType, ByteType)
        .contains(leftTime.dataType),
      s"as-of tolerance needs an integral time column (pass unix_micros " +
        s"for timestamps); got ${leftTime.dataType}")
  }

  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  private def timeDir = if (forward) Descending else Ascending

  /** (key asc, time asc) for backward; (key asc, time desc) for forward —
    * either way "last right row seen at or before the left cursor" is the
    * as-of match, so ONE buffered row of state suffices. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, timeDir),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, timeDir))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, timeDir)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val fwd = forward
    val tol = tolerance
    val eqOk = allowEqual
    val leftOut = left.output
    val rightOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rightOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTime), leftOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTime), rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val tAsc = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val tOrd: Ordering[InternalRow] = if (fwd) tAsc.reverse else tAsc
      val outProj = UnsafeProjection.create(output, leftOut ++ rightOut)
      val joined = new JoinedRow
      // primitive time extractor for the tolerance check (constructor
      // require() guarantees an integral type whenever tol is set)
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      def timeVal(r: InternalRow): Long = timeType match {
        case LongType => r.getLong(0)
        case IntegerType => r.getInt(0).toLong
        case ShortType => r.getShort(0).toLong
        case ByteType => r.getByte(0).toLong
        case _ => 0L // unreachable when tol is set
      }

      new Iterator[InternalRow] {
        private val rBuf = rIter.buffered
        // last right row consumed whose (key, time) is <= the cursor, in
        // the merge order; `matchKey` is its projected key (own copy —
        // projections reuse their output buffer)
        private var lastMatch: InternalRow = _
        private var matchKey: InternalRow = _
        private var matchTime: Long = 0L
        private var pending: InternalRow = _

        private def advance(): Unit = {
          pending = null
          while (pending == null && lIter.hasNext) {
            val lRow = lIter.next()
            val lKey = lKeyProj(lRow)
            val lT = lTimeProj(lRow).copy()
            var cont = true
            while (cont && rBuf.hasNext) {
              val rKey = rKeyProj(rBuf.head)
              val c = keyOrd.compare(rKey, lKey)
              val tc = if (c == 0) tOrd.compare(rTimeProj(rBuf.head), lT)
                       else Int.MaxValue
              if (c < 0) {
                rBuf.next() // right key already passed — drop
              } else if (c == 0 && (tc < 0 || (tc == 0 && eqOk))) {
                matchKey = rKey.copy()
                if (tol.isDefined) matchTime = timeVal(rTimeProj(rBuf.head))
                lastMatch = rBuf.next().copy()
              } else {
                cont = false // right cursor is ahead of the left row
              }
            }
            if (lastMatch != null && matchKey != null &&
                keyOrd.compare(matchKey, lKey) == 0 &&
                tol.forall { t =>
                  val lTv = timeVal(lT)
                  (if (fwd) matchTime - lTv else lTv - matchTime) <= t
                }) {
              pending = outProj(joined(lRow, lastMatch))
              numOutputRows += 1
            } // inner semantics: unmatched left rows dropped
          }
        }

        override def hasNext: Boolean = {
          if (pending == null) advance()
          pending != null
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty as-of iterator")
          val r = pending
          pending = null
          r
        }
      }
    }
  }
}

/** DataFrame-in / DataFrame-out builder over the custom operator. */
object AsOfJoinPhysical {

  /** As-of join `left` to `right` on `key`, matching per left row the
    * latest right row with `rightTime <= leftTime` (or earliest `>=`
    * when `direction = "forward"`; `allowEqual = false` makes either
    * comparison strict). `tolerance` drops a match farther than the
    * given bound from the left time — units are the time columns' own
    * integral units (pandas `merge_asof(tolerance=...)` semantics).
    * Planned by [[AsOfJoinStrategy]], which [[graft.GraftExtensions]]
    * injects at session build. */
  def join(left: DataFrame, right: DataFrame, key: String,
           leftTime: String, rightTime: String,
           direction: String = "backward",
           tolerance: Option[Long] = None,
           allowEqual: Boolean = true): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    require(tolerance.forall(_ >= 0L), "tolerance must be non-negative")
    val spark = SparkSession.active
    val lPlan = PlanBridge.analyzed(left)
    // fresh expr-ids on the right so a self-join can't alias attributes
    val rPlan = {
      val p = PlanBridge.analyzed(right)
      Project(p.output.map(a => Alias(a, a.name)()), p)
    }
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name).mkString(", ")}"))
    val node = AsOfJoinNode(lPlan, rPlan,
      Seq(attr(lPlan, key)), Seq(attr(rPlan, key)),
      attr(lPlan, leftTime), attr(rPlan, rightTime),
      forward = direction == "forward",
      tolerance = tolerance, allowEqual = allowEqual)
    PlanBridge.dataFrame(spark, node)
  }
}
