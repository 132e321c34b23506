package graft.tools

import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Walks a physical plan the way it ran: through AQE's final plan and
  * its query stages, reused exchanges, subqueries and the plans behind
  * cached (`InMemoryRelation`) frames, which a plain tree walk treats as
  * leaves. Walk a plan after it ran, so AQE's plan is final. */
object PlanWalk {

  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children ++ other.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  /** Every broadcast hash join that built an `UnsafeHashedRelation`,
    * which takes one whole `spark.buffer.pageSize` page (16 MB by
    * default) however few rows it holds. Spark's `HashedRelation.apply`
    * builds a `LongHashedRelation` of about 1 MB instead when the build
    * keys are one long after `HashJoin.rewriteKeyExpr` (integral keys of
    * at most 8 bytes in all, packed into one long), and no relation at all
    * when the build side is empty. */
  def pagedBroadcasts(p: SparkPlan): Seq[BroadcastHashJoinExec] =
    nodes(p).collect { case j: BroadcastHashJoinExec if !packsIntoLong(j) && !builtEmpty(j) => j }

  private def packsIntoLong(j: BroadcastHashJoinExec): Boolean = {
    val types = (if (j.buildSide == BuildLeft) j.leftKeys else j.rightKeys).map(_.dataType)
    types.forall {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    } && types.map(_.defaultSize).sum <= 8
  }

  /** The build side broadcast no row (read from its exchange's row
    * count, so only once the plan ran). */
  private def builtEmpty(j: BroadcastHashJoinExec): Boolean =
    nodes(if (j.buildSide == BuildLeft) j.left else j.right)
      .collectFirst { case b: BroadcastExchangeExec => b.metrics("numOutputRows").value == 0 }
      .getOrElse(false)
}
