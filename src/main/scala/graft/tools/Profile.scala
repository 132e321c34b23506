package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-query timer and stage profiler: runs selected SparkEntry queries
  * under a SparkListener and prints, per query, total wall time plus
  * every stage ≥ 1% of it (duration, task count, shuffle read/write,
  * input bytes, peak task memory, spill, and the stage's callsite) — the
  * measure-first instrument of spark_optimization_guide §1 for a UI-less
  * environment.
  *
  * Each query runs once untimed (codegen + JIT) and once timed, both
  * through the `noop` sink, so the profile times the plan the query
  * declares. `count()` would re-plan with an Aggregate on top, which
  * lets Catalyst prune payload columns and drop left joins against
  * unique-key sides — the very work a profile is after (q182's excision
  * fold and md5 vanish under `count()`).
  *
  * The header also counts the broadcast hash joins in the plans the timed
  * run executed (`bhj`) and those among them that build a hash relation
  * not keyed by one integral column (`paged`): each of those takes a
  * whole 16 MB memory page however small its build side
  * ([[PlanWalk.pagedBroadcasts]]). The session is
  * [[graft.GraftSession.local]], the config Bench and Verify run under.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query>[,<query>...]
  * Env: SPARK_GRAFT_CPUS (default 4).
  */
object Profile {

  final case class StageRow(id: Int, name: String, tasks: Int,
                            durMs: Long, shufReadMb: Double,
                            shufWriteMb: Double, inputMb: Double,
                            peakMemMb: Double, spillMb: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq("q01_pricing_summary")
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)

    val stages = mutable.ArrayBuffer[StageRow]()
    // stage -> owning job's description (guide §1.5 labels), so per-phase
    // rollups are possible for composite queries (q284's streaming days)
    val stageDesc = mutable.Map[Int, String]()
    // r13 (§5, round-12 verdict ask): per-stage PEAK task memory — the
    // max over the stage's tasks of peakExecutionMemory (execution-
    // memory high-water mark of hash maps / sort buffers) — plus total
    // spill. StageInfo.taskMetrics only carries SUMS, so the peak is
    // collected at task grain.
    val stagePeakMem = mutable.Map[Int, Long]()
    val stageSpill = mutable.Map[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        stages.synchronized {
          e.stageIds.foreach(id => stageDesc(id) = d)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val tm = e.taskMetrics
        if (tm != null) stages.synchronized {
          val sid = e.stageId
          stagePeakMem(sid) = math.max(
            stagePeakMem.getOrElse(sid, 0L), tm.peakExecutionMemory)
          stageSpill(sid) = stageSpill.getOrElse(sid, 0L) +
            tm.memoryBytesSpilled
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val dur = (for {
          c <- si.completionTime; s <- si.submissionTime
        } yield c - s).getOrElse(0L)
        stages.synchronized {
          stages += StageRow(si.stageId, si.name, si.numTasks, dur,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.bytesRead / 1e6,
            stagePeakMem.getOrElse(si.stageId, 0L) / 1e6,
            stageSpill.getOrElse(si.stageId, 0L) / 1e6)
        }
      }
    }

    // the physical plans the timed run executed, for the broadcast counts
    val plans = mutable.ArrayBuffer[SparkPlan]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    /** Plan nodes, each counted once however many plans reach it (a
      * cached frame's plan appears under every action that reads it). */
    def distinct(xs: Seq[SparkPlan]): Int = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
      xs.count(seen.add)
    }

    names.foreach { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query: $n"))
      def runDeclared(): Unit = graft.Bench.runDeclared(fn(spark, sfDir))
      // warmup (codegen + JIT) at the same sf, not listened
      try runDeclared() catch { case e: Throwable =>
        System.err.println(s"[profile] $n warmup failed: ${e.getMessage}")
      }
      graft.GraftSession.dropLeftoverState(spark)
      stages.clear()
      plans.synchronized(plans.clear())
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(planListener)
      val t0 = System.nanoTime()
      val status = try { runDeclared(); "ok" } catch {
        case e: Throwable => s"failed(${e.getClass.getSimpleName})"
      }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(planListener)
      val ran = plans.synchronized(plans.toVector)
      val bhj = distinct(ran.flatMap(p => PlanWalk.nodes(p).filter(_.isInstanceOf[BroadcastHashJoinExec])))
      val paged = distinct(ran.flatMap(PlanWalk.pagedBroadcasts))
      graft.GraftSession.dropLeftoverState(spark)
      val snap = stages.synchronized(stages.toVector)
      val descSnap = stages.synchronized(stageDesc.toMap)
      stages.synchronized { stageDesc.clear(); stagePeakMem.clear(); stageSpill.clear() }
      val stageSum = snap.map(_.durMs).sum / 1e3
      println(f"%n===== $n  wall=${wall}%.2fs  $status  " +
        f"stages=${snap.size} stage-sum=${stageSum}%.2fs bhj=$bhj paged=$paged =====")
      // per-job-description rollup (labels set via setJobDescription)
      val byDesc = snap.groupBy(r => descSnap.getOrElse(r.id, ""))
        .map { case (d, rs) => (d, rs.map(_.durMs).sum, rs.size) }
        .toSeq.sortBy(-_._2)
      if (byDesc.exists(_._1.nonEmpty))
        byDesc.take(15).foreach { case (d, ms, ns) =>
          println(f"  phase ${ms}%6dms  stages=$ns%3d  ${d.take(90)}")
        }
      val top = snap.sortBy(-_.durMs).takeWhile(_.durMs >= (wall * 10))
      (if (top.isEmpty) snap.sortBy(-_.durMs).take(8) else top.take(40))
        .foreach { r =>
        println(f"  ${r.durMs}%6dms  tasks=${r.tasks}%4d  " +
          f"in=${r.inputMb}%8.1fMB sr=${r.shufReadMb}%8.1fMB " +
          f"sw=${r.shufWriteMb}%8.1fMB pk=${r.peakMemMb}%7.1fMB " +
          f"sp=${r.spillMb}%6.1fMB  [${r.id}] ${r.name.take(100)}")
      }
    }
    spark.stop()
  }
}
