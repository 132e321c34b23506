package graft

import org.apache.spark.sql.SparkSession

/** The one session config every main and the test harness run under, so
  * a profile, a bench, a correctness dump and a test time and check the
  * same engine. */
object GraftSession {

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * AQE on, no UI, log level WARN, and the engine installed:
    * [[GraftExtensions]] injects every function, planner rule, strategy
    * and the `GRAFT` parser at session build, so no query switches a rule
    * on and whether a rule fires never depends on what ran before.
    * `extra` adds caller-specific settings (the tests' app name and
    * warehouse dir) on top of the same config.
    *
    * `spark.cleaner.periodicGC.interval`: the ContextCleaner only
    * reclaims dead broadcasts / shuffle state / RDD blocks when a driver
    * GC runs; on a large heap the JVM can go many queries without one,
    * so hundreds of queries' worth of dead broadcast blocks pile up and
    * the big-hash queries then run under avoidable memory pressure
    * (round-12 driver run: q236 24 s vs 1.4 s isolated). Spark's default
    * is 30 min, far longer than a whole bench run. */
  def local(cpus: Int,
            extra: SparkSession.Builder => SparkSession.Builder = identity)
      : SparkSession = {
    val spark = extra(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .withExtensions(new GraftExtensions))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cores of a main's session: `SPARK_GRAFT_CPUS`, default 4, the
    * default `tools/gate.sh` runs under too. More than the box has only
    * oversubscribes it. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Drop what a query may have left cached, so the next one is not run
    * under its memory pressure. `clearCache` misses the RDD-level
    * persists behind every `localCheckpoint`; those leaked across a
    * 300+-query run (measured: q124 6.1 s isolated vs 15.0 s mid-bench).
    * Blocking: with `blocking = false` the block removal races the next
    * query's timed region. Removal is an in-memory map drop, so blocking
    * costs microseconds. */
  def dropLeftoverState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
