package graft

import org.apache.spark.sql.SparkSession

/** The one session config every main in this project runs under, so a
  * profile, a bench and a correctness dump time and check the same
  * engine. Tests (`TestSpark`) keep their own builder. */
object GraftSession {

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * AQE on, no UI, and log level WARN.
    *
    * `spark.cleaner.periodicGC.interval`: the ContextCleaner only
    * reclaims dead broadcasts / shuffle state / RDD blocks when a driver
    * GC runs; on a large heap the JVM can go many queries without one,
    * so hundreds of queries' worth of dead broadcast blocks pile up and
    * the big-hash queries then run under avoidable memory pressure
    * (round-12 driver run: q236 24 s vs 1.4 s isolated). Spark's default
    * is 30 min, far longer than a whole bench run. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

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
