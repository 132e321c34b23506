package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * All engine queries take the scale-factor directory as a parameter and
  * read the parquet directly — schemas are fixed by the driver, so we do
  * NOT infer-on-read anything beyond parquet's own footer schema. Filters
  * and projections applied downstream are pushed into these scans by
  * Catalyst (verify via `.explain("formatted")`: `PushedFilters`,
  * `ReadSchema`).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def orders(spark: SparkSession, d: String): DataFrame = table(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def nation(spark: SparkSession, d: String): DataFrame = table(spark, d, "nation")
  /** The `events` parquet's `ts` physical type has varied across driver
    * testdata generations: TIMESTAMP(NANOS) (which Spark's reader
    * rejects outright unless read as raw longs via
    * `spark.sql.legacy.parquet.nanosAsLong`), and TIMESTAMP(MICROS)
    * with isAdjustedToUTC=false (which Spark reads as TIMESTAMP_NTZ).
    * Normalize BOTH to a session-TZ TimestampType column carrying the
    * same microsecond values DuckDB's `epoch_us` sees: nanos
    * floor-divide to micros exactly like DuckDB; NTZ casts to LTZ,
    * which under the engine's pinned UTC session zone is the identity
    * on the stored micros. */
  def events(spark: SparkSession, d: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Date-bounded events scan with the range predicate applied to the RAW
    * nanos column, BEFORE the timestamp conversion — so it reaches the
    * parquet reader as an int64 min/max filter (row-group pruning /
    * partition pruning at scale). A filter on the converted timestamp
    * cannot be pushed past the conversion expression; this one can.
    * Semantically identical to `to_date(ts) ∈ [start, end]` because nanos
    * in-range ⇔ truncated micros in-range. */
  def eventsBetween(spark: SparkSession, d: String,
                    startDate: String, endDateExclusive: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, d, "events")
    def nanosOf(date: String): Long =
      java.time.LocalDate.parse(date).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.getEpochSecond * 1000000000L
    raw.schema("ts").dataType match {
      case LongType =>
        raw.filter(col("ts") >= nanosOf(startDate) &&
            col("ts") < nanosOf(endDateExclusive))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // range predicate on the RAW NTZ column with foldable NTZ
        // literals — pushes to the parquet reader as an int64 min/max
        // filter; the LTZ cast happens above the pruned scan
        raw.filter(col("ts") >= lit(startDate).cast("timestamp_ntz") &&
            col("ts") < lit(endDateExclusive).cast("timestamp_ntz"))
          .withColumn("ts", col("ts").cast(TimestampType))
      case _ =>
        raw.filter(col("ts") >= lit(startDate).cast("timestamp") &&
          col("ts") < lit(endDateExclusive).cast("timestamp"))
    }
  }
}
