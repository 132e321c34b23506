package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Structured-Streaming mode of the engine (SURVEY.md §7.5): the
  * reference's daily Map-over-dates fan-out becomes a file-source stream.
  * No watermark semantics exist in the reference (batch-only), so the
  * streaming surface is windowed aggregation with a watermark for the
  * serving counters.
  */
object StreamingIngest {

  /** File-source stream over a directory of staged parquet. */
  def readStream(spark: SparkSession, dir: String, schema: StructType,
                 globFilter: String = "*.parquet"): DataFrame =
    spark.readStream.schema(schema)
      .option("pathGlobFilter", globFilter)
      .parquet(dir)

  /** One-hour tumbling-window event counts with a two-hour watermark
    * (the streaming form of A-agg3 per-date counts). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(100d) + lit(0.5d)).cast("bigint"))
          .as("sum_value_cents"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_value_cents"))
}
