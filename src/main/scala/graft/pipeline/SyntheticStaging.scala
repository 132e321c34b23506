package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic EventDTO-shaped staging frame derived from the driver's
  * TPC-H-ish tables (every `o_orderkey % 10 == 0` order ⋈ customer ⋈
  * nation), so the full loader pipeline (§3.3) can run — and be
  * oracle-checked — against the same parquet the other queries use. Customers play artists, nations play
  * venues, order rows play scraped events; every `o_orderkey % 97 == 0`
  * row gets a blank artist name to exercise the quarantine path (P10).
  */
object SyntheticStaging {

  def fromOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val o = graft.Tables.orders(spark, sfDir)
      .filter(pmod(col("o_orderkey"), lit(10)) === 0)
    val c = graft.Tables.customer(spark, sfDir)
    val n = graft.Tables.nation(spark, sfDir)
    val joined = o
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))

    val emptyLifted = array().cast(
      "array<struct<name:string,wwoz_artist_href:string>>")

    joined.select(
      struct(
        when(pmod(col("o_orderkey"), lit(97)) === 0, lit(""))
          .otherwise(col("c_name")).as("name"),
        concat(lit("Customer in "), col("n_name")).as("description"),
        array(col("o_orderpriority")).as("genres"),
        array().cast("array<string>").as("related_artists"),
        concat(lit("/artists/"), col("c_custkey").cast("string"))
          .as("wwoz_artist_href"),
        lit("").as("website"),
        emptyLifted.as("related_artists_lifted")).as("artist_data"),
      struct(
        col("n_name").as("name"),
        lit(null).cast("string").as("thoroughfare"),
        lit("").as("phone_number"),
        lit("New Orleans").as("locality"),
        lit("LA").as("state"),
        lit("70116").as("postal_code"),
        concat(col("n_name"), lit(" District")).as("full_address"),
        lit(true).as("is_active"),
        lit("").as("website"),
        concat(lit("/venues/"), col("n_nationkey").cast("string"))
          .as("wwoz_venue_href"),
        lit("").as("event_artist")).as("venue_data"),
      struct(
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("event_date"),
        concat(lit("/events/"), col("o_orderkey").cast("string"))
          .as("wwoz_event_href"),
        col("c_name").as("event_artist"),
        concat(lit("/artists/"), col("c_custkey").cast("string"))
          .as("wwoz_artist_href"),
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit(null).cast("string"))
          .otherwise(concat(lit("Order "), col("o_orderstatus")))
          .as("description"),
        array().cast("array<string>").as("related_artists"),
        array(col("o_orderpriority")).as("genres"),
        emptyLifted.as("related_artists_lifted")).as("event_data"),
      concat(date_format(col("o_orderdate"), "yyyy-MM-dd"),
        lit("T20:00:00+00:00")).as("performance_time"),
      concat(date_format(col("o_orderdate"), "yyyy-MM-dd"),
        lit("T03:00:00+00:00")).as("scrape_time"))
  }
}
