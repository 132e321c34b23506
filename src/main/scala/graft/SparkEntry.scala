package graft

import graft.queries._
import graft.serve.Serving
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB oracle for every SQL-expressible one.
  * Each query is declared once, as a [[graft.queries.QuerySpec]] in its
  * family's object under `graft.queries`; `queries` and `oracleSql` are
  * views over those specs.
  *
  * Determinism rules (oracle parity):
  *  - never `current_date()`/`now()` — "today" is always a pinned literal;
  *  - every query ends in a total-order `orderBy` mirrored in the SQL;
  *  - doubles rounded (2-4 dp) on both sides;
  *  - timestamps compared as `unix_micros` (Spark) == `epoch_us` (DuckDB)
  *    so ns-vs-us parquet resolution can't skew ordering or values.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Serving.eventsByDate(Tables.events(spark, "/root/testdata/sf0.001"),
      date = "2024-01-05", today = "2024-01-01")

  /** Every registered query, family by family. */
  val specs: Seq[QuerySpec] =
    WarehouseQueries.specs ++ ServingQueries.specs ++ TextQueries.specs ++
      DedupQueries.specs ++ AnnQueries.specs ++ CrawlQueries.specs ++
      ArchiveQueries.specs ++ MediaQueries.specs ++ CurationQueries.specs

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] = specs.map(q => q.name -> q.oracle).toMap
}
