package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark plan over a scale-factor directory and
  * the DuckDB SQL that replays the same answer from the raw tables. */
final case class QuerySpec(name: String,
                           run: (SparkSession, String) => DataFrame,
                           oracle: String)
