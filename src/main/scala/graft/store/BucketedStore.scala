package graft.store

import org.apache.spark.sql.DataFrame

/** Bucketed warehouse storage (SURVEY §4 physical notes): dims and fact
  * saved as parquet tables hash-bucketed (and sorted) by their natural
  * merge key. When both sides of a join share the bucketing, it plans
  * as a sort-merge join with ZERO Exchange — the shuffle that normally
  * dominates a 100 TB merge disappears.
  *
  * Uses the session catalog's `saveAsTable` (bucketing metadata lives in
  * the catalog; plain `parquet(path)` writes cannot carry it).
  */
object BucketedStore {

  /** Save bucketed+sorted by `keys` (the merge key). */
  def saveBucketed(df: DataFrame, table: String, keys: Seq[String],
                   buckets: Int = 16): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
