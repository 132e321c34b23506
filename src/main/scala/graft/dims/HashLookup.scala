package graft.dims

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Broadcast lookup joins keyed by a 64-bit hash of their key.
  *
  * A broadcast hash join whose build key is one integral column builds a
  * `LongHashedRelation` of about 1 MB. Any other build key builds an
  * `UnsafeHashedRelation`, which takes one whole `spark.buffer.pageSize`
  * page (16 MB by default) however few rows it holds, and the page stays
  * pinned in the block manager until Spark's cleaner drops the broadcast.
  * So a lookup by a string key joins on the key's `xxhash64` (the hash
  * behind every warehouse surrogate id) and checks the string key after
  * the join: a 64-bit collision can at worst read as a missing row, never
  * attach another key's row or duplicate a probe row.
  */
object HashLookup {

  private val H = "_lk_h"
  private val K = "_lk_k"

  /** `table` keyed for [[lookup]]: `key` becomes its hash and its string,
    * and the table is reduced to one row per hash (any one, as
    * `dropDuplicates` on the key kept any one page per key). */
  def keyed(table: DataFrame, key: String): DataFrame =
    table.select(xxhash64(col(key)).as(H) +: col(key).as(K) +:
      table.columns.filterNot(_ == key).map(col).toIndexedSeq: _*).dropDuplicates(H)

  /** Left-join a [[keyed]] table onto `probe` by the hash of `probeKey`.
    * Every looked-up column is null where the string keys differ; a null
    * key hashes to null and matches nothing. */
  def lookup(probe: DataFrame, probeKey: Column, keyedTable: DataFrame): DataFrame = {
    val matched = col(K) === probeKey
    val looked = keyedTable.columns.filterNot(Set(H, K)).map(c => c -> when(matched, col(c)))
    probe.join(broadcast(keyedTable), xxhash64(probeKey) === col(H), "left")
      .withColumns(looked.toMap).drop(H, K)
  }
}
