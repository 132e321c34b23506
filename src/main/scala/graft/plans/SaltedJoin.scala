package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigated equi-join: salt the skewed (big) side into 8
  * sub-keys and replicate the small side once per salt, so a hot key's
  * rows spread over 8 reducers instead of one straggler task.
  *
  * This is the manual form of what AQE's skew-join optimization does for
  * sort-merge joins at runtime; it remains necessary when the join is
  * planned broadcast-free and a single key exceeds one task's memory.
  * Result is row-identical to `big.join(small, keys)` (inner).
  */
object SaltedJoin {

  def join(big: DataFrame, small: DataFrame, keys: Seq[String]): DataFrame = {
    val salts = 8
    val saltedBig = big.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts)).cast("int"))
    val saltedSmall = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(saltedSmall, keys :+ "_salt").drop("_salt")
  }
}
