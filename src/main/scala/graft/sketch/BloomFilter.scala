package graft.sketch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Bloom bitset over long keys: Kirsch-Mitzenmacher double hashing
  * (k positions from two mixes of the key), OR-mergeable. */
final class BloomBits(val numBits: Int, val numHashes: Int) {
  val words: Array[Long] = new Array[Long]((numBits + 63) / 64)

  private def mix1(key: Long): Long = {
    var h = key * -7046029254386353131L // Murmur3 fmix-style avalanche
    h ^= h >>> 33; h *= -4417276706812531889L
    h ^= h >>> 29; h *= -8796714831421723037L
    h ^ (h >>> 32)
  }
  private def mix2(key: Long): Long = mix1(key + 0x9e3779b97f4a7c15L) | 1L

  def add(key: Long): Unit = {
    val h1 = mix1(key); val h2 = mix2(key)
    var i = 0
    while (i < numHashes) {
      val p = java.lang.Math.floorMod(h1 + i * h2, numBits.toLong).toInt
      words(p >>> 6) |= 1L << (p & 63)
      i += 1
    }
  }

  def mightContain(key: Long): Boolean = {
    val h1 = mix1(key); val h2 = mix2(key)
    var i = 0
    while (i < numHashes) {
      val p = java.lang.Math.floorMod(h1 + i * h2, numBits.toLong).toInt
      if ((words(p >>> 6) & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def orFrom(o: BloomBits): Unit = {
    var i = 0
    while (i < words.length) { words(i) |= o.words(i); i += 1 }
  }
}

object BloomBits {
  def serialize(b: BloomBits): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.numBits); out.writeInt(b.numHashes)
    b.words.foreach(out.writeLong)
    out.flush(); bos.toByteArray
  }
  def deserialize(bytes: Array[Byte]): BloomBits = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new BloomBits(in.readInt(), in.readInt())
    var i = 0
    while (i < b.words.length) { b.words(i) = in.readLong(); i += 1 }
    b
  }
}

/** `bloom_agg(keyCol)` — build the Bloom bitset of a key column as a
  * distributed aggregate (bitsets OR-merge map-side); evaluates to the
  * serialized filter bytes. */
case class BloomAgg(
    child: Expression, numBits: Int, numHashes: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomBits] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): BloomBits =
    new BloomBits(numBits, numHashes)
  override def update(b: BloomBits, input: InternalRow): BloomBits = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[Long])
    b
  }
  override def merge(b: BloomBits, o: BloomBits): BloomBits = { b.orFrom(o); b }
  override def eval(b: BloomBits): Any = BloomBits.serialize(b)
  override def serialize(b: BloomBits): Array[Byte] = BloomBits.serialize(b)
  override def deserialize(bytes: Array[Byte]): BloomBits =
    BloomBits.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): BloomAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c(0))
}

/** Runtime-filter (Bloom) join pruning: the pattern Spark's own
  * row-level runtime filtering applies, made explicit and composable.
  *
  * `big ⋉ small` where `small` exceeds the broadcast threshold but its
  * BITSET does not: build the Bloom filter of `small`'s keys with a
  * distributed aggregate (one tiny job), ship the bytes to every task,
  * and pre-filter `big` MAP-SIDE before the exact join. At 100 TB the
  * exact semi-join still shuffles both sides on the key — but the big
  * side's shuffle now carries only rows that can possibly match (plus
  * the Bloom false-positive margin), which is routinely a 10-100×
  * shuffle-volume cut for selective small sides. False positives cannot
  * leak into the result: the exact join runs after the pre-filter.
  */
object BloomPrune {

  def bloom_agg(key: Column, numBits: Int = 1 << 20, numHashes: Int = 5): Column =
    ColumnBridge.column(
      BloomAgg(ColumnBridge.expression(key), numBits, numHashes)
        .toAggregateExpression())

  /** Exact `big ⋉ small` on `key` with Bloom pre-pruning of `big`. */
  def semiJoin(big: DataFrame, small: DataFrame, key: String): DataFrame = {
    val bytes = small.agg(bloom_agg(col(key)))
      .head().getAs[Array[Byte]](0)
    val pruned = prune(big, key, bytes)
    pruned.join(small.select(col(key)).distinct(), Seq(key), "left_semi")
  }

  /** Exact `batch ▷ corpus` (left-anti on `key`) with a Bloom fast path —
    * the incremental "have we seen this content before" shape of a daily
    * ingest. A Bloom filter has NO false negatives, so rows whose key the
    * corpus filter definitely has not seen are emitted directly from a
    * map-side scan; only the maybe-seen fraction (true duplicates plus
    * the false-positive margin) pays the exact shuffled anti-join. At
    * 100 TB the anti-join's probe side shrinks from the full batch to
    * ~(dup_rate + fpr) × batch, and the corpus side of that join is the
    * stored key set (8-byte fingerprints), never the corpus text. */
  def antiJoin(batch: DataFrame, corpus: DataFrame, key: String,
               numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    val bytes = corpus.agg(bloom_agg(col(key), numBits, numHashes))
      .head().getAs[Array[Byte]](0)
    val mightContain = udf(new Probe(bytes))
    // NULL-key batch rows are definitely-new under left-anti semantics
    // (NULL never equals any corpus key, so a true `left_anti` keeps
    // them); routing them through the fast path preserves that contract
    val definitelyNew = batch.filter(col(key).isNull ||
      !mightContain(col(key)))
    val maybeSeen = batch.filter(col(key).isNotNull && mightContain(col(key)))
      .join(corpus.select(col(key)).distinct(), Seq(key), "left_anti")
    definitelyNew.unionByName(maybeSeen)
  }

  /** Serializable probe: ships the BYTES, deserializes the bitset once
    * per executor deserialization of the closure (`@transient lazy`) —
    * NEVER per row. */
  private class Probe(bytes: Array[Byte]) extends (Long => Boolean)
      with Serializable {
    @transient private lazy val bits = BloomBits.deserialize(bytes)
    override def apply(k: Long): Boolean = bits.mightContain(k)
  }

  /** Map-side Bloom pre-filter of `df` on `key` (no shuffle). */
  def prune(df: DataFrame, key: String, bloomBytes: Array[Byte]): DataFrame = {
    val mightContain = udf(new Probe(bloomBytes))
    df.filter(col(key).isNotNull && mightContain(col(key)))
  }
}
