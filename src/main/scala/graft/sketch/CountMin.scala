package graft.sketch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch: `depth × width` long counters; point query = min of
  * the counters each row hashes the item to (always an over-estimate).
  *
  * Row hash r of item x is FNV-1a 64 of the string `"{r}|{x}"`
  * ([[graft.text.RollingHash.hashToken]]) with the bucket taken as the
  * UNSIGNED remainder mod width — a closed form the DuckDB oracle
  * replays exactly (HUGEINT arithmetic), making every counter and every
  * estimate bit-identical across engines, not just approximately close.
  *
  * At 100 TB: a heavy-hitter/frequency pass over a token or URL column
  * needs only `depth·width·8` bytes per group, combines map-side, and
  * merges by vector addition — versus an exact per-term count whose
  * shuffle carries the whole term universe. The binary sketch form
  * ([[CountMin.cms_agg]]) is storable (parquet `BINARY`), so daily
  * sketches roll up into monthly ones without rescanning the corpus
  * (the same pre-aggregation contract as [[HllSketch.hll_sketch]]).
  */
final class CmsBuffer(val depth: Int, val width: Int) {
  val counts: Array[Long] = new Array[Long](depth * width)

  def update(s: UTF8String, inc: Long): Unit = {
    var r = 0
    while (r < depth) {
      counts(r * width + CountMin.bucket(r, s, width)) += inc
      r += 1
    }
  }

  def mergeFrom(o: CmsBuffer): Unit = {
    require(o.depth == depth && o.width == width,
      s"cannot merge CMS($depth,$width) with CMS(${o.depth},${o.width})")
    var i = 0
    while (i < counts.length) { counts(i) += o.counts(i); i += 1 }
  }

  def query(s: UTF8String): Long = {
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = counts(r * width + CountMin.bucket(r, s, width))
      if (c < best) best = c
      r += 1
    }
    best
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(depth); out.writeInt(width)
    var i = 0
    while (i < counts.length) { out.writeLong(counts(i)); i += 1 }
    out.flush(); bos.toByteArray
  }
}

object CountMin {
  /** Row-salted FNV-1a 64: hash of `"{r}|{x}"`. Salt prefixes are interned
    * per row index so the per-value cost is one concat + one hash. */
  private val saltCache = new java.util.concurrent.ConcurrentHashMap[Int, UTF8String]()
  private def salt(r: Int): UTF8String =
    saltCache.computeIfAbsent(r, i => UTF8String.fromString(i.toString + "|"))

  def rowHash(r: Int, s: UTF8String): Long =
    graft.text.RollingHash.hashToken(UTF8String.concat(salt(r), s))

  def bucket(r: Int, s: UTF8String, width: Int): Int =
    java.lang.Long.remainderUnsigned(rowHash(r, s), width.toLong).toInt

  def deserialize(bytes: Array[Byte]): CmsBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new CmsBuffer(in.readInt(), in.readInt())
    var i = 0
    while (i < b.counts.length) { b.counts(i) = in.readLong(); i += 1 }
    b
  }

  /** `cms_agg($"col", depth, width)` → BINARY sketch of value frequencies
    * (nulls skipped; non-strings hash their canonical string form). */
  def cms_agg(col: Column, depth: Int = 4, width: Int = 32): Column =
    ColumnBridge.column(
      CmsAgg(ColumnBridge.expression(col), depth, width).toAggregateExpression())

  /** `cms_query($"sketch", $"term")` → estimated count (≥ true count). */
  def cms_query(sketch: Column, term: Column): Column =
    ColumnBridge.column(CmsQuery(
      ColumnBridge.expression(sketch), ColumnBridge.expression(term)))
}

/** Aggregate: build a [[CmsBuffer]] over a column's values → BINARY. */
case class CmsAgg(
    child: Expression, depth: Int, width: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CmsBuffer] {

  require(depth >= 1 && depth <= 16, s"cms depth must be in [1,16], got $depth")
  require(width >= 2 && width <= (1 << 20), s"cms width must be in [2,2^20], got $width")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): CmsBuffer = new CmsBuffer(depth, width)

  override def update(b: CmsBuffer, input: InternalRow): CmsBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val s = v match {
        case u: UTF8String => u
        case other => UTF8String.fromString(other.toString)
      }
      b.update(s, 1L)
    }
    b
  }

  override def merge(b: CmsBuffer, o: CmsBuffer): CmsBuffer = { b.mergeFrom(o); b }
  override def eval(b: CmsBuffer): Any = b.serialize()
  override def serialize(b: CmsBuffer): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): CmsBuffer = CountMin.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): CmsAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

/** Aggregate: vector-sum BINARY CMS sketches → merged BINARY sketch.
  * Dimensions are read from the first sketch seen; mismatches throw. */
case class CmsMerge(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CmsBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = BinaryType

  // sentinel 0×0 buffer until the first real sketch arrives
  override def createAggregationBuffer(): CmsBuffer = new CmsBuffer(0, 0)

  private def absorb(b: CmsBuffer, o: CmsBuffer): CmsBuffer =
    if (b.depth == 0) o else { b.mergeFrom(o); b }

  override def update(b: CmsBuffer, input: InternalRow): CmsBuffer = {
    val v = child.eval(input)
    if (v == null) b
    else absorb(b, CountMin.deserialize(v.asInstanceOf[Array[Byte]]))
  }

  override def merge(b: CmsBuffer, o: CmsBuffer): CmsBuffer =
    if (o.depth == 0) b else absorb(b, o)

  override def eval(b: CmsBuffer): Any = if (b.depth == 0) null else b.serialize()
  override def serialize(b: CmsBuffer): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): CmsBuffer = CountMin.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): CmsMerge = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsMerge = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0))
}

/** Scalar point query against a serialized sketch. CodegenFallback is
  * deliberate: this runs post-aggregation over group-count rows, never in
  * the hot scan path. */
case class CmsQuery(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(sketch: Any, term: Any): Any = {
    val b = CountMin.deserialize(sketch.asInstanceOf[Array[Byte]])
    val s = term match {
      case u: UTF8String => u
      case other => UTF8String.fromString(other.toString)
    }
    b.query(s)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
