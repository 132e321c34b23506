package graft.sketch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog register file: 2^p byte registers, max-merged.
  *
  * Hash is FNV-1a 64 ([[graft.text.RollingHash.hashToken]]) — closed
  * form, so the ENTIRE sketch (registers and estimate) is replayable in
  * plain SQL by the DuckDB oracle; not just "approximately right", but
  * bit-identical. bucket = low p bits; rho = leading-zero rank of the
  * remaining 64-p bits (≥1).
  */
final class HllBuffer(val p: Int) {
  val m: Int = 1 << p
  var registers: Array[Byte] = new Array[Byte](m)

  def update(h: Long): Unit = {
    val bucket = (h & (m - 1)).toInt
    val w = h >>> p
    val rho =
      if (w == 0L) 64 - p + 1
      else java.lang.Long.numberOfLeadingZeros(w) - p + 1
    if (rho > registers(bucket)) registers(bucket) = rho.toByte
  }

  def mergeFrom(o: HllBuffer): Unit = {
    var i = 0
    while (i < m) {
      if (o.registers(i) > registers(i)) registers(i) = o.registers(i)
      i += 1
    }
  }

  /** Flajolet-et-al estimate with the small-range linear-counting
    * correction. The indicator sum is computed EXACTLY as the integer
    * S = Σ 2^(R - rho_j) (R = 64 - p + 1), so the only floating-point
    * steps are one multiply chain and one divide — giving the oracle a
    * deterministic value to reproduce (a naive Σ 2^-rho double sum would
    * depend on register visit order). */
  def estimate: Long = {
    val bigR = 64 - p + 1
    var s = BigInt(0)
    var zeros = 0
    var i = 0
    while (i < m) {
      s += BigInt(1) << (bigR - registers(i))
      if (registers(i) == 0) zeros += 1
      i += 1
    }
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1 + 1.079 / m)
    }
    val raw = alpha * (m.toDouble * m.toDouble) * math.pow(2.0, bigR) / s.toDouble
    val est =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    math.round(est)
  }
}

/** `hll_distinct(col, p)` — approximate COUNT(DISTINCT col) as a custom
  * catalyst aggregate (SURVEY §2.12 extension point; the at-scale
  * distinct for the training-data pipeline).
  *
  * Versus exact `count(distinct x)`: exact distinct must shuffle every
  * distinct value (an Expand + two aggregate passes); this sketch is a
  * fixed 2^p bytes per group, combines map-side, and its merge is a
  * register-wise max — at 100 TB the shuffle carries kilobytes per
  * group instead of the value universe.
  */
case class HllDistinct(
    child: Expression, p: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllBuffer] {

  require(p >= 4 && p <= 16, s"hll precision p must be in [4,16], got $p")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def createAggregationBuffer(): HllBuffer = new HllBuffer(p)

  override def update(b: HllBuffer, input: InternalRow): HllBuffer = {
    val v = child.eval(input)
    if (v != null) {
      // non-string inputs hash their canonical string rendering (the
      // same bytes `CAST(x AS VARCHAR)` gives the SQL oracle) instead of
      // throwing a runtime ClassCastException
      val s = v match {
        case u: UTF8String => u
        case other => UTF8String.fromString(other.toString)
      }
      b.update(graft.text.RollingHash.hashToken(s))
    }
    b
  }

  override def merge(b: HllBuffer, o: HllBuffer): HllBuffer = {
    b.mergeFrom(o); b
  }

  override def eval(b: HllBuffer): Any = b.estimate

  override def serialize(b: HllBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.p)
    out.write(b.registers)
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): HllBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new HllBuffer(in.readInt())
    in.readFully(b.registers)
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): HllDistinct =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllDistinct =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c(0))
}

/** Aggregate: build the register file and return it as BINARY (p header +
  * 2^p registers) instead of the estimate — the storable sketch form.
  * Persist per-fine-group sketches to parquet, then roll them up later
  * with [[HllMergeEst]]/[[HllMergeSketch]] WITHOUT rescanning the source:
  * the pre-aggregation pattern that makes distinct-counts tractable at
  * 100 TB (register-wise max is associative and commutative, so any
  * merge tree gives bit-identical registers). */
case class HllSketchAgg(
    child: Expression, p: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllBuffer] {

  require(p >= 4 && p <= 16, s"hll precision p must be in [4,16], got $p")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType

  override def createAggregationBuffer(): HllBuffer = new HllBuffer(p)

  override def update(b: HllBuffer, input: InternalRow): HllBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val s = v match {
        case u: UTF8String => u
        case other => UTF8String.fromString(other.toString)
      }
      b.update(graft.text.RollingHash.hashToken(s))
    }
    b
  }

  override def merge(b: HllBuffer, o: HllBuffer): HllBuffer = { b.mergeFrom(o); b }
  override def eval(b: HllBuffer): Any = serialize(b)

  override def serialize(b: HllBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.p)
    out.write(b.registers)
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): HllBuffer = HllSketch.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c(0))
}

/** Aggregate over BINARY sketch columns: register-wise max-merge. With
  * `asEstimate = true` evaluates to the merged estimate (BIGINT); with
  * `false` to the merged sketch (BINARY) for a further rollup level. */
case class HllMergeAgg(
    child: Expression, asEstimate: Boolean,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType =
    if (asEstimate) LongType else org.apache.spark.sql.types.BinaryType

  // p=0 sentinel until the first real sketch arrives
  override def createAggregationBuffer(): HllBuffer = new HllBuffer(0)

  private def absorb(b: HllBuffer, o: HllBuffer): HllBuffer =
    if (b.p == 0) o
    else {
      require(o.p == b.p, s"cannot merge HLL(p=${b.p}) with HLL(p=${o.p})")
      b.mergeFrom(o); b
    }

  override def update(b: HllBuffer, input: InternalRow): HllBuffer = {
    val v = child.eval(input)
    if (v == null) b
    else absorb(b, HllSketch.fromBytes(v.asInstanceOf[Array[Byte]]))
  }

  override def merge(b: HllBuffer, o: HllBuffer): HllBuffer =
    if (o.p == 0) b else absorb(b, o)

  override def eval(b: HllBuffer): Any =
    if (b.p == 0) null
    else if (asEstimate) b.estimate
    else serialize(b)

  override def serialize(b: HllBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.p)
    out.write(b.registers)
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): HllBuffer = HllSketch.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): HllMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c(0))
}

/** Scalar union-estimate of two serialized sketches: register-wise max,
  * then the standard estimate. With per-group sketches materialized, the
  * inclusion-exclusion identity `|A∩B| ≈ est(A) + est(B) − est(A∪B)`
  * gives distinct-set overlap WITHOUT touching raw data — the audience-
  * overlap / contamination-screen primitive at 100 TB. CodegenFallback:
  * runs on group-count rows, never in the scan path. */
case class HllUnionEst(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ba = HllSketch.fromBytes(a.asInstanceOf[Array[Byte]])
    val bb = HllSketch.fromBytes(b.asInstanceOf[Array[Byte]])
    require(ba.p == bb.p, s"cannot union HLL(p=${ba.p}) with HLL(p=${bb.p})")
    ba.mergeFrom(bb)
    ba.estimate
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HllSketch {
  /** `hll_distinct($"col", p)` aggregate Column (m = 2^p registers). */
  def hll_distinct(col: Column, p: Int = 9): Column =
    ColumnBridge.column(
      HllDistinct(ColumnBridge.expression(col), p).toAggregateExpression())

  /** `hll_sketch($"col", p)` → BINARY register file (storable sketch). */
  def hll_sketch(col: Column, p: Int = 9): Column =
    ColumnBridge.column(
      HllSketchAgg(ColumnBridge.expression(col), p).toAggregateExpression())

  /** `hll_merge_est($"sketch")` → merged distinct estimate (BIGINT). */
  def hll_merge_est(col: Column): Column =
    ColumnBridge.column(
      HllMergeAgg(ColumnBridge.expression(col), asEstimate = true)
        .toAggregateExpression())

  /** `hll_union_est($"sk_a", $"sk_b")` → scalar union-distinct estimate. */
  def hll_union_est(a: Column, b: Column): Column =
    ColumnBridge.column(HllUnionEst(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  private[sketch] def fromBytes(bytes: Array[Byte]): HllBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new HllBuffer(in.readInt())
    in.readFully(b.registers)
    b
  }
}
