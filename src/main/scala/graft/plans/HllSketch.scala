package graft.plans

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A6 at scale, as a CUSTOM Catalyst aggregate: HyperLogLog over a
  * string key, implemented as a `TypedImperativeAggregate[Array[Byte]]`
  * — the binary-buffer imperative tier Spark itself uses for sketches
  * (planned into ObjectHashAggregate; partial sketches merge
  * associatively, so the shuffle carries 256-byte registers, not rows).
  *
  * Unlike `approx_count_distinct` (whose sketch is engine-private, so
  * the graded `approx_users` twin is rows-only), every step here is
  * EXACTLY specified and reproducible in ANSI-ish SQL, which makes the
  * estimate itself oracle-checkable cross-engine:
  *
  *  - hash = md5(key): bucket = first byte (b=8, m=256 registers);
  *    w = bytes 1..8 as a big-endian u64; rho = leading-zeros(w)+1
  *    (w = 0 → 65).
  *  - registers merge by elementwise max.
  *  - Σ2^−M folded LEFT-TO-RIGHT in register-index order (0..255) —
  *    pinned fold order, same discipline as the cosine kernel — so the
  *    double is bit-identical to DuckDB's `list_reduce` over
  *    `list(m ORDER BY j)`.
  *  - E = α₂₅₆·m²/Σ2^−M with the standard small-range correction
  *    (E ≤ 2.5m and V>0 → m·ln(m/V)).
  *
  * Output is a struct {estimate, n_zero, sum_pow} so the graded query
  * exposes the correction inputs, not just the final number.
  */
/** The sketch algebra, shared by the batch aggregate and the streaming
  * `mapGroupsWithState` twin (`StreamOps.streamingHllUsers`) — one
  * definition, so stream and batch estimates are IDENTICAL, not merely
  * close. */
object Hll {
  val m = 256

  def emptyRegisters: Array[Byte] = new Array[Byte](m)

  /** Fold one key into the registers (md5 bucket/rho — see HllSketch doc). */
  def add(buf: Array[Byte], md5: MessageDigest, keyBytes: Array[Byte]): Unit = {
    val d = md5.digest(keyBytes)
    val bucket = d(0) & 0xff
    var w = 0L
    var i = 1
    while (i <= 8) { w = (w << 8) | (d(i) & 0xffL); i += 1 }
    val rho = if (w == 0L) 65 else java.lang.Long.numberOfLeadingZeros(w) + 1
    if (rho > (buf(bucket) & 0xff)) buf(bucket) = rho.toByte
  }

  /** Elementwise max merge, in place into b1. */
  def mergeInto(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if ((b2(i) & 0xff) > (b1(i) & 0xff)) b1(i) = b2(i)
      i += 1
    }
    b1
  }

  /** (estimate, n_zero, sum_pow). Left-to-right in index order:
    * bit-identical to the oracle's list_reduce over list(m ORDER BY j).
    * All formulas derive from [[m]] (one source of truth) — note the
    * bucketing in [[add]] uses the md5 digest's FIRST BYTE, which pins
    * m to 256; changing m requires changing that too (and the oracle). */
  def estimate(buf: Array[Byte]): (Double, Long, Double) = {
    val md = m.toDouble
    var sumPow = 0.0
    var zeros = 0L
    var i = 0
    while (i < m) {
      val reg = buf(i) & 0xff
      sumPow += math.pow(2.0, -reg)
      if (reg == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / md)
    val eRaw = alpha * md * md / sumPow
    val est =
      if (eRaw <= 2.5 * md && zeros > 0) md * math.log(md / zeros)
      else eRaw
    (est, zeros, sumPow)
  }
}

case class HllSketch(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  // reject wrong input types at ANALYSIS time, not as an executor-side
  // ClassCastException (same discipline as CosineSim)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hll_sketch expects a STRING key (cast explicitly), got ${other.simpleString}")
    }

  override def createAggregationBuffer(): Array[Byte] = Hll.emptyRegisters

  // One digest per deserialized (= per-task) instance: digest() resets
  // it after each call, so reuse is safe and keeps the JCA provider
  // lookup + allocation out of the per-row hot path.
  @transient private lazy val md5 = MessageDigest.getInstance("MD5")

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) Hll.add(buf, md5, v.asInstanceOf[UTF8String].getBytes)
    buf
  }

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] =
    Hll.mergeInto(b1, b2)

  override def eval(buf: Array[Byte]): Any = {
    val (est, zeros, sumPow) = Hll.estimate(buf)
    new GenericInternalRow(Array[Any](est, zeros, sumPow))
  }

  // clone both directions: the serialized form must not alias the live
  // buffer (and vice versa) — Spark owns the byte array it hands to /
  // takes from these methods, and a later mutation through either
  // reference would corrupt the other (advice r2; Spark's own sketch
  // aggregates copy here too)
  override def serialize(buf: Array[Byte]): Array[Byte] = buf.clone()
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def dataType: DataType = StructType(Seq(
    StructField("estimate", DoubleType, nullable = false),
    StructField("n_zero", LongType, nullable = false),
    StructField("sum_pow", DoubleType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "hll_sketch"

  override def withNewMutableAggBufferOffset(offset: Int): HllSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HllSketch =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): HllSketch =
    copy(child = newChild)
}

/** The STORED-sketch emitter — same fold as [[HllSketch]], but `eval`
  * returns the raw 256-byte register buffer (BinaryType) instead of
  * the estimate: the daily/partition sketch a pre-aggregated rollup
  * table persists. Pair with [[HllMerge]] to re-aggregate stored
  * sketches over any superset grouping (the mergeability that makes
  * HLL the 100 TB distinct-count answer: compute per day ONCE, answer
  * any date-range question from 256-byte rows). */
case class HllState(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hll_state expects a STRING key (cast explicitly), got ${other.simpleString}")
    }

  override def createAggregationBuffer(): Array[Byte] = Hll.emptyRegisters

  @transient private lazy val md5 = MessageDigest.getInstance("MD5")

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) Hll.add(buf, md5, v.asInstanceOf[UTF8String].getBytes)
    buf
  }

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] =
    Hll.mergeInto(b1, b2)

  // clone: Spark owns returned/handed arrays (see HllSketch note)
  override def eval(buf: Array[Byte]): Any = buf.clone()
  override def serialize(buf: Array[Byte]): Array[Byte] = buf.clone()
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_state"

  override def withNewMutableAggBufferOffset(offset: Int): HllState =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HllState =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): HllState =
    copy(child = newChild)
}

/** Sketch RE-AGGREGATION: consumes [[HllState]] blobs (elementwise-max
  * union — HLL's register merge is associative, commutative and
  * idempotent, so any regrouping of stored sketches is exact w.r.t.
  * the sketch) and emits the same estimate struct as [[HllSketch]].
  * `hll_merge(hll_state(x)) ≡ hll_sketch(x)` by construction
  * (HllSketchSpec pins it). */
case class HllMerge(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hll_merge expects a BINARY hll_state sketch, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): Array[Byte] = Hll.emptyRegisters

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val blob = v.asInstanceOf[Array[Byte]]
      require(blob.length == Hll.m,
        s"hll_merge: sketch must be ${Hll.m} bytes, got ${blob.length}")
      Hll.mergeInto(buf, blob)
    }
    buf
  }

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] =
    Hll.mergeInto(b1, b2)

  override def eval(buf: Array[Byte]): Any = {
    val (est, zeros, sumPow) = Hll.estimate(buf)
    new GenericInternalRow(Array[Any](est, zeros, sumPow))
  }

  override def serialize(buf: Array[Byte]): Array[Byte] = buf.clone()
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def dataType: DataType = StructType(Seq(
    StructField("estimate", DoubleType, nullable = false),
    StructField("n_zero", LongType, nullable = false),
    StructField("sum_pow", DoubleType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "hll_merge"

  override def withNewMutableAggBufferOffset(offset: Int): HllMerge =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HllMerge =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): HllMerge =
    copy(child = newChild)
}
