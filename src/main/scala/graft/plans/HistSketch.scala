package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Fixed-bin histogram sketch — the QUANTILE member of the sketch
  * family (cardinality = [[HllSketch]], frequency = [[CmsSketch]]):
  * `bins` equi-width buckets over the fixed range [lo, hi), plus an
  * underflow bucket (index 0) and an overflow bucket (index bins+1).
  * Buffer = (bins+2) longs; partial sketches merge by elementwise SUM,
  * so a grouped quantile estimate shuffles a constant-size array per
  * (group, partition) instead of the group's rows — the same
  * constant-memory merge shape as the other two sketches.
  *
  * Every step is exactly specified so the DuckDB oracle can rebuild the
  * counts with plain SQL bucketing and reach IDENTICAL estimates:
  * bucket(x) = 0 if x < lo; bins+1 if x >= hi; else
  * 1 + floor((x − lo) / w) with w = (hi − lo)/bins — one double
  * formula, mirrored verbatim, IEEE-identical on both engines.
  *
  * Quantile read-out happens IN THE PLAN (not here): explode the
  * returned array, running-sum the counts in bin order, and take the
  * smallest bin upper edge whose cumulative count reaches ⌈q·n⌉ —
  * estimate error is bounded by one bin width by construction. */
case class HistSketch(
    child: Expression,
    lo: Double, hi: Double, bins: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(bins > 0 && hi > lo,
    s"hist_sketch: need bins > 0 and hi > lo, got bins=$bins lo=$lo hi=$hi")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case DoubleType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hist_sketch expects a DOUBLE value (cast explicitly), got ${other.simpleString}")
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bins + 2)

  private val w = (hi - lo) / bins

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Double]
      val idx =
        // NaN routes to OVERFLOW: Java comparisons are all-false on NaN
        // (it would otherwise fall through to the floor() branch and
        // silently land in bin 1), and DuckDB compares NaN greater than
        // every double, so `x >= hi` is TRUE there — overflow is the
        // branch both engines agree on
        if (x.isNaN) bins + 1
        else if (x < lo) 0
        else if (x >= hi) bins + 1
        // floating-point edge: (x - lo)/w can round UP to exactly
        // `bins` for x just below hi — clamp into the last real bucket
        // (the clamp must NOT touch the overflow branch above)
        else math.min(1 + math.floor((x - lo) / w).toInt, bins)
      buf(idx) += 1
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  // clone: never alias the live mutable buffer (same discipline as the
  // other sketches)
  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "hist_sketch"

  override def withNewMutableAggBufferOffset(offset: Int): HistSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HistSketch =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): HistSketch =
    copy(child = newChild)
}
