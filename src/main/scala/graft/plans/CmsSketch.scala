package graft.plans

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min Sketch over a string key — the second custom imperative
  * aggregate (heavy-hitter / approximate-frequency side of the sketch
  * family, next to [[HllSketch]]'s cardinality side). d=4 hash rows ×
  * w=256 counters; row i's bucket for key t is the first byte of
  * md5("i:" ++ t). point estimate = min over rows of the addressed
  * counter — never an underestimate, overestimates bounded by
  * collisions (≤ N/w per row, and the MIN over 4 independent rows).
  *
  * Like the HLL, every step is exactly specified, so the ESTIMATES are
  * cross-engine checkable: the DuckDB oracle rebuilds each counter row
  * with a group-by over the same md5-byte bucketing and takes the same
  * min. Partial sketches merge by elementwise SUM (the shuffle carries
  * a 1024-long array per partition, not per-term rows).
  */
case class CmsSketch(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  import CmsSketch.{D, W}

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cms_sketch expects a STRING key (cast explicitly), got ${other.simpleString}")
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](D * W)

  @transient private lazy val md5 = MessageDigest.getInstance("MD5")
  // Per-row-hot-path discipline (same as HllSketch): no String
  // materialization per input row — the "i:" prefixes are fixed byte
  // arrays, fed to the digest ahead of the key's UTF-8 bytes (bytewise
  // identical to md5 of the concatenated string).
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(D)(i => s"$i:".getBytes("UTF-8"))

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val kb = v.asInstanceOf[UTF8String].getBytes
      var i = 0
      while (i < D) {
        md5.update(prefixes(i))
        md5.update(kb)
        val bucket = md5.digest()(0) & 0xff
        buf(i * W + bucket) += 1
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < D * W) { b1(i) += b2(i); i += 1 }
    b1
  }

  // clone: never alias the live mutable aggregation buffer into the
  // output row — safe under today's ObjectHashAggregate calling
  // convention, but Spark's own sketch aggregates copy on eval, and a
  // future buffer reuse would silently corrupt emitted rows (advice r2)
  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(D * W * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(D * W)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cms_sketch"

  override def withNewMutableAggBufferOffset(offset: Int): CmsSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CmsSketch =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketch =
    copy(child = newChild)
}

object CmsSketch {
  val D = 4   // hash rows
  val W = 256 // counters per row (one md5 byte)
}
