package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded TOP-K aggregate — per-group top-k as a MERGEABLE partial
  * aggregate instead of a window sort: the buffer holds at most 2k
  * (value, key) pairs, partials merge by concat + select-k, and the
  * shuffle carries ≤ k pairs per (group, partition) — never the
  * group's full row set. The window form (`row_number() ≤ k`) ranks
  * after shuffling EVERY row of the group (Spark ≥ 3.5's
  * WindowGroupLimit prunes map-side but still runs sort-based window
  * machinery); this is the aggregate form of that same idea, the
  * classic bounded-heap top-k (space-bounded selection — the
  * [[graft.operators.TextOps]] Misra-Gries move applied to ORDER
  * rather than frequency), and it slots into ObjectHashAggregate like
  * the sketch family.
  *
  * Total order: value DESC, key ASC tiebreak — deterministic output
  * for any partitioning ([[graft.TopKAggSpec]] asserts invariance
  * over P ∈ {1, 2, 7, 32}); the DuckDB oracle states the same order
  * in a window, so hash equality proves select-k ≡ rank-k exactly,
  * ties included. Emission is the rank-ordered array of
  * (value, key) structs.
  */
case class TopKAgg(
    left: Expression,  // value (double)
    right: Expression, // key (long)
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[(Double, Long)]]
  with BinaryLike[Expression] {

  private type Buf = scala.collection.mutable.ArrayBuffer[(Double, Long)]

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"top_k_by expects (DOUBLE value, BIGINT key), got $other")
    }

  override def createAggregationBuffer(): Buf =
    scala.collection.mutable.ArrayBuffer.empty

  /** value DESC, key ASC — the deterministic total order. */
  private def lt(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  private def trim(buf: Buf): Buf = {
    if (buf.length > k) {
      val kept = buf.sortWith(lt).take(k)
      buf.clear()
      buf ++= kept
    }
    buf
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = left.eval(input)
    val kk = right.eval(input)
    if (v != null && kk != null) {
      buf += ((v.asInstanceOf[Double], kk.asInstanceOf[Long]))
      // amortized: let it grow to 2k before each select-k pass
      if (buf.length >= 2 * k) trim(buf)
    }
    buf
  }

  override def merge(b1: Buf, b2: Buf): Buf = { b1 ++= b2; trim(b1) }

  override def eval(buf: Buf): Any = {
    val out = buf.sortWith(lt).take(k)
    new GenericArrayData(out.map { case (v, id) =>
      InternalRow(v, id) }.toArray[Any])
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val t = trim(buf)
    val bb = java.nio.ByteBuffer.allocate(4 + t.length * 16)
    bb.putInt(t.length)
    t.foreach { case (v, id) => bb.putDouble(v); bb.putLong(id) }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf: Buf = scala.collection.mutable.ArrayBuffer.empty
    var i = 0
    while (i < n) { buf += ((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", DoubleType, nullable = false),
    StructField("key", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_by"

  override def withNewMutableAggBufferOffset(offset: Int): TopKAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKAgg =
    copy(left = newLeft, right = newRight)
}
