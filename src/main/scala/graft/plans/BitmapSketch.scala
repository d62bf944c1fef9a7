package graft.plans

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** EXACT distinct counting over 64-bit keys as a mergeable bitmap
  * aggregate — the ClickHouse `groupBitmap` / Doris `BITMAP` pattern
  * (reference provenance: the demo's fan-count dashboards,
  * `crm_demo/app.py:141-166`, recomputed COUNT(DISTINCT) per request;
  * a warehouse serves the same number from stored bitmaps).
  *
  * Why this exists next to [[HllSketch]]: HLL answers distinct-count
  * with ~2 % error from 256 bytes; the bitmap answers it EXACTLY and
  * additionally supports set algebra (AND / ANDNOT) between groups —
  * retention and churn are intersection cardinalities, which no
  * cardinality sketch can provide. The cost model is the standard
  * roaring trade: the 64-bit key space is chunked into 2^16-value
  * containers (container id = high 48 bits), and each container is
  *  - SPARSE: a sorted array of 16-bit lows (2 B/value), while it
  *    holds ≤ 4096 distinct values;
  *  - DENSE: an 8 KiB fixed bitset beyond that —
  * so a container never exceeds 8 KiB no matter how many of its 65536
  * ids are present, and nearly-empty containers pay bytes ∝ values.
  * Merge is associative/commutative/idempotent ⇒ partial aggregates
  * shuffle container bytes, not rows, and any regrouping of stored
  * blobs is exact (the property [[BitmapSpec]] pins across random
  * partitionings).
  *
  * The serialized form is CANONICAL (containers sorted by id, sparse
  * lows sorted, dense iff distinct > 4096), so equal sets ⇒ equal
  * blobs regardless of insertion or merge order — stored rollup tables
  * are therefore content-comparable across rebuilds.
  *
  * Update path: sparse containers append unsorted with possible
  * duplicates and compact (sort + dedup, possibly promoting to dense)
  * when the append buffer hits 4× the sparse threshold — O(1) amortized
  * per row, bounded memory (append buffer ≤ 16384 entries = 32 KiB).
  */
object RBitmap {
  /** Sparse→dense promotion threshold (distinct values per container). */
  val SparseMax = 4096
  /** Append-buffer compaction trigger. */
  private val CompactAt = 4 * SparseMax
  private val DenseWords = 1024 // 65536 bits

  final class Container {
    /** Dense bitset (1024 longs) once promoted; null while sparse. */
    var bits: Array[Long] = null
    /** Sparse append buffer of 16-bit lows (unsorted, may hold dups). */
    var arr: Array[Char] = new Array[Char](16)
    var n: Int = 0

    def add(low: Int): Unit =
      if (bits != null) bits(low >>> 6) |= 1L << (low & 63)
      else {
        if (n == arr.length) {
          if (n >= CompactAt) compact()
          if (bits != null) { add(low); return }
          if (n == arr.length)
            arr = java.util.Arrays.copyOf(arr, arr.length * 2)
        }
        arr(n) = low.toChar
        n += 1
      }

    /** Sort + dedup the sparse buffer; promote to dense past SparseMax. */
    def compact(): Unit = if (bits == null && n > 0) {
      java.util.Arrays.sort(arr, 0, n)
      var w = 0
      var i = 0
      while (i < n) {
        if (w == 0 || arr(i) != arr(w - 1)) { arr(w) = arr(i); w += 1 }
        i += 1
      }
      n = w
      if (n > SparseMax) {
        bits = new Array[Long](DenseWords)
        i = 0
        while (i < n) {
          val low = arr(i).toInt
          bits(low >>> 6) |= 1L << (low & 63)
          i += 1
        }
        arr = null
        n = 0
      }
    }

    def cardinality: Long = {
      if (bits == null) compact() // may itself promote to dense
      if (bits != null) {
        var c = 0L; var i = 0
        while (i < DenseWords) { c += java.lang.Long.bitCount(bits(i)); i += 1 }
        c
      } else n.toLong
    }

    def toDense: Array[Long] =
      if (bits != null) bits
      else {
        compact()
        val b = new Array[Long](DenseWords)
        var i = 0
        while (i < n) {
          val low = arr(i).toInt
          b(low >>> 6) |= 1L << (low & 63)
          i += 1
        }
        b
      }

    def mergeFrom(o: Container): Unit =
      if (bits != null || o.bits != null) {
        val mine = toDense
        val theirs = o.toDense
        if (bits == null) { bits = mine; arr = null; n = 0 }
        var i = 0
        while (i < DenseWords) { bits(i) = mine(i) | theirs(i); i += 1 }
        // union of a dense container can only stay dense (≥ its inputs)
      } else {
        o.compact()
        var i = 0
        while (i < o.n) { add(o.arr(i).toInt); i += 1 }
      }
  }

  type Buf = java.util.HashMap[java.lang.Long, Container]

  def empty: Buf = new java.util.HashMap[java.lang.Long, Container]()

  def add(buf: Buf, v: Long): Unit = {
    val cid = v >> 16 // arithmetic shift: floor semantics for negatives
    val low = (v & 0xffffL).toInt
    var c = buf.get(cid)
    if (c == null) { c = new Container; buf.put(cid, c) }
    c.add(low)
  }

  def mergeInto(b1: Buf, b2: Buf): Buf = {
    val it = b2.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val mine = b1.get(e.getKey)
      if (mine == null) b1.put(e.getKey, e.getValue)
      else mine.mergeFrom(e.getValue)
    }
    b1
  }

  def cardinality(buf: Buf): Long = {
    var c = 0L
    val it = buf.values().iterator()
    while (it.hasNext) c += it.next().cardinality
    c
  }

  /** Canonical bytes: [n_containers][sorted by id: id, form, len, payload].
    * form 0 = sparse (len sorted distinct chars), 1 = dense (1024 longs). */
  def serialize(buf: Buf): Array[Byte] = {
    val ids = new Array[Long](buf.size())
    val it = buf.keySet().iterator()
    var k = 0
    while (it.hasNext) { ids(k) = it.next(); k += 1 }
    java.util.Arrays.sort(ids)
    var bytes = 4
    var i = 0
    while (i < ids.length) {
      val c = buf.get(ids(i))
      c.compact()
      bytes += 8 + 1 + 4 + (if (c.bits != null) DenseWords * 8 else c.n * 2)
      i += 1
    }
    val bb = ByteBuffer.allocate(bytes).order(ByteOrder.BIG_ENDIAN)
    bb.putInt(ids.length)
    i = 0
    while (i < ids.length) {
      val c = buf.get(ids(i))
      bb.putLong(ids(i))
      if (c.bits != null) {
        bb.put(1: Byte); bb.putInt(DenseWords)
        var j = 0
        while (j < DenseWords) { bb.putLong(c.bits(j)); j += 1 }
      } else {
        bb.put(0: Byte); bb.putInt(c.n)
        var j = 0
        while (j < c.n) { bb.putChar(c.arr(j)); j += 1 }
      }
      i += 1
    }
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val nc = bb.getInt
    val buf = empty
    var i = 0
    while (i < nc) {
      val id = bb.getLong
      val form = bb.get()
      val len = bb.getInt
      val c = new Container
      if (form == 1) {
        c.bits = new Array[Long](DenseWords)
        c.arr = null
        var j = 0
        while (j < len) { c.bits(j) = bb.getLong; j += 1 }
      } else {
        c.arr = new Array[Char](math.max(len, 1))
        var j = 0
        while (j < len) { c.arr(j) = bb.getChar; j += 1 }
        c.n = len
      }
      buf.put(id, c)
      i += 1
    }
    buf
  }

  /** |a ∩ b| without materializing the intersection. */
  def andCardinality(a: Buf, b: Buf): Long = {
    var c = 0L
    val it = a.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val other = b.get(e.getKey)
      if (other != null) {
        val x = e.getValue.toDense
        val y = other.toDense
        var i = 0
        while (i < DenseWords) { c += java.lang.Long.bitCount(x(i) & y(i)); i += 1 }
      }
    }
    c
  }

  /** |a \ b|. */
  def andNotCardinality(a: Buf, b: Buf): Long = {
    var c = 0L
    val it = a.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val other = b.get(e.getKey)
      if (other == null) c += e.getValue.cardinality
      else {
        val x = e.getValue.toDense
        val y = other.toDense
        var i = 0
        while (i < DenseWords) { c += java.lang.Long.bitCount(x(i) & ~y(i)); i += 1 }
      }
    }
    c
  }
}

private[plans] trait BitmapAggBase
  extends TypedImperativeAggregate[RBitmap.Buf] with UnaryLike[Expression] {
  override def createAggregationBuffer(): RBitmap.Buf = RBitmap.empty
  override def merge(b1: RBitmap.Buf, b2: RBitmap.Buf): RBitmap.Buf =
    RBitmap.mergeInto(b1, b2)
  override def serialize(buf: RBitmap.Buf): Array[Byte] = RBitmap.serialize(buf)
  override def deserialize(bytes: Array[Byte]): RBitmap.Buf =
    RBitmap.deserialize(bytes)
  override def nullable: Boolean = false
}

private[plans] trait LongKeyedBitmap extends BitmapAggBase {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a BIGINT key (cast explicitly), got ${other.simpleString}")
  }
  override def update(buf: RBitmap.Buf, input: InternalRow): RBitmap.Buf = {
    val v = child.eval(input)
    if (v != null) RBitmap.add(buf, v.asInstanceOf[Long])
    buf
  }
}

/** `bitmap_distinct(key)` → exact distinct count (BIGINT). */
case class BitmapDistinct(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongKeyedBitmap {
  override def eval(buf: RBitmap.Buf): Any = RBitmap.cardinality(buf)
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_distinct"
  override def withNewMutableAggBufferOffset(offset: Int): BitmapDistinct =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BitmapDistinct =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): BitmapDistinct =
    copy(child = newChild)
}

/** `bitmap_state(key)` → canonical bitmap blob (BINARY) — the stored
  * rollup form; pair with [[BitmapMergeCount]] / the scalar set-algebra
  * expressions. */
case class BitmapState(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongKeyedBitmap {
  override def eval(buf: RBitmap.Buf): Any = RBitmap.serialize(buf)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bitmap_state"
  override def withNewMutableAggBufferOffset(offset: Int): BitmapState =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BitmapState =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): BitmapState =
    copy(child = newChild)
}

/** `bitmap_merge_count(blob)` → exact distinct of the UNION of stored
  * bitmaps — the re-aggregation that answers any date-range / regroup
  * question from blob rows without touching the raw corpus. */
case class BitmapMergeCount(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BitmapAggBase {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bitmap_merge_count expects a BINARY bitmap_state blob, got ${other.simpleString}")
  }
  override def update(buf: RBitmap.Buf, input: InternalRow): RBitmap.Buf = {
    val v = child.eval(input)
    if (v != null)
      RBitmap.mergeInto(buf, RBitmap.deserialize(v.asInstanceOf[Array[Byte]]))
    buf
  }
  override def eval(buf: RBitmap.Buf): Any = RBitmap.cardinality(buf)
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_merge_count"
  override def withNewMutableAggBufferOffset(offset: Int): BitmapMergeCount =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BitmapMergeCount =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): BitmapMergeCount =
    copy(child = newChild)
}

/** `bitmap_card(blob)` → cardinality of ONE stored bitmap (scalar) —
  * reading a rollup row without re-aggregation. NOT named
  * `bitmap_count`: Spark 4 ships a BUILT-IN of that name (raw popcount
  * over the bytes), and [[Extensions.install]] defers to existing
  * functions — a same-name registration would silently resolve to the
  * built-in and count container METADATA bits as members. */
case class BitmapCount(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bitmap_card expects a BINARY bitmap_state blob, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    RBitmap.cardinality(RBitmap.deserialize(v.asInstanceOf[Array[Byte]]))
  override def prettyName: String = "bitmap_card"
  override protected def withNewChildInternal(newChild: Expression): BitmapCount =
    copy(child = newChild)
}

private[plans] abstract class BitmapBinaryCard
  extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two BINARY bitmap blobs, got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = LongType
  protected def card(a: RBitmap.Buf, b: RBitmap.Buf): Long
  override protected def nullSafeEval(l: Any, r: Any): Any =
    card(RBitmap.deserialize(l.asInstanceOf[Array[Byte]]),
      RBitmap.deserialize(r.asInstanceOf[Array[Byte]]))
}

/** `bitmap_and_count(a, b)` → |a ∩ b| — retention between two stored
  * group bitmaps, the set-algebra HLL cannot answer. */
case class BitmapAndCount(left: Expression, right: Expression)
  extends BitmapBinaryCard {
  override protected def card(a: RBitmap.Buf, b: RBitmap.Buf): Long =
    RBitmap.andCardinality(a, b)
  override def prettyName: String = "bitmap_and_count"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapAndCount =
    copy(left = newLeft, right = newRight)
}

/** `bitmap_andnot_count(a, b)` → |a \ b| — churn / newly-seen. */
case class BitmapAndNotCount(left: Expression, right: Expression)
  extends BitmapBinaryCard {
  override protected def card(a: RBitmap.Buf, b: RBitmap.Buf): Long =
    RBitmap.andNotCardinality(a, b)
  override def prettyName: String = "bitmap_andnot_count"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapAndNotCount =
    copy(left = newLeft, right = newRight)
}
