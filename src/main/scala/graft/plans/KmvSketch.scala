package graft.plans

import java.security.MessageDigest
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A6 set-operation tier: KMV (k-minimum-values) distinct sketches —
  * the sketch family member HLL cannot replace, because stored KMV
  * synopses support INTERSECTION and Jaccard estimates (Beyer et al.,
  * SIGMOD 2007 "On synopses for distinct-value estimation under
  * multiset operations"), while HLL registers only union. Reference
  * provenance: the demo's overlap dashboards (`crm_demo/app.py:141-166`
  * recompute pairwise fan overlaps with COUNT(DISTINCT) per request).
  *
  * The estimator is a pure function of the data under a PINNED hash
  * (u32 = first 8 md5 nibbles of the key, the [[Hll]] / hash-sample
  * idiom), so — unlike `approx_count_distinct`, whose sketch is
  * engine-private — every number here is EXACTLY reproducible in
  * ANSI-ish SQL and the graded queries are hash-compared cross-engine:
  *
  *  - sketch = the k smallest DISTINCT u32 hash values (k = 256).
  *  - estimate: n_kept < k → n_kept (the sketch IS the distinct set,
  *    answer exact); else floor((k−1)·2³² / h₍k₎) — BIGINT throughout,
  *    no float in any grade.
  *  - union(A,B) = k smallest of A ∪ B (associative/commutative/
  *    idempotent — the rollup-table merge discipline, like [[Hll]]).
  *  - intersection: with S = union sketch, n_common = |{v ∈ S : v in
  *    both stored sets}|; jaccard_ppm = floor(10⁶·n_common/|S|);
  *    inter_est = floor(n_common·union_est/|S|) — the Beyer et al.
  *    ratio estimator, exact-integer form.
  *
  * 100 TB shape: partial sketches are ≤ 2 KiB (256×8 B) and merge
  * associatively, so the shuffle carries blobs, not rows; stored
  * per-partition blobs answer any regrouped union/overlap question at
  * catalog granularity (the [[BitmapSketch]] serving pattern at 1/1000
  * the bytes, trading exactness for a 1/√(k−2) ≈ 6 % relative error).
  */
object Kmv {
  val k = 256
  private val TwoPow32 = 1L << 32

  /** First 8 md5 hex nibbles as a u32 in [0, 2³²) — the repo-wide
    * deterministic-uniform idiom (same value the oracles rebuild via
    * the nibble polynomial; see Curation.u32Sql). */
  def u32(md5: MessageDigest, keyBytes: Array[Byte]): Long = {
    val d = md5.digest(keyBytes)
    var v = 0L
    var i = 0
    while (i < 4) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  def emptyBuffer: mutable.TreeSet[Long] = mutable.TreeSet.empty[Long]

  /** Keep the k smallest distinct values (TreeSet dedups; evict the
    * current max once full and a smaller value arrives). */
  def add(buf: mutable.TreeSet[Long], v: Long): Unit = {
    if (buf.size < k) buf += v
    else if (v < buf.last && !buf.contains(v)) { buf -= buf.last; buf += v }
  }

  def mergeInto(b1: mutable.TreeSet[Long], b2: Iterable[Long]): mutable.TreeSet[Long] = {
    b2.foreach(add(b1, _))
    b1
  }

  /** (estimate, kth, n_kept). Below k the sketch holds EVERY distinct
    * hash, so the answer is exact; at k the classic (k−1)/U₍k₎. */
  def estimate(buf: mutable.TreeSet[Long]): (Long, Long, Long) = {
    val n = buf.size.toLong
    if (n < k) (n, if (buf.isEmpty) 0L else buf.last, n)
    else ((k - 1).toLong * TwoPow32 / buf.last, buf.last, n)
  }

  /** Blob = ascending big-endian u64s (8·n bytes, canonical — two
    * equal sketches serialize identically, so blobs are comparable). */
  def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
    val out = new Array[Byte](8 * buf.size)
    var i = 0
    buf.foreach { v =>
      var j = 0
      while (j < 8) { out(i * 8 + j) = (v >>> (8 * (7 - j))).toByte; j += 1 }
      i += 1
    }
    out
  }

  def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    require(bytes.length % 8 == 0,
      s"kmv blob must be a multiple of 8 bytes, got ${bytes.length}")
    val buf = emptyBuffer
    var i = 0
    while (i < bytes.length / 8) {
      var v = 0L
      var j = 0
      while (j < 8) { v = (v << 8) | (bytes(i * 8 + j) & 0xffL); j += 1 }
      add(buf, v)
      i += 1
    }
    buf
  }

  /** Pairwise set algebra over two stored blobs (Beyer et al. §4):
    * (union_est, n_common, k_used, jaccard_ppm, inter_est). */
  def setOps(a: Array[Byte], b: Array[Byte]): (Long, Long, Long, Long, Long) = {
    val sa = deserialize(a)
    val sb = deserialize(b)
    val union = emptyBuffer
    mergeInto(union, sa)
    mergeInto(union, sb)
    val (unionEst, _, kUsed) = estimate(union)
    val nCommon = union.count(v => sa.contains(v) && sb.contains(v)).toLong
    if (kUsed == 0L) (0L, 0L, 0L, 0L, 0L)
    else (unionEst, nCommon, kUsed,
      1000000L * nCommon / kUsed, nCommon * unionEst / kUsed)
  }
}

/** Direct estimating aggregate: `kmv_sketch(key)` → struct
  * {est, kth, n_kept} — all BIGINT, all oracle-reproducible. */
case class KmvSketch(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"kmv_sketch expects a STRING key (cast explicitly), got ${other.simpleString}")
    }

  override def createAggregationBuffer(): mutable.TreeSet[Long] = Kmv.emptyBuffer

  @transient private lazy val md5 = MessageDigest.getInstance("MD5")

  override def update(buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) Kmv.add(buf, Kmv.u32(md5, v.asInstanceOf[UTF8String].getBytes))
    buf
  }

  override def merge(b1: mutable.TreeSet[Long], b2: mutable.TreeSet[Long]): mutable.TreeSet[Long] =
    Kmv.mergeInto(b1, b2)

  override def eval(buf: mutable.TreeSet[Long]): Any = {
    val (est, kth, n) = Kmv.estimate(buf)
    new GenericInternalRow(Array[Any](est, kth, n))
  }

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = Kmv.serialize(buf)
  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = Kmv.deserialize(bytes)

  override def dataType: DataType = StructType(Seq(
    StructField("est", LongType, nullable = false),
    StructField("kth", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sketch"

  override def withNewMutableAggBufferOffset(offset: Int): KmvSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvSketch =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketch =
    copy(child = newChild)
}

/** Stored-sketch emitter: `kmv_state(key)` → the canonical ≤2 KiB
  * blob a rollup table persists (pair with [[KmvMerge]] /
  * [[KmvSetOps]]; `kmv_merge(kmv_state(x)) ≡ kmv_sketch(x)` by
  * construction — KmvSketchSpec pins it). */
case class KmvState(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"kmv_state expects a STRING key (cast explicitly), got ${other.simpleString}")
    }

  override def createAggregationBuffer(): mutable.TreeSet[Long] = Kmv.emptyBuffer

  @transient private lazy val md5 = MessageDigest.getInstance("MD5")

  override def update(buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) Kmv.add(buf, Kmv.u32(md5, v.asInstanceOf[UTF8String].getBytes))
    buf
  }

  override def merge(b1: mutable.TreeSet[Long], b2: mutable.TreeSet[Long]): mutable.TreeSet[Long] =
    Kmv.mergeInto(b1, b2)

  override def eval(buf: mutable.TreeSet[Long]): Any = Kmv.serialize(buf)
  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = Kmv.serialize(buf)
  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = Kmv.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_state"

  override def withNewMutableAggBufferOffset(offset: Int): KmvState =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvState =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): KmvState =
    copy(child = newChild)
}

/** Sketch re-aggregation: `kmv_merge(blob)` unions stored blobs (k
  * smallest of the union — associative, commutative, idempotent) and
  * emits the [[KmvSketch]] struct. */
case class KmvMerge(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Long]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"kmv_merge expects a BINARY kmv_state blob, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): mutable.TreeSet[Long] = Kmv.emptyBuffer

  override def update(buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) Kmv.mergeInto(buf, Kmv.deserialize(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(b1: mutable.TreeSet[Long], b2: mutable.TreeSet[Long]): mutable.TreeSet[Long] =
    Kmv.mergeInto(b1, b2)

  override def eval(buf: mutable.TreeSet[Long]): Any = {
    val (est, kth, n) = Kmv.estimate(buf)
    new GenericInternalRow(Array[Any](est, kth, n))
  }

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = Kmv.serialize(buf)
  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = Kmv.deserialize(bytes)

  override def dataType: DataType = StructType(Seq(
    StructField("est", LongType, nullable = false),
    StructField("kth", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_merge"

  override def withNewMutableAggBufferOffset(offset: Int): KmvMerge =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvMerge =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): KmvMerge =
    copy(child = newChild)
}

/** Pairwise SET ALGEBRA over two stored blobs — the operation that
  * justifies KMV beside HLL: `kmv_ops(a, b)` → struct {union_est,
  * n_common, k_used, jaccard_ppm, inter_est}, the Beyer et al. ratio
  * estimator in exact integers. Scalar (not aggregate): it runs over
  * catalog-granularity rollup rows (|groups|² pairs of ≤2 KiB blobs),
  * never the corpus, so CodegenFallback costs nothing measurable. */
case class KmvSetOps(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"kmv_ops expects two BINARY kmv_state blobs, got ${l.simpleString}, ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (unionEst, nCommon, kUsed, jacPpm, interEst) =
      Kmv.setOps(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    new GenericInternalRow(Array[Any](unionEst, nCommon, kUsed, jacPpm, interEst))
  }

  override def dataType: DataType = StructType(Seq(
    StructField("union_est", LongType, nullable = false),
    StructField("n_common", LongType, nullable = false),
    StructField("k_used", LongType, nullable = false),
    StructField("jaccard_ppm", LongType, nullable = false),
    StructField("inter_est", LongType, nullable = false)))
  override def prettyName: String = "kmv_ops"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KmvSetOps =
    copy(left = newLeft, right = newRight)
}
