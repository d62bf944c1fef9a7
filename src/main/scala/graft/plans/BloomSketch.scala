package graft.plans

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bloom filter over a string key — the MEMBERSHIP side of the sketch
  * family ([[HllSketch]] = cardinality, [[CmsSketch]] = frequency,
  * [[HistSketch]] = quantiles). m = 65536 bits (1024 longs, 8 KB),
  * k = 4 hash functions; hash i's bit for key t is the first 16 bits
  * (4 hex nibbles) of md5("i:" ++ t). Claimed membership = all k bits
  * set; a Bloom filter never false-negatives, and false positives are
  * bounded by (1 − e^(−kn/m))^k. m is sized for the tested key
  * cardinalities (~10⁴ keys → ~4 % fp); a production build sizes m
  * from the expected n the same way — the state stays constant-size
  * per aggregation group either way.
  *
  * Every step is exactly specified (fixed md5 addressing, no seeds), so
  * the DuckDB oracle can rebuild the IDENTICAL bit set with nibble
  * arithmetic over `md5(i || ':' || key)` and re-derive every claimed
  * bit — the sketch's decisions are hash-graded, not just row-counted.
  *
  * Scale: the aggregation state is a constant 8 KB (65536 bits =
  * 1024 longs) regardless of input cardinality; partial states merge
  * by bitwise OR, so the shuffle carries one 1024-long array per
  * partition. This is the
  * standard big-data pre-filter shape: build on the small(er) key set,
  * broadcast the bits, probe map-only on the large side.
  */
case class BloomSketch(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  import BloomSketch.{K, Words}

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_sketch expects a STRING key (cast explicitly), got ${other.simpleString}")
    }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](Words)

  @transient private lazy val md5 = MessageDigest.getInstance("MD5")
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(K)(i => s"$i:".getBytes("UTF-8"))

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val kb = v.asInstanceOf[UTF8String].getBytes
      var i = 0
      while (i < K) {
        val pos = BloomSketch.position(md5, prefixes(i), kb)
        buf(pos >> 6) |= 1L << (pos & 63)
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < Words) { b1(i) |= b2(i); i += 1 }
    b1
  }

  // clone, never alias the live buffer (CmsSketch discipline)
  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(Words * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(Words)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_sketch"

  override def withNewMutableAggBufferOffset(offset: Int): BloomSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BloomSketch =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): BloomSketch =
    copy(child = newChild)
}

object BloomSketch {
  val K = 4        // hash functions
  val M = 65536    // bits
  val Words = M / 64

  /** THE bit-addressing definition — hash `i`'s position for a key is
    * the first 16 bits of md5("i:" ++ key). Single source of truth
    * shared by update() and external probers
    * ([[graft.operators.BloomIndex]]); a prober that re-derived the
    * addressing independently could silently diverge into false
    * negatives (wrongly skipped files) if it ever changed here. */
  def position(md: MessageDigest, prefix: Array[Byte],
      keyBytes: Array[Byte]): Int = {
    md.update(prefix)
    md.update(keyBytes)
    val d = md.digest()
    ((d(0) & 0xff) << 8) | (d(1) & 0xff)
  }

  /** Driver-side probe: all K positions for `key`. */
  def positions(key: String): Seq[Int] = {
    val md = MessageDigest.getInstance("MD5")
    val kb = key.getBytes("UTF-8")
    (0 until K).map(i => position(md, s"$i:".getBytes("UTF-8"), kb))
  }
}
