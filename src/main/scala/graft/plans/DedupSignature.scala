package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `dedup_signature(text)` — one document's whole dedup signature from
  * ONE walk over its word-3-grams ([[WordGramArray]]'s zero-copy view):
  *  - `m0..m3`: the 4-band MinHash, `min(substring(md5(s), 1+8i, 8))`
  *    over the grams `s`. Lexicographic min over fixed-width lowercase
  *    hex is the unsigned 32-bit min, so the walk keeps four unsigned
  *    ints and formats each winner once, instead of hex-formatting
  *    every gram's digest;
  *  - `hs`: the distinct `xxhash64(s)` set (seed 42 — the function
  *    Spark's `xxhash64` applies to a string's bytes), sorted.
  * Null when `text` is null or has fewer than 3 tokens (no grams).
  *
  * Every output is a function of the one document's own text, so a
  * signature pass is a map-only projection: no gram rows to explode,
  * shuffle and regroup by doc_id. */
case class DedupSignature(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"dedup_signature expects a string argument, got ${other.simpleString}")
  }

  override def dataType: DataType = DedupSignature.ResultType
  override def nullable: Boolean = true
  override def prettyName: String = "dedup_signature"

  override protected def nullSafeEval(input: Any): Any =
    DedupSignature.compute(input.asInstanceOf[UTF8String])

  /** One static call per row, like [[WordGrams]]' view construction. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[DedupSignature].getName
    nullSafeCodeGen(ctx, ev, str =>
      s"""${ev.value} = $cls.compute($str);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): DedupSignature =
    copy(child = newChild)
}

object DedupSignature {
  val ResultType: StructType = StructType(
    (0 to 3).map(i => StructField(s"m$i", StringType, nullable = false)) :+
      StructField("hs", ArrayType(LongType, containsNull = false),
        nullable = false))

  /** Spark's `xxhash64` default seed. */
  private val XxSeed = 42L
  private val Hex = "0123456789abcdef".getBytes

  private def hex8(v: Long): UTF8String = {
    val out = new Array[Byte](8)
    var k = 0
    while (k < 8) {
      out(k) = Hex(((v >>> (28 - 4 * k)) & 0xf).toInt)
      k += 1
    }
    UTF8String.fromBytes(out)
  }

  def compute(text: UTF8String): InternalRow = {
    val grams = new WordGramArray(text, 3)
    val n = grams.numElements()
    if (n == 0) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    val mins = Array.fill(4)(1L << 32) // above every unsigned 32-bit slice
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      // a gram's base is always a byte[] (a slice of the document's
      // bytes, or the re-joined copy on the multi-space path)
      val g = grams.getUTF8String(i)
      val base = g.getBaseObject.asInstanceOf[Array[Byte]]
      val len = g.numBytes
      md.update(base, (g.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, len)
      md.digest(digest, 0, 16)
      var k = 0
      while (k < 4) {
        val o = 4 * k
        val v = ((digest(o) & 0xffL) << 24) | ((digest(o + 1) & 0xffL) << 16) |
          ((digest(o + 2) & 0xffL) << 8) | (digest(o + 3) & 0xffL)
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      hashes(i) = XXH64.hashUnsafeBytes(base, g.getBaseOffset, len, XxSeed)
      i += 1
    }
    java.util.Arrays.sort(hashes)
    var d = 1
    i = 1
    while (i < n) {
      if (hashes(i) != hashes(d - 1)) { hashes(d) = hashes(i); d += 1 }
      i += 1
    }
    InternalRow(hex8(mins(0)), hex8(mins(1)), hex8(mins(2)), hex8(mins(3)),
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hashes, d)))
  }
}
