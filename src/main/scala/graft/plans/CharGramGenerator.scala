package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Character-n-gram array VIEW over a document string: `numElements`
  * and `getUTF8String(i)` compute gram i on ACCESS instead of
  * materializing every gram up front.
  *
  * Why it exists: the HOF formulation
  * `explode(transform(sequence(1, length(lt)-8), i -> substring(lt, i, 9)))`
  * allocates, per document row, an UnsafeArrayData holding EVERY gram
  * (~n_chars strings × 9 chars — ~10× the document's own size) before
  * the generator emits the first row — profiled at ~5 s of
  * neardup_pairs_char's 10.7 s at sf0.1. Worse, each `substring(lt,i,9)`
  * call re-walks the string from byte 0 to find character i (UTF-8 is
  * variable-width), making the per-document cost quadratic in length.
  *
  * This view fixes both: ONE pass builds the char→byte offset table
  * (skipped entirely for pure-ASCII text, where offsets are identity),
  * and each access wraps a ZERO-COPY byte slice via
  * `UTF8String.fromBytes(bytes, start, len)`. Nothing gram-shaped is
  * ever allocated for rows downstream operators never pull.
  *
  * Gram VALUES are byte-identical to SQL `substring(lt, i, 9)` (both
  * slice by character) — asserted against the HOF form in
  * CharGramSpec. */
final class CharGramArray(str: UTF8String, n: Int) extends StringArrayView {
  // null input ⇒ empty collection: Generator.nullable is FALSE, so the
  // codegen path hands the child's raw (possibly null) value straight
  // to this constructor — the null must become "zero grams" here, the
  // same contract as explode of an empty transform result
  private val bytes = if (str == null) Array.emptyByteArray else str.getBytes
  private val nChars = if (str == null) 0 else str.numChars()
  private val cnt = math.max(0, nChars - n + 1)
  // char index → byte offset (length nChars+1); null ⟺ pure ASCII,
  // where char index == byte offset
  private val offsets: Array[Int] =
    if (bytes.length == nChars) null
    else {
      val off = new Array[Int](nChars + 1)
      var i = 0; var b = 0
      while (i < nChars) {
        off(i) = b
        // UTF-8 sequence length from the lead byte
        val lead = bytes(b) & 0xff
        b += (if (lead < 0x80) 1
              else if (lead < 0xe0) 2
              else if (lead < 0xf0) 3
              else 4)
        i += 1
      }
      off(nChars) = bytes.length
      off
    }
  @inline private def charOff(i: Int): Int =
    if (offsets == null) i else offsets(i)

  override def numElements(): Int = cnt
  override def getUTF8String(i: Int): UTF8String = {
    val s = charOff(i)
    val e = charOff(i + n)
    UTF8String.fromBytes(bytes, s, e - s)
  }
}

/** `char_grams(text, n)` — table-generating function emitting one row
  * per character-n-gram of `text`, equivalent to
  * `explode(transform(sequence(1, length(text)-n+1), i -> substring(text, i, n)))`
  * but STREAMING: as a [[CollectionGenerator]] whose `doGenCode`
  * produces a lazy [[CharGramArray]], the whole-stage-codegen'd
  * `GenerateExec` loop reads gram i directly out of the document's
  * bytes — no per-row gram array is ever materialized (see
  * [[CharGramArray]] for the profile that motivated this). This is
  * SURVEY §2's U4 "custom `Generator` only if shingling needs it"
  * escalation path, taken once the built-in explode-of-transform form
  * was profiled as the N2 char-shingling bottleneck.
  *
  * Null or shorter-than-n input emits zero rows, matching
  * `explode` of an empty transform result. */
case class CharGrams(child: Expression, n: Int)
    extends UnaryExpression with CollectionGenerator {

  require(n >= 1, s"char_grams: n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_grams expects a string argument, got ${other.simpleString}")
  }

  override def position: Boolean = false
  override def inline: Boolean = false
  override def elementSchema: StructType =
    StructType(StructField("gram", StringType, nullable = false) :: Nil)
  override def collectionType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_grams"

  /** Interpreted path (GenerateExec.doExecute outside codegen). */
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val arr = new CharGramArray(v.asInstanceOf[UTF8String], n)
      (0 until arr.numElements()).iterator
        .map(i => InternalRow(arr.getUTF8String(i)))
    }
  }

  /** Codegen path: GenerateExec asks this expression for the
    * collection value, then emits the element loop itself. The emitted
    * value is the lazy view — constructing it costs one offset pass,
    * and the loop's `getUTF8String(i)` calls are zero-copy slices. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[CharGramArray].getName
    nullSafeCodeGen(ctx, ev, str =>
      s"${ev.value} = new $cls($str, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): CharGrams =
    copy(child = newChild)
}
