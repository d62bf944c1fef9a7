package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Word-n-gram array VIEW over a document string — the word twin of
  * [[CharGramArray]], built for the N2 word-LSH signature pass (r4
  * verdict #2: apply the char_grams playbook to the word pair build).
  *
  * Semantics are EXACTLY the Shingles construction the oracle mirrors:
  * tokens = non-empty runs between single spaces (Spark
  * `filter(split(text, ' '), t -> t <> '')`, DuckDB
  * `list_filter(string_split(text, ' '), …)`), gram i = tokens
  * i..i+n−1 joined by one space (`concat_ws(' ', …)`). The HOF
  * formulation materializes, per document row, the full token ARRAY,
  * then the full gram ARRAY (each gram a fresh concat allocation —
  * ~3× the document's bytes) before the generator emits its first row.
  *
  * This view instead makes ONE byte scan for token boundaries (the
  * separator is the single byte 0x20, which in UTF-8 never occurs
  * inside a multi-byte sequence, so the scan needs no decoding), and
  * each access slices the gram straight out of the document bytes:
  * ZERO-COPY when the n tokens are already single-space separated in
  * the source (the overwhelmingly common case), one small copy that
  * re-joins the tokens when runs of spaces sat between them. */
final class WordGramArray(str: UTF8String, n: Int) extends StringArrayView {
  private val bytes = if (str == null) Array.emptyByteArray else str.getBytes
  // token boundaries: tokStart(i) inclusive, tokEnd(i) exclusive, bytes
  private val (tokStart, tokEnd, nToks) = {
    // pass 1: count the non-empty runs (exact allocation, no resizing)
    var count = 0
    var b = 0
    val len = bytes.length
    while (b < len) {
      if (bytes(b) != ' ') {
        count += 1
        while (b < len && bytes(b) != ' ') b += 1
      } else b += 1
    }
    val starts = new Array[Int](count)
    val ends = new Array[Int](count)
    var t = 0
    b = 0
    while (b < len) {
      if (bytes(b) != ' ') {
        starts(t) = b
        while (b < len && bytes(b) != ' ') b += 1
        ends(t) = b
        t += 1
      } else b += 1
    }
    (starts, ends, count)
  }
  private val cnt = math.max(0, nToks - n + 1)

  override def numElements(): Int = cnt
  override def getUTF8String(i: Int): UTF8String = {
    val s = tokStart(i)
    val e = tokEnd(i + n - 1)
    // contiguous fast path: every inter-token gap is exactly one space
    var contiguous = true
    var k = i
    while (contiguous && k < i + n - 1) {
      if (tokEnd(k) + 1 != tokStart(k + 1)) contiguous = false
      k += 1
    }
    if (contiguous) UTF8String.fromBytes(bytes, s, e - s)
    else {
      // re-join with single spaces (concat_ws parity)
      var total = n - 1
      k = i
      while (k < i + n) { total += tokEnd(k) - tokStart(k); k += 1 }
      val out = new Array[Byte](total)
      var p = 0
      k = i
      while (k < i + n) {
        if (k > i) { out(p) = ' '; p += 1 }
        val l = tokEnd(k) - tokStart(k)
        System.arraycopy(bytes, tokStart(k), out, p, l)
        p += l
        k += 1
      }
      UTF8String.fromBytes(out)
    }
  }
}

/** `word_grams(text, n)` — one row per word-n-gram of `text`,
  * equivalent to
  * `explode(transform(sequence(1, size(t)-n+1), i -> concat_ws(' ', element_at(t,i), …)))`
  * over `t = filter(split(text,' '), x -> x <> '')` — including the
  * `size(t) >= n` guard the HOF form needs externally (fewer than n
  * tokens emits ZERO rows here, where Spark's `sequence(1, m)` would
  * count DOWN for m < 1). Streaming like [[CharGrams]]: the
  * codegen'd `GenerateExec` loop reads gram i directly out of the
  * document bytes; nothing token- or gram-shaped is materialized for
  * rows downstream operators never pull. */
case class WordGrams(child: Expression, n: Int,
    withPosition: Boolean = false)
    extends UnaryExpression with CollectionGenerator {

  require(n >= 1, s"word_grams: n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_grams expects a string argument, got ${other.simpleString}")
  }

  /** `word_grams_pos` emits (pos, gram) like posexplode — GenerateExec
    * adds the 0-based ordinal itself in the codegen loop; the
    * interpreted eval below mirrors it. */
  override def position: Boolean = withPosition
  override def inline: Boolean = false
  override def elementSchema: StructType =
    if (withPosition)
      StructType(
        StructField("pos", org.apache.spark.sql.types.IntegerType,
          nullable = false) ::
        StructField("gram", StringType, nullable = false) :: Nil)
    else StructType(StructField("gram", StringType, nullable = false) :: Nil)
  override def collectionType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String =
    if (withPosition) "word_grams_pos" else "word_grams"

  /** Interpreted path (GenerateExec.doExecute outside codegen). */
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val arr = new WordGramArray(v.asInstanceOf[UTF8String], n)
      (0 until arr.numElements()).iterator.map(i =>
        if (withPosition) InternalRow(i, arr.getUTF8String(i))
        else InternalRow(arr.getUTF8String(i)))
    }
  }

  /** Codegen path: emit the lazy view; GenerateExec's loop slices. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[WordGramArray].getName
    nullSafeCodeGen(ctx, ev, str =>
      s"${ev.value} = new $cls($str, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}
