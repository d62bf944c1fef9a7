package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Custom Catalyst expression tier (SURVEY.md §4.2 / §7.3): a fused
  * cosine-similarity kernel over two `array<float>` columns.
  *
  * Why an Expression and not a UDF: `doGenCode` emits a tight Java loop
  * into the enclosing WholeStageCodegen stage — no boxing, no
  * per-row closure dispatch, no serialization of the array into Scala
  * objects. The HOF formulation (`aggregate(zip_with(...))`) allocates
  * two intermediate arrays per row; this kernel allocates nothing.
  *
  * Determinism: the loop accumulates dot/norms LEFT-TO-RIGHT in double —
  * the exact fold order of the HOF version and of DuckDB's
  * `list_reduce`, so swapping this in preserves oracle hash-parity
  * (asserted in VectorExprSpec).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float> args, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  // NULL semantics match the HOF formulation exactly (required for the
  // FuseCosineHof rewrite to be sound): length mismatch or any null
  // element yields NULL — zip_with pads the shorter array with nulls,
  // which nulls the product, the fold, and the division.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, dot, na, nb, i) = (ctx.freshName("n"), ctx.freshName("dot"),
        ctx.freshName("na"), ctx.freshName("nb"), ctx.freshName("i"))
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; }
         |    else {
         |      double xv = (double) $a.getFloat($i);
         |      double yv = (double) $b.getFloat($i);
         |      $dot += xv * yv; $na += xv * xv; $nb += yv * yv;
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 between a slice of `x` and a slice of `c`:
  * Σ_{j=0}^{len−1} (x[xoff+j] − c[coff+j])², accumulated LEFT-TO-RIGHT
  * in double — the exact fold order of the HOF
  * `aggregate(sequence(...))` form it replaces and of DuckDB's
  * `list_reduce`, so swapping it in preserves oracle hash-parity
  * (asserted in VectorExprSpec). This is the PQ hot kernel: the seed
  * encode evaluates it corpus × PqK × PqM times and the learned encode
  * corpus × (PqM·PqK) times, and the HOF form interprets the lambda
  * per element (HigherOrderFunction has no codegen) while allocating a
  * sequence array per evaluation. Offsets are 0-based; a
  * negative/overflowing range or any null element yields NULL —
  * matching 1-based `element_at` past-the-end semantics in the HOF
  * form. Array element types may be float or double independently
  * (seed codebooks are float corpus vectors; learned codebooks are
  * exact-double means). */
case class SqDistSlice(x: Expression, xoff: Expression, c: Expression,
    coff: Expression, len: Expression) extends Expression {
  override def children: Seq[Expression] = Seq(x, xoff, c, coff, len)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sq_dist_slice"

  private def isFloatArr(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = {
    val arrsOk = Seq(x, c).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    val intsOk = Seq(xoff, coff, len)
      .forall(_.dataType == org.apache.spark.sql.types.IntegerType)
    if (arrsOk && intsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sq_dist_slice expects (array<float|double>, int, array<float|double>, int, int), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val xv = x.eval(input); val xo = xoff.eval(input)
    val cv = c.eval(input); val co = coff.eval(input); val l = len.eval(input)
    if (xv == null || xo == null || cv == null || co == null || l == null)
      return null
    val xa = xv.asInstanceOf[ArrayData]; val ca = cv.asInstanceOf[ArrayData]
    val xi = xo.asInstanceOf[Int]; val ci = co.asInstanceOf[Int]
    val n = l.asInstanceOf[Int]
    if (xi < 0 || ci < 0 || n < 0 ||
      xi + n > xa.numElements() || ci + n > ca.numElements()) return null
    val xf = isFloatArr(x); val cf = isFloatArr(c)
    var acc = 0.0; var j = 0
    while (j < n) {
      if (xa.isNullAt(xi + j) || ca.isNullAt(ci + j)) return null
      val a = if (xf) xa.getFloat(xi + j).toDouble else xa.getDouble(xi + j)
      val b = if (cf) ca.getFloat(ci + j).toDouble else ca.getDouble(ci + j)
      val d = a - b
      acc += d * d; j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val Seq(xg, xog, cg, cog, lg) = children.map(_.genCode(ctx))
    val (xo, co, n, acc, j, d) = (ctx.freshName("xo"), ctx.freshName("co"),
      ctx.freshName("n"), ctx.freshName("acc"), ctx.freshName("j"),
      ctx.freshName("d"))
    val xGet = if (isFloatArr(x)) s"(double) ${xg.value}.getFloat($xo + $j)"
      else s"${xg.value}.getDouble($xo + $j)"
    val cGet = if (isFloatArr(c)) s"(double) ${cg.value}.getFloat($co + $j)"
      else s"${cg.value}.getDouble($co + $j)"
    ev.copy(code = code"""
      |${xg.code}
      |${xog.code}
      |${cg.code}
      |${cog.code}
      |${lg.code}
      |boolean ${ev.isNull} = true;
      |double ${ev.value} = 0.0;
      |if (!${xg.isNull} && !${xog.isNull} && !${cg.isNull} &&
      |    !${cog.isNull} && !${lg.isNull}) {
      |  int $xo = ${xog.value}; int $co = ${cog.value}; int $n = ${lg.value};
      |  if ($xo >= 0 && $co >= 0 && $n >= 0 &&
      |      $xo + $n <= ${xg.value}.numElements() &&
      |      $co + $n <= ${cg.value}.numElements()) {
      |    ${ev.isNull} = false;
      |    double $acc = 0.0;
      |    for (int $j = 0; $j < $n && !${ev.isNull}; $j++) {
      |      if (${xg.value}.isNullAt($xo + $j) ||
      |          ${cg.value}.isNullAt($co + $j)) { ${ev.isNull} = true; }
      |      else { double $d = $xGet - $cGet; $acc += $d * $d; }
      |    }
      |    if (!${ev.isNull}) { ${ev.value} = $acc; }
      |  }
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(x = newChildren(0), xoff = newChildren(1), c = newChildren(2),
      coff = newChildren(3), len = newChildren(4))
}
