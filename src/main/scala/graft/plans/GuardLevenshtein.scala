package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule tier (SURVEY.md §4.2 (c), second instance next to
  * [[FuseCosineHof]]): BLOCK edit-distance predicates with their length
  * bound.
  *
  * `levenshtein(a, b) ≤ k` costs O(|a|·|b|) dynamic programming per
  * row — on a record-linkage join that is the entire runtime. But the
  * edit distance is bounded below by the length difference:
  * `|length(a) − length(b)| ≤ levenshtein(a, b)`, so the rule rewrites
  *
  * {{{ levenshtein(a, b) <= k  ⇒  abs(length(a) - length(b)) <= k
  *                                AND levenshtein(a, b) <= k }}}
  *
  * inside Filter and Join conditions. `And` short-circuits in codegen,
  * so rows outside the length band never run the DP — the textbook ER
  * "length blocking" applied automatically at plan level. (The next
  * step on this road is Spark's own 3-arg `levenshtein(a, b, k)`,
  * whose banded DP is O(k·n); the guard composes with either form.)
  *
  * Soundness: conjoining an IMPLIED predicate never changes the row
  * set. Null semantics survive too: when either side is null the guard
  * is null and `And(null, null-or-x) = null`, filtered exactly like
  * the original null predicate — and the rule only touches Filter /
  * Join conditions, where null ≡ false, never projections (where a
  * null-vs-false difference would be observable).
  *
  * Fixpoint-safe: a bound whose guard conjunct is already present is
  * left alone, so re-application is a no-op (extraOptimizations run in
  * a fixed-point batch).
  */
object GuardLevenshtein extends Rule[LogicalPlan] with PredicateHelper {

  /** levenshtein-vs-constant bounds, normalized to (lev, k, strict). */
  private object LevBound {
    def unapply(e: Expression): Option[(Levenshtein, Expression, Boolean)] =
      e match {
        case LessThanOrEqual(lev: Levenshtein, k)
            if k.foldable && k.dataType == IntegerType =>
          Some((lev, k, false))
        case GreaterThanOrEqual(k, lev: Levenshtein)
            if k.foldable && k.dataType == IntegerType =>
          Some((lev, k, false))
        case LessThan(lev: Levenshtein, k)
            if k.foldable && k.dataType == IntegerType =>
          Some((lev, k, true))
        case GreaterThan(k, lev: Levenshtein)
            if k.foldable && k.dataType == IntegerType =>
          Some((lev, k, true))
        case _ => None
      }
  }

  private def guardFor(lev: Levenshtein, k: Expression,
      strict: Boolean): Expression = {
    val diff = Abs(Subtract(Length(lev.left), Length(lev.right)))
    if (strict) LessThan(diff, k) else LessThanOrEqual(diff, k)
  }

  private def withGuards(cond: Expression): Expression = {
    val conjuncts = splitConjunctivePredicates(cond)
    val wanted = conjuncts.collect {
      case LevBound(lev, k, strict) => guardFor(lev, k, strict)
    }
    val missing = wanted.filterNot(g => conjuncts.exists(_.semanticEquals(g)))
    // guards go FIRST: And short-circuits left-to-right in codegen
    if (missing.isEmpty) cond else (missing :+ cond).reduceLeft(And)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val g = withGuards(cond)
      if (g.fastEquals(cond)) f else f.copy(condition = g)
    case j @ Join(_, _, _, Some(cond), _) =>
      val g = withGuards(cond)
      if (g.fastEquals(cond)) j else j.copy(condition = Some(g))
  }
}
