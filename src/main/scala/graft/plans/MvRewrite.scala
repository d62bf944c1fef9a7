package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DecimalType

/** TRANSPARENT MATERIALIZED-VIEW REWRITE — "aggregate navigation": a
  * query written against the BASE fact table is answered from the
  * stored group-granularity aggregate when one is registered for that
  * table (Goldstein/Larson, "Optimizing Queries Using Materialized
  * Views", SIGMOD 2001; the move Calcite's MaterializedViewRule and
  * every serving-layer OLAP engine make). The reference caches segment
  * aggregates in Redis with a 300 s TTL (`SCALING.md:93-98`) and asks
  * every API hit to go through that cache — this rule is the
  * engine-native form: the USER still writes `orders.groupBy(status)
  * .agg(count, sum)`; the optimizer substitutes the |groups|-row MV
  * scan for the full fact scan. At 100 TB the rewrite turns a
  * table-wide shuffle into a catalog-sized read, and [[graft.operators.Ivm]]'s
  * delta maintenance is what keeps the MV it serves exact between
  * refreshes — maintenance and serving are the two halves of the same
  * contract.
  *
  * Soundness contract (the caller's obligation at [[register]] time):
  * the MV at `mvPath` holds EXACTLY
  * `SELECT g, count(1) n, sum(cast(m AS decimal(p,s))) s FROM base GROUP BY g`
  * for an immutable-during-serving base. The rule itself only fires on
  * plans whose semantics are that exact aggregate:
  *
  *  - the aggregate's child must be the registered base relation (bare
  *    or under a pure-attribute Project — a Filter, join, or computed
  *    projection underneath BLOCKS the rewrite, [[MvRewriteSpec]]
  *    asserts the negative);
  *  - the single grouping key must be the registered group column;
  *  - every output must be the grouping key, `count(1)`/`count(*)`
  *    (no DISTINCT, no FILTER clause), or `sum` over the registered
  *    measure under the registered decimal cast.
  *
  * The substituted plan is a Project over the MV scan whose aliases
  * carry the ORIGINAL output exprIds (and a [[KnownNotNull]] on the
  * count, whose aggregate output was non-nullable), so every parent
  * reference resolves unchanged — the standard exprId-grafting move
  * for optimizer-time plan substitution.
  *
  * Installed by [[Extensions.install]] into
  * `experimental.extraOptimizations`; the rewritten plan contains no
  * Aggregate, so re-application is a no-op.
  */
object MvRewrite extends Rule[LogicalPlan] {

  /** A registered MV: serve `Aggregate(groupCol)[count(1),
    * sum(cast(measureCol as decimal(prec,scale)))]` over the keyed base
    * paths from the parquet at `mvPath` (columns: groupCol, n, s). */
  final case class Entry(groupCol: String, measureCol: String,
      prec: Int, scale: Int, mvPath: String)

  /** Keyed by the base relation's qualified root-path set. */
  private val registry = new ConcurrentHashMap[Set[String], Entry]()

  def register(spark: SparkSession, basePath: String, e: Entry): Unit = {
    val key = scanned(spark.read.parquet(basePath).queryExecution.analyzed)
      .getOrElse(Set(basePath))
    registry.put(key, e); ()
  }

  /** The qualified root paths of a bare (or pure-Project-wrapped)
    * file-source relation; None for any other child shape — which is
    * precisely what blocks rewriting filtered/derived aggregates. */
  private def scanned(p: LogicalPlan): Option[Set[String]] = p match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation =>
        Some(h.location.rootPaths.map(_.toString).toSet)
      case _ => None
    }
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      scanned(child)
    case _ => None
  }

  private sealed trait Served
  private case object GroupRef extends Served
  private case object CountStar extends Served
  private case object SumMeasure extends Served

  /** An AggregateExpression, bare or under one numeric Cast. */
  private object AggOrCast {
    def unapply(e: Expression): Option[AggregateExpression] = e match {
      case ae: AggregateExpression => Some(ae)
      case Cast(ae: AggregateExpression, _, _, _) => Some(ae)
      case _ => None
    }
  }

  /** Classify one aggregate output against the registered shape. A
    * top-level Cast (the optimizer collapses the user's finishing
    * Project into the Aggregate) is transparent here — [[serve]]
    * re-applies it by casting the MV column to the output's type. */
  private def classify(ne: NamedExpression, g: AttributeReference,
      e: Entry): Option[Served] = ne match {
    case a: AttributeReference if a.exprId == g.exprId => Some(GroupRef)
    case Alias(a: AttributeReference, _) if a.exprId == g.exprId =>
      Some(GroupRef)
    case Alias(AggOrCast(ae), _)
        if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(Literal(v, _))) if v == 1 => Some(CountStar)
        case Count(Seq()) => Some(CountStar)
        case s: Sum => s.child match {
          case Cast(m: AttributeReference, dt: DecimalType, _, _)
              if m.name == e.measureCol &&
                dt.precision == e.prec && dt.scale == e.scale =>
            Some(SumMeasure)
          case _ => None
        }
        case _ => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty) return plan
    plan.transformUp {
      case agg @ Aggregate(Seq(g: AttributeReference), aes, child, _) =>
        val hit = for {
          paths <- scanned(child)
          e <- Option(registry.get(paths))
          if g.name == e.groupCol
          kinds <- Some(aes.map(classify(_, g, e)))
          if kinds.forall(_.isDefined)
        } yield serve(aes, kinds.flatten, e)
        hit.getOrElse(agg)
    }
  }

  /** Build the substitute: Project(orig-exprId aliases, mv scan). */
  private def serve(aes: Seq[NamedExpression], kinds: Seq[Served],
      e: Entry): LogicalPlan = {
    val mv = SparkSession.active.read.parquet(e.mvPath)
      .queryExecution.analyzed
    val byName = mv.output.map(a => a.name -> a).toMap
    val projections = aes.zip(kinds).map { case (ne, kind) =>
      val raw: Expression = kind match {
        case GroupRef => byName(e.groupCol)
        case CountStar => KnownNotNull(byName("n"))
        case SumMeasure => byName("s")
      }
      val src =
        if (raw.dataType == ne.dataType) raw else Cast(raw, ne.dataType)
      Alias(src, ne.name)(exprId = ne.exprId)
    }
    Project(projections, mv)
  }
}
