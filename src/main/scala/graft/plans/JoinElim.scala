package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, NamedExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** FOREIGN-KEY JOIN ELIMINATION — the informational-constraint
  * optimization every mature warehouse runs (and Spark cannot, for
  * lack of declared constraints): an INNER join fact ⋈ dim on a
  * VALIDATED foreign key is a no-op when nothing above the join reads
  * a dim column — each fact row matches exactly one dim row (FK
  * values all present in dim, dim key unique, FK non-null), so the
  * join neither drops nor duplicates, and the rule deletes it. BI
  * tools emit exactly this shape constantly (a view joins every
  * dimension; most queries read one), which is why PK-FK join
  * elimination is table stakes in commercial optimizers.
  *
  * Soundness is NOT assumed — [[declareFk]] VALIDATES the constraint
  * on the actual data before registering (zero orphan FKs, zero null
  * FKs, dim key unique: one aggregate pass each), and the rule fires
  * only on registered (fact, dim, fk, pk) path quadruples with the
  * dim side a bare/pure-Project file relation and every projected
  * output drawn from the fact side. [[graft.JoinElimSpec]] asserts
  * the executed plan scans ONLY the fact table, the negative arms
  * (dim column referenced / unregistered dim) keep their joins, and
  * the DuckDB oracle RUNS the join — hash equality proves elimination
  * invisible.
  *
  * At 100 TB this deletes a fact-sized shuffle (or at best a
  * broadcast probe pass) from every dashboard query that joins an
  * unused dimension; with [[MvRewrite]] it forms the serving pair:
  * don't read what a constraint proves redundant, don't aggregate
  * what a view already holds.
  */
object JoinElim extends Rule[LogicalPlan] {

  /** A validated FK: fact.fkCol → dim.pkCol, keyed by path sets. */
  final case class Fk(factPaths: Set[String], dimPaths: Set[String],
      fkCol: String, pkCol: String)

  private val registry = new ConcurrentHashMap[(Set[String], Set[String]), Fk]()

  /** Validate on data, then register (idempotent per path pair).
    * Throws if the constraint does not actually hold. */
  def declareFk(spark: SparkSession, factPath: String, dimPath: String,
      fkCol: String, pkCol: String): Unit = {
    import org.apache.spark.sql.functions._
    val memoKey = (rootPaths(spark, factPath), rootPaths(spark, dimPath))
    val existing = registry.get(memoKey)
    if (existing != null && existing.fkCol == fkCol &&
      existing.pkCol == pkCol) return // already validated this pair
    val fact = spark.read.parquet(factPath)
    val dim = spark.read.parquet(dimPath)
    val nullFks = fact.filter(col(fkCol).isNull).count()
    require(nullFks == 0, s"FK $fkCol has $nullFks nulls — not a valid FK")
    val dupPks = dim.groupBy(col(pkCol)).count()
      .filter(col("count") > 1).count()
    require(dupPks == 0, s"PK $pkCol has $dupPks duplicated keys")
    val orphans = fact.select(col(fkCol))
      .join(dim.select(col(pkCol).as(fkCol)), Seq(fkCol), "left_anti")
      .count()
    require(orphans == 0, s"FK $fkCol has $orphans orphan values")
    registry.put(memoKey, Fk(memoKey._1, memoKey._2, fkCol, pkCol)); ()
  }

  private def rootPaths(spark: SparkSession, path: String): Set[String] =
    scanned(spark.read.parquet(path).queryExecution.analyzed)
      .getOrElse(Set(path))

  /** Qualified root paths of a bare / pure-Project file relation. */
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

  /** LOOSE descent for the FACT side — its subtree is KEPT verbatim,
    * so any Filter/Project stack is fine; we only need the relation's
    * identity (the optimizer's inferred `isnotnull(join key)` filter
    * sits here in every real plan). */
  private def scannedLoose(p: LogicalPlan): Option[Set[String]] = p match {
    case org.apache.spark.sql.catalyst.plans.logical.Filter(_, child) =>
      scannedLoose(child)
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      scannedLoose(child)
    case other => scanned(other)
  }

  /** STRICT descent for the DIM side — its subtree is DROPPED, so the
    * only row-filtering allowed is `IsNotNull` on the PK itself (the
    * optimizer-inferred join-key filter; the validated FK guarantees
    * it drops nothing). Anything else could change the join's result
    * and blocks elimination. */
  private def dimScanned(p: LogicalPlan, pk: AttributeReference)
      : Option[Set[String]] = p match {
    case org.apache.spark.sql.catalyst.plans.logical.Filter(
        org.apache.spark.sql.catalyst.expressions.IsNotNull(
          a: AttributeReference), child) if a.exprId == pk.exprId =>
      dimScanned(child, pk)
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      dimScanned(child, pk)
    case l: LogicalRelation => scanned(l)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty) return plan
    plan.transformUp {
      case p @ Project(pl,
          Join(l, r, Inner, Some(EqualTo(a: AttributeReference,
            b: AttributeReference)), _)) =>
        tryElim(p, pl, l, r, a, b)
          .orElse(tryElim(p, pl, r, l, b, a))
          .getOrElse(p)
    }
  }

  /** Eliminate when `dim` matches a registered quadruple, the join is
    * on (fact.fk = dim.pk), and the projection reads only fact. */
  private def tryElim(orig: Project, pl: Seq[NamedExpression],
      fact: LogicalPlan, dim: LogicalPlan,
      fk: AttributeReference, pk: AttributeReference): Option[LogicalPlan] =
    for {
      fp <- scannedLoose(fact)
      dp <- dimScanned(dim, pk)
      e <- Option(registry.get((fp, dp)))
      if fk.name == e.fkCol && pk.name == e.pkCol
      if fact.outputSet.contains(fk) && dim.outputSet.contains(pk)
      if pl.forall(_.references.subsetOf(fact.outputSet))
    } yield Project(pl, fact)

  private[plans] def loosePaths(p: LogicalPlan): Option[Set[String]] =
    scannedLoose(p)
}

/** DISTINCT ELIMINATION over a validated-unique key — the second
  * informational-constraint rule beside [[JoinElim]]: `distinct()` is
  * planned as an Aggregate grouping on EVERY output column; when one
  * of those columns is a declared-and-validated UNIQUE key of the
  * underlying relation, whole rows are already unique and the
  * aggregate (one full shuffle of the table) is a no-op — deleted.
  * BI/view stacks layer `SELECT DISTINCT` defensively over dimension
  * tables constantly; this is the optimizer move that makes the habit
  * free. [[JoinElim.declareUnique]]-style validation runs on the
  * actual data ([[DistinctElim.declareUnique]]); the negative arm (a
  * distinct over a NON-unique projection) keeps its aggregate
  * ([[graft.JoinElimSpec]]).
  */
object DistinctElim extends Rule[LogicalPlan] {

  private val registry = new ConcurrentHashMap[Set[String], String]()

  /** Validate uniqueness on data, then register (idempotent). */
  def declareUnique(spark: SparkSession, path: String, col0: String): Unit = {
    import org.apache.spark.sql.functions._
    val key = JoinElim.loosePaths(
      spark.read.parquet(path).queryExecution.analyzed).getOrElse(Set(path))
    if (registry.get(key) == col0) return
    val dups = spark.read.parquet(path).groupBy(col(col0)).count()
      .filter(col("count") > 1).count()
    require(dups == 0, s"$col0 has $dups duplicated values — not unique")
    registry.put(key, col0); ()
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty) return plan
    plan.transformUp {
      case agg @ org.apache.spark.sql.catalyst.plans.logical.Aggregate(
          ge, ae, child, _)
          // a DISTINCT shape: pure-attribute grouping, outputs a pure-
          // attribute SUBSET of the grouping (column pruning trims the
          // output list but may not trim grouping columns)
          if ge.nonEmpty &&
            ge.forall(_.isInstanceOf[AttributeReference]) &&
            ae.forall(_.isInstanceOf[AttributeReference]) &&
            ae.map(_.asInstanceOf[AttributeReference].exprId).toSet
              .subsetOf(
                ge.map(_.asInstanceOf[AttributeReference].exprId).toSet) =>
        val hit = for {
          paths <- JoinElim.loosePaths(child)
          uniqueCol <- Option(registry.get(paths))
          if ge.exists(_.asInstanceOf[AttributeReference].name == uniqueCol)
          if ae.forall(a =>
            child.outputSet.contains(a.asInstanceOf[AttributeReference]))
          // Project preserves the aggregate's exact output order (the
          // attrs are the child's own, so this collapses into the scan)
        } yield Project(ae, child)
        hit.getOrElse(agg)
    }
  }
}
