package graft.plans

import scala.reflect.ClassTag
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.IntegerType

/** The ONE per-session installer for the graft Catalyst tier (U2, the
  * SNIPPETS.md [2] `SqlStrategy.setup` idiom): every custom SQL
  * function is named once in [[functions]], every optimizer rule in
  * [[rules]], every planner strategy in [[strategies]].
  *
  * Where it runs, so a query's plan never depends on which queries ran
  * before it in the JVM:
  *  - `SparkEntry` installs into the caller's session on every query
  *    call, and the mains that call operators directly install once;
  *  - every derived session in the library comes from [[newSession]],
  *    which installs before applying the caller's confs;
  *  - `foreachBatch` frames live in `cloneSession()` copies of an
  *    installed session, which carry its registry and experimental
  *    methods with them.
  *
  * The rules are no-ops until data declares something to them
  * (`JoinElim.declareFk`, `DistinctElim.declareUnique`,
  * `MvRewrite.register`) or, for [[GuardLevenshtein]] and
  * [[MetadataCount]], rewrite to a plan with the same result. */
object Extensions {

  /** One SQL function: its name, the expression class it builds (for
    * `DESCRIBE FUNCTION`), and a builder that checks the argument count. */
  final case class Fn(name: String, cls: Class[_],
      build: Seq[Expression] => Expression) {
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
  }

  private def fn[T <: Expression](name: String, arity: Int)(
      build: Seq[Expression] => T)(implicit ct: ClassTag[T]): Fn =
    Fn(name, ct.runtimeClass, { exprs =>
      require(exprs.length == arity,
        s"$name takes $arity argument(s), got ${exprs.length}")
      build(exprs)
    })

  /** A plan-time constant argument (gram width, sketch shape). */
  private def literal(e: Expression, name: String, what: String): Any = {
    require(e.foldable, s"$name: $what must be a literal")
    e.eval(InternalRow.empty)
  }

  private def width(e: Expression, name: String): Int =
    literal(e, name, "n").asInstanceOf[Number].intValue()

  val functions: Seq[Fn] = Seq(
    fn("cosine_sim", 2)(e => CosineSim(e(0), e(1))),
    fn("sq_dist_slice", 5)(e => SqDistSlice(e(0), e(1), e(2), e(3), e(4))),
    fn("word_grams", 2)(e => WordGrams(e(0), width(e(1), "word_grams"))),
    fn("word_grams_pos", 2)(e =>
      WordGrams(e(0), width(e(1), "word_grams_pos"), withPosition = true)),
    fn("char_grams", 2)(e => CharGrams(e(0), width(e(1), "char_grams"))),
    fn("dedup_signature", 1)(e => DedupSignature(e(0))),
    fn("hll_sketch", 1)(e => HllSketch(e(0))),
    fn("hll_state", 1)(e => HllState(e(0))),
    fn("hll_merge", 1)(e => HllMerge(e(0))),
    fn("kmv_sketch", 1)(e => KmvSketch(e(0))),
    fn("kmv_state", 1)(e => KmvState(e(0))),
    fn("kmv_merge", 1)(e => KmvMerge(e(0))),
    fn("kmv_ops", 2)(e => KmvSetOps(e(0), e(1))),
    fn("cms_sketch", 1)(e => CmsSketch(e(0))),
    fn("hist_sketch", 4)(e => HistSketch(e(0),
      literal(e(1), "hist_sketch", "lo").asInstanceOf[Double],
      literal(e(2), "hist_sketch", "hi").asInstanceOf[Double],
      literal(e(3), "hist_sketch", "bins").asInstanceOf[Int])),
    fn("bloom_sketch", 1)(e => BloomSketch(e(0))),
    fn("bitmap_distinct", 1)(e => BitmapDistinct(e(0))),
    fn("bitmap_state", 1)(e => BitmapState(e(0))),
    fn("bitmap_merge_count", 1)(e => BitmapMergeCount(e(0))),
    fn("bitmap_card", 1)(e => BitmapCount(e(0))),
    fn("bitmap_and_count", 2)(e => BitmapAndCount(e(0), e(1))),
    fn("bitmap_andnot_count", 2)(e => BitmapAndNotCount(e(0), e(1))),
    fn("top_k_by", 3) { e =>
      val k = e(2) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"top_k_by k must be a literal INT, got $other")
      }
      require(k > 0, "top_k_by k must be positive")
      TopKAgg(e(0), e(1), k)
    })

  val rules: Seq[Rule[LogicalPlan]] =
    Seq(GuardLevenshtein, JoinElim, DistinctElim, MetadataCount, MvRewrite)

  val strategies: Seq[SparkStrategy] = Seq(AsOfJoinStrategy)

  /** Install every function, rule and strategy into `spark`. Idempotent:
    * names already registered (including Spark built-ins) are left as
    * they are, and a rule or strategy already present is not added
    * again. One lock, so concurrent callers never lose an update of
    * `experimental`'s read-modify-write lists. */
  def install(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!reg.functionExists(id)) reg.registerFunction(id, f.info, f.build)
    }
    val x = spark.experimental
    val newRules = rules.filterNot(x.extraOptimizations.contains)
    if (newRules.nonEmpty) x.extraOptimizations ++= newRules
    val newStrategies = strategies.filterNot(x.extraStrategies.contains)
    if (newStrategies.nonEmpty) x.extraStrategies ++= newStrategies
  }

  /** A new session of `parent`'s SparkContext (own SQLConf, temp views
    * and function registry), installed, with `confs` applied. The only
    * way the library derives a session. */
  def newSession(parent: SparkSession,
      confs: (String, String)*): SparkSession = {
    val ss = parent.newSession()
    install(ss)
    confs.foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }
}

/** SparkSessionExtensions entry point:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions` wires the same
  * table into every session of a builder, plus [[FuseCosineHof]], which
  * is only offered on this path. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    Extensions.functions.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name), f.info, f.build))
    }
    (Extensions.rules :+ FuseCosineHof).foreach(r => e.injectOptimizerRule(_ => r))
    Extensions.strategies.foreach(s => e.injectPlannerStrategy(_ => s))
  }
}
