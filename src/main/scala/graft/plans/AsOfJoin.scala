package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF JOIN — the whole-operator custom-plan tier (SURVEY.md §7.3,
  * preference order (c): LogicalPlan + Strategy + SparkPlan), for an
  * operator Spark's Dataset API genuinely lacks: for every left row,
  * attach the single latest right row with `rightTime <= leftTime` for
  * the same key (the reference's "most recent purchase state at event
  * time" recency semantics, `SCALING.md:27`, generalized).
  *
  * Physical strategy: both sides hash-partition on the key (pinned
  * partition count so the zipped partitions stay aligned under AQE) and
  * sort within partitions by (key, time). A single forward merge pass
  * then resolves every left row with one buffered right cursor —
  * O(n+m) per partition, no state beyond ONE buffered row per side, no
  * window materialization. This is the 100 TB shape: shuffle once,
  * stream the merge.
  *
  * Requirements: key expressions must be LongType, time expressions
  * TimestampType/LongType (compared as their internal long encoding).
  * Output = left columns ++ right columns (right side nullable — left
  * outer semantics).
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    forward: Boolean = false, toleranceMicros: Long = -1L) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, fwd, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, fwd, tol) :: Nil
    case _ => Nil
  }
}

/** Merge directions (pandas `merge_asof` surface):
  *  - backward (default): latest right with rightTime <= leftTime;
  *  - forward: earliest right with rightTime >= leftTime.
  * `toleranceMicros >= 0` additionally bounds |leftTime − matchTime|
  * (units = the time type's internal encoding: µs for TimestampType).
  * Both directions remain a single forward pass per partition: the
  * right cursor only ever advances, because under (key, time asc)
  * ordering a discarded right row can never match a later left row. */
case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    forward: Boolean = false, toleranceMicros: Long = -1L) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // Pin the partition count: EnsureRequirements then gives both children
  // identical hash partitioning and AQE cannot coalesce them apart.
  private def parts: Int = conf.numShufflePartitions
  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(leftKey :: Nil, requiredNumPartitions = Some(parts)),
    ClusteredDistribution(rightKey :: Nil, requiredNumPartitions = Some(parts)))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTime, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTime, right.output)
    val rightSchema = right.output
    val allOutput = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(allOutput, allOutput)
      val joined = new JoinedRow
      val nullRight = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(rightSchema.length)
      val rBuf = rIter.buffered
      val tol = toleranceMicros

      if (!forward) {
        var lastMatch: InternalRow = null
        var lastMatchKey: Long = 0L
        var lastMatchTime: Long = 0L

        lIter.map { l =>
          val lKeyV = lk.eval(l)
          if (lKeyV == null) {
            proj(joined(l, nullRight))
          } else {
            val lKey = lKeyV.asInstanceOf[Long]
            val lTimeV = lt.eval(l)
            val lTime = if (lTimeV == null) Long.MinValue
                        else lTimeV.asInstanceOf[Long]
            if (lastMatch != null && lastMatchKey != lKey) lastMatch = null
            var continue = true
            while (continue && rBuf.hasNext) {
              val head = rBuf.head
              val rKeyV = rk.eval(head)
              if (rKeyV == null) { rBuf.next() } // un-keyed right rows: skip
              else {
                val rKey = rKeyV.asInstanceOf[Long]
                if (rKey < lKey) rBuf.next()
                else if (rKey == lKey) {
                  val rTimeV = rt.eval(head)
                  if (rTimeV == null) rBuf.next() // un-timed: skip
                  else if (rTimeV.asInstanceOf[Long] <= lTime) {
                    lastMatch = rBuf.next().copy()
                    lastMatchKey = rKey
                    lastMatchTime = rTimeV.asInstanceOf[Long]
                  } else continue = false
                } else continue = false
              }
            }
            val within = lastMatch != null &&
              (tol < 0L || lTime - lastMatchTime <= tol)
            proj(joined(l, if (within) lastMatch else nullRight))
          }
        }
      } else {
        lIter.map { l =>
          val lKeyV = lk.eval(l)
          val lTimeV = if (lKeyV == null) null else lt.eval(l)
          if (lKeyV == null || lTimeV == null) {
            proj(joined(l, nullRight))
          } else {
            val lKey = lKeyV.asInstanceOf[Long]
            val lTime = lTimeV.asInstanceOf[Long]
            // advance past rights that can no longer match any left row:
            // smaller key, or same key strictly before this (ascending)
            // left time
            var continue = true
            while (continue && rBuf.hasNext) {
              val head = rBuf.head
              val rKeyV = rk.eval(head)
              if (rKeyV == null) { rBuf.next() }
              else {
                val rKey = rKeyV.asInstanceOf[Long]
                if (rKey < lKey) rBuf.next()
                else if (rKey == lKey) {
                  val rTimeV = rt.eval(head)
                  if (rTimeV == null) rBuf.next()
                  else if (rTimeV.asInstanceOf[Long] < lTime) rBuf.next()
                  else continue = false
                } else continue = false
              }
            }
            // head (not consumed — it may also match later lefts) is the
            // earliest right at/after lTime for this key, if keys agree
            var m: InternalRow = null
            if (rBuf.hasNext) {
              val head = rBuf.head
              val rKeyV = rk.eval(head)
              if (rKeyV != null && rKeyV.asInstanceOf[Long] == lKey) {
                val rTime = rt.eval(head).asInstanceOf[Long]
                if (tol < 0L || rTime - lTime <= tol) m = head
              }
            }
            proj(joined(l, if (m != null) m else nullRight))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** User-facing API. */
object AsOf {
  /** `left ASOF LEFT JOIN right ON leftKey = rightKey AND
    * rightTime <= leftTime` (latest match wins). With
    * `forward = true`: `rightTime >= leftTime`, earliest match wins.
    * `tolerance` (if set) bounds the match's time distance — the
    * pandas `merge_asof(direction=…, tolerance=…)` surface. Plans in
    * sessions [[Extensions.install]] has reached (it adds
    * [[AsOfJoinStrategy]]). */
  def join(leftDf: DataFrame, rightDf: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column,
      forward: Boolean = false,
      tolerance: Option[java.time.Duration] = None): DataFrame = {
    val spark = leftDf.sparkSession
    // Self-join guard: AsOfJoinPlan is injected post-analysis, so the
    // analyzer's DeduplicateRelations never runs on it. Shared ExprIds
    // between the two sides would make the output projection silently
    // bind right-side columns to left-side ordinals — refuse loudly
    // instead of returning wrong data.
    val leftIds = leftDf.queryExecution.analyzed.outputSet
    val overlap = rightDf.queryExecution.analyzed.output.filter(leftIds.contains)
    require(overlap.isEmpty,
      s"AsOf.join: left and right share attributes ${overlap.mkString(", ")} — " +
        "self as-of joins need an independent second scan of the table " +
        "(re-read it via Tables/spark.read) rather than the same DataFrame.")
    // tolerance is converted to MICROSECONDS below, which is only the
    // right unit for TimestampType's internal encoding. Raw Long time
    // columns (e.g. epoch SECONDS) would make the bound silently off by
    // 1e6 — reject at plan time instead (advice r2).
    if (tolerance.isDefined) {
      def tsType(c: Column, side: String): Unit = {
        val dt = GraftSqlBridge.expr(c).dataType
        require(dt == org.apache.spark.sql.types.TimestampType ||
            dt == org.apache.spark.sql.types.TimestampNTZType,
          s"AsOf.join: tolerance requires timestamp time columns (both " +
            s"encode MICROSECONDS internally), but the $side time column is " +
            s"${dt.simpleString} — convert explicitly (e.g. " +
            "timestamp_seconds/timestamp_micros) or drop the tolerance.")
      }
      tsType(leftTime, "left"); tsType(rightTime, "right")
    }
    GraftSqlBridge.ofRows(spark, AsOfJoinPlan(
      leftDf.queryExecution.analyzed, rightDf.queryExecution.analyzed,
      GraftSqlBridge.expr(leftKey), GraftSqlBridge.expr(rightKey),
      GraftSqlBridge.expr(leftTime), GraftSqlBridge.expr(rightTime),
      forward,
      tolerance.map(d => d.toNanos / 1000L).getOrElse(-1L)))
  }
}
