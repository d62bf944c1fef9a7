package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite, lazy),
  * with the graft functions and rules installed, as a main that calls
  * operators directly does. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.plans.Extensions.install(s)
    s
  }

  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Every FileSourceScanExec in an EXECUTED plan, descending through
    * the AQE wrappers that hide their subtrees from TreeNode.collect
    * (AdaptiveSparkPlanExec holds the final plan as a field;
    * QueryStageExec wraps its stage plan as a val, with no children). */
  protected def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fileScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      fileScans(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      fileScans(r.child)
    case other => other.children.flatMap(fileScans)
  }
}
