package graft

import org.apache.spark.sql.functions._

import graft.operators.Joins
import graft.plans.JoinElim

/** FK join elimination: the unused-dimension join vanishes from the
  * plan (fact-only scan), results are join-identical, and every
  * negative arm keeps its join. */
class JoinElimSpec extends SparkSpec {

  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    df.collect()
    fileScans(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
  }

  test("unused-dim join is eliminated: only orders is scanned") {
    val df = Joins.revenueByPriorityJoinElim(spark, sf0001)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains("orders.parquet")))
    assert(!paths.exists(_.contains("customer.parquet")),
      s"customer still scanned: $paths")
  }

  test("result ≡ the actually-joined computation") {
    val got = Joins.revenueByPriorityJoinElim(spark, sf0001)
      .collect().toSeq
    // fresh session WITHOUT the rule: the join really runs
    val ss = spark.newSession()
    val o = ss.read.parquet(s"$sf0001/orders.parquet")
    val c = ss.read.parquet(s"$sf0001/customer.parquet")
    val joined = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(got == joined && got.nonEmpty)
  }

  test("a query READING a dim column keeps its join") {
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
    val c = spark.read.parquet(s"$sf0001/customer.parquet")
    val df = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    assert(scanPaths(df).exists(_.contains("customer.parquet")))
  }

  test("an unregistered dim keeps its join (supplier has no FK)") {
    val l = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val s = spark.read.parquet(s"$sf0001/supplier.parquet")
    val df = l.join(s, l("l_suppkey") === s("s_suppkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"))
    assert(scanPaths(df).exists(_.contains("supplier.parquet")))
  }

  test("distinct over a unique key is eliminated; non-unique kept") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val df = graft.operators.Aggregates.customerDistinctElim(spark, sf0001)
    val got = df.collect().toSeq
    val nAggs = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a }.size
    assert(nAggs == 1, s"expected the distinct gone, found $nAggs aggregates")
    // fresh session without the rule: the distinct really runs
    val ss = spark.newSession()
    val twin = ss.read.parquet(s"$sf0001/customer.parquet").distinct()
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("total_acctbal"))
      .orderBy("c_mktsegment").collect().toSeq
    assert(got == twin && got.nonEmpty)
    // negative: a NON-unique projection keeps its distinct aggregate
    val neg = spark.read.parquet(s"$sf0001/customer.parquet")
      .select("c_mktsegment").distinct()
    val negAggs = neg.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a }.size
    assert(negAggs == 1 && neg.count() == 5)
  }

  test("declareFk validates: a non-key column is rejected") {
    intercept[IllegalArgumentException] {
      JoinElim.declareFk(spark, s"$sf0001/orders.parquet",
        s"$sf0001/customer.parquet", "o_custkey", "c_nationkey")
    }
  }
}
