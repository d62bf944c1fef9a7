package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.MvRewrite

/** MV SERVING — the query-side half of the materialized-aggregate
  * story. [[Ivm]] maintains the stored per-status aggregate with
  * O(changes) deltas; this module REGISTERS that aggregate with
  * [[MvRewrite]] and then runs the user-shaped query — a plain
  * `groupBy(status).agg(count, sum)` against the BASE orders table —
  * through the optimizer, which substitutes the |groups|-row MV scan
  * for the fact-table shuffle (the reference's Redis segment-aggregate
  * cache, `SCALING.md:93-98`, re-expressed as a Catalyst rewrite; cf.
  * Goldstein/Larson SIGMOD 2001).
  *
  * What the GRADE proves: the rewritten plan's answer hash-matches the
  * DuckDB oracle that aggregates the base table from scratch — i.e.
  * serving from the MV is invisible to the user. What the SPEC proves:
  * the executed plan reads the MV parquet and NOT `orders.parquet`
  * (the rewrite actually fired — without that assertion this query
  * would pass trivially), and that a filtered twin is NOT rewritten.
  *
  * At 100 TB: the MV is group-granularity (here 3 rows), so the served
  * query is a catalog-sized read no matter how large the fact table
  * grows; freshness is [[Ivm]]'s delta-merge, not a re-aggregation.
  */
object MvServe extends graft.QueryModule {

  /** Once-per-(JVM, corpus) stored MV:
    * status → (n = count(1), s = sum(cast(price as dec(18,2)))). */
  private val mvDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def mvDir(spark: SparkSession, dir: String): String =
    mvDirs.computeIfAbsent(dir, { _ =>
      val d = Tables.scratchDir("graft_mv_serve_").getAbsolutePath
      Tables(spark, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("s"))
        .coalesce(1).write.mode("overwrite").parquet(d)
      d
    })

  /** Build + register the MV (idempotent). */
  private[graft] def ready(spark: SparkSession, dir: String): Unit = {
    val d = mvDir(spark, dir)
    MvRewrite.register(spark, s"$dir/orders.parquet",
      MvRewrite.Entry("o_orderstatus", "o_totalprice", 18, 2, d))
  }

  /** The user-shaped query — written against BASE orders; the rule
    * serves it from the MV ([[graft.MvRewriteSpec]] asserts the scan). */
  private[graft] def servedAggPlan(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_price"))

  /** GRADED: the served aggregate, finished to the grading surface. */
  def ordersAggMvServed(spark: SparkSession, dir: String): DataFrame = {
    ready(spark, dir)
    servedAggPlan(spark, dir)
      .select(col("o_orderstatus"), col("n_orders"),
        col("sum_price").cast("double").as("total_price"))
      .orderBy("o_orderstatus")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_agg_mv_served" -> (ordersAggMvServed(_, _)))

  /** Oracle: the from-scratch base-table aggregate — DuckDB knows
    * nothing of the MV; hash equality proves serving is invisible. */
  val oracles: Map[String, String] = Map(
    "orders_agg_mv_served" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
}
