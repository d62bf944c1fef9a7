package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ScalarFns
import graft.sources.Substrate

/** REVENUE CONCENTRATION — Lorenz-curve deciles and the Gini
  * coefficient over per-customer spend: "what share of revenue do the
  * top 10 % of customers hold", the inequality rollup behind every
  * whale-segmentation decision. The reference segments by a spend
  * THRESHOLD (`tools.py:60-72`, min_spent); concentration analysis is
  * the distribution-level view that tells you where such thresholds
  * bite.
  *
  * Both queries need a GLOBAL RANK of customers by spend — the classic
  * single-reducer trap (`row_number()` over an unpartitioned window
  * sorts the world on one task). Here the rank is the two-phase
  * decomposition the repo already uses for prefix sums
  * ([[Packing.positioned]]) and prefix maxima ([[Skyline]]):
  * value-range-bucket each customer on spend (bounds from a broadcast
  * 1-row aggregate; binning is monotonic, so a bucket's customers all
  * rank after every earlier bucket's), rank WITHIN buckets in
  * parallel, then add broadcast per-bucket count offsets — a
  * catalog-sized (B-row) window is the only sequential step. The
  * DuckDB oracle uses the naive single `row_number()` window, so the
  * hash match proves the distributed rank EXACT, including ties
  * (broken by custkey inside one bucket — equal spends can never
  * straddle a bucket boundary).
  *
  * Arithmetic: spend sums ride decimal(18,2)→wide exactly; every
  * double is produced from an exact decimal at the same point in both
  * engines, and displayed ratios go through the
  * [[ScalarFns.roundN]]/`roundSql` pair. Σ rank·spend stays within
  * decimal(38,2) while n·max_spend < 10³⁶ — far beyond any real
  * corpus. Deciles are integer arithmetic on (rank−1)·10 div n.
  */
object Concentration extends graft.QueryModule {

  /** Spend-range fan-out (16 here; hundreds at 100 TB). */
  private val Buckets = 16

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  // The ranked frame serves from scratch parquet, built ONCE per
  // (JVM, corpus): `spend_deciles` and `spend_gini` each consume it —
  // with the r7c lazy+persist form every battery run pinned two cached
  // copies per scale factor for the session lifetime (r7 ADVICE). The
  // eager write is the final action consuming the persisted bucket
  // frame, so its blocks are released right after — the GraphOps
  // serve-from-scratch discipline: rebuildable file-scan lineage,
  // zero pinned blocks.
  /** Per-customer spend with exact global rank (two-phase). */
  private[graft] def rankedSpend(spark: SparkSession, dir: String): DataFrame = {
    val path = Substrate.dir("graft_ranked_spend_", dir) { out =>
      val spend = Tables(spark, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(dec(col("o_totalprice"))).as("spend"))
      val bounds = spend.agg(min(col("spend")).as("lo"),
        max(col("spend")).as("hi"))
      // b feeds both the in-bucket ranking and the bucket-count
      // offsets — persisted so the orders scan and spend aggregation
      // run once, released by the finally once the write lands
      val b = spend.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          least(lit(Buckets - 1), greatest(lit(0),
            floor((col("spend") - col("lo")).cast("double") /
              ((col("hi") - col("lo")).cast("double") / Buckets + lit(1e-6)))
              .cast("int"))))
        .drop("lo", "hi")
        .persist()
      try {
        val wIn = Window.partitionBy(col("bucket"))
          .orderBy(col("spend"), col("o_custkey"))
        val local = b.withColumn("lrank", row_number().over(wIn))
        val wOff = Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = b.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
          .withColumn("offset", coalesce(sum(col("bn")).over(wOff), lit(0L)))
          .select(col("bucket").as("obucket"), col("offset"))
        local.join(broadcast(offs), col("bucket") === col("obucket"))
          .select(col("o_custkey"), col("spend"),
            (col("offset") + col("lrank")).as("rnk"))
          .write.mode("overwrite").parquet(out)
      } finally { b.unpersist(blocking = false); () }
    }
    spark.read.parquet(path)
  }

  /** GRADED: Lorenz deciles — customers ranked by spend ascending,
    * split into tenths by rank; per decile: headcount, revenue, share
    * and cumulative share of total revenue. */
  def spendDeciles(spark: SparkSession, dir: String): DataFrame = {
    val r = rankedSpend(spark, dir)
    val n = r.agg(count(lit(1)).as("n"),
      sum(col("spend")).as("grand"))
    val d = r.crossJoin(broadcast(n))
      // integer floor division (Spark `/` on longs is double division)
      .withColumn("decile", expr("(rnk - 1) * 10 div n"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).as("dspend"),
        // grand is the same broadcast scalar on every row of a group —
        // first() is deterministic here (any_value in the oracle)
        first(col("grand")).as("grand"))
    val wc = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cspend", sum(col("dspend")).over(wc))
      .select(col("decile"), col("n_customers"),
        col("dspend").cast("double").as("total_spend"),
        ScalarFns.roundN(col("dspend").cast("double") * 100.0 /
          col("grand").cast("double"), 4).as("pct_of_total"),
        ScalarFns.roundN(col("cspend").cast("double") * 100.0 /
          col("grand").cast("double"), 4).as("cum_pct"))
      .orderBy(col("decile"))
  }

  /** GRADED: Gini coefficient from the exact ranked sums —
    * G = 2·Σ(r·x) / (n·Σx) − (n+1)/n, x ascending. */
  def spendGini(spark: SparkSession, dir: String): DataFrame =
    rankedSpend(spark, dir)
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).as("sx"),
        sum(col("rnk").cast("decimal(20,0)") * col("spend")).as("srx"))
      .select(col("n_customers"),
        col("sx").cast("double").as("total_spend"),
        ScalarFns.roundN(
          lit(2.0) * col("srx").cast("double") /
            (col("n_customers") * col("sx").cast("double")) -
            (col("n_customers") + lit(1.0)) / col("n_customers"), 6)
          .as("gini"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "spend_deciles" -> (spendDeciles(_, _)),
    "spend_gini" -> (spendGini(_, _)))

  /** Naive single-window ground truth — the hash match proves the
    * two-phase distributed rank exact, ties included. */
  private val rankedCte: String =
    """sp AS (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT o_custkey, spend,
      |    row_number() OVER (ORDER BY spend, o_custkey) AS rnk
      |  FROM sp),
      |n AS (SELECT count(*) AS n, sum(spend) AS grand FROM r)""".stripMargin

  val oracles: Map[String, String] = Map(
    "spend_deciles" ->
      s"""WITH $rankedCte,
         |d AS (
         |  SELECT (r.rnk - 1) * 10 // n.n AS decile,
         |    count(*) AS n_customers, sum(r.spend) AS dspend,
         |    any_value(n.grand) AS grand
         |  FROM r, n GROUP BY 1),
         |c AS (
         |  SELECT decile, n_customers, dspend, grand,
         |    sum(dspend) OVER (ORDER BY decile
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cspend
         |  FROM d)
         |SELECT decile, n_customers,
         |  CAST(dspend AS DOUBLE) AS total_spend,
         |  ${ScalarFns.roundSql(
            "CAST(dspend AS DOUBLE) * 100.0 / CAST(grand AS DOUBLE)", 4)}
         |    AS pct_of_total,
         |  ${ScalarFns.roundSql(
            "CAST(cspend AS DOUBLE) * 100.0 / CAST(grand AS DOUBLE)", 4)}
         |    AS cum_pct
         |FROM c ORDER BY decile""".stripMargin,
    "spend_gini" ->
      s"""WITH $rankedCte,
         |s AS (
         |  SELECT count(*) AS n_customers, sum(spend) AS sx,
         |    sum(CAST(rnk AS DECIMAL(20,0)) * spend) AS srx
         |  FROM r)
         |SELECT n_customers, CAST(sx AS DOUBLE) AS total_spend,
         |  ${ScalarFns.roundSql(
            "2.0 * CAST(srx AS DOUBLE) / (n_customers * CAST(sx AS DOUBLE))" +
              " - (n_customers + 1.0) / n_customers", 6)} AS gini
         |FROM s""".stripMargin)
}
