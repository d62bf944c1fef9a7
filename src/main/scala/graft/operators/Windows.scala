package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Window functions (SURVEY.md §2.5). W1 (latest-per-key) lives in
  * Joins.latestOrderPerCustomer; here: the ranking/analytic set (W3)
  * and the sliding-window rate limit (W2, `SCALING.md:109-118`).
  *
  * Scale notes: both windows partition by a key (custkey / user_id), so
  * the physical plan is one shuffle on the partition key then a
  * per-partition sort — no global ordering anywhere. The trailing-hour
  * frame is a RANGE frame over epoch-millis, which Spark evaluates with
  * a sliding two-pointer over the sorted partition (O(n) per key).
  */
object Windows extends graft.QueryModule {

  /** W3: rank by spend and lag/lead over time per customer. All window
    * orderings carry a unique tiebreaker (o_orderkey) — deterministic
    * under any partitioning (SURVEY.md §7.4). */
  def rankLagOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val bySpend = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val byTime = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        rank().over(bySpend).cast("bigint").as("spend_rank"),
        lag("o_totalprice", 1).over(byTime).as("prev_price"),
        lead("o_totalprice", 1).over(byTime).as("next_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** W2/A5: sliding-window rate limit — events per user in the trailing
    * hour; rows at/over the limit are the "reject" set. Batch analog of
    * the reference's Redis sliding window (20 req/h, `SCALING.md:110`).
    */
  def slidingRateLimit(spark: SparkSession, dir: String, limit: Int = 2): DataFrame = {
    val e = Tables(spark, dir, "events")
    val w = Window.partitionBy("user_id").orderBy("ts_ms")
      .rangeBetween(-3600000L, 0L)
    e.withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("n_last_hour", count(lit(1)).over(w))
      .filter(col("n_last_hour") >= limit)
      .select(col("user_id"), col("event_id"), col("ts"), col("n_last_hour"))
      .orderBy("user_id", "event_id")
  }

  /** W3+ the remaining analytic set: ntile, percent_rank, cume_dist,
    * first/last value with explicit full frames. percent_rank and
    * cume_dist are exact int-ratio divisions ((r−1)/(n−1), r/n) — the
    * SAME IEEE division on both engines, so no rounding needed for
    * hash parity. Deterministic: every window carries the unique
    * c_custkey tiebreaker. */
  def windowShowcase(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir, "customer")
      .filter(col("c_custkey") <= 1000)
      .select(
        col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        ntile(4).over(w).cast("bigint").as("acctbal_quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        first_value(col("c_custkey")).over(full).as("poorest_cust"),
        last_value(col("c_custkey")).over(full).as("richest_cust"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** W3+ DISTRIBUTION windows — ntile / percent_rank / cume_dist, the
    * ranking family the showcase above doesn't cover: per-status price
    * quartiles (ntile(4) under the (price, key) total order — the
    * tiebreak makes tile boundaries deterministic on both engines),
    * summarized per (status, quartile) with the quartile's price range
    * and the percent_rank/cume_dist extremes at its edges. One window
    * shuffle partitioned by status, then a tile-granularity partial
    * agg — the frame never leaves the status partitioning. */
  def orderPriceQuartiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables(spark, dir, "orders")
      // cast: Spark ntile is INT, DuckDB's BIGINT — pin the wider type
      .withColumn("quartile", ntile(4).over(w).cast("bigint"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .groupBy(col("o_orderstatus"), col("quartile"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("lo_price"),
        max(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("hi_price"),
        graft.functions.ScalarFns.roundN(max(col("pr")), 6).as("max_pct_rank"),
        graft.functions.ScalarFns.roundN(max(col("cd")), 6).as("max_cume_dist"))
      .orderBy("o_orderstatus", "quartile")
  }

  /** W3 semantics: RANGE vs ROWS cumulative frames pinned as data —
    * the classic window trap. With ORDER BY a non-unique key (order
    * DATE; customers place several same-day orders), the default
    * RANGE UNBOUNDED→CURRENT frame includes ALL peers of the current
    * date (every tied row sees the same cumulative sum), while the
    * ROWS frame (made deterministic by the orderkey tiebreak) walks
    * row-by-row THROUGH the tie. Both sums are emitted per order in
    * exact cents plus the is-tied flag, so the grade pins exactly
    * where and how the two frames diverge — on every tied row,
    * rows_cum < range_cum except the tie's last row. Identical
    * statement on both engines; the same default-frame subtlety that
    * silently breaks "running total" queries written without a
    * tiebreak. */
  def rangeVsRowsFrames(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
      .cast("bigint")
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val byRow = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peers = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
    Tables(spark, dir, "orders")
      .withColumn("cents", cents)
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        sum(col("cents")).over(byDate).as("range_cum_cents"),
        sum(col("cents")).over(byRow).as("rows_cum_cents"),
        (count(lit(1)).over(peers) > 1).as("tied_date"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "range_vs_rows_frames" -> (rangeVsRowsFrames _),
    "rank_lag_orders"    -> (rankLagOrders _),
    "window_showcase"    -> (windowShowcase _),
    "order_price_quartiles" -> (orderPriceQuartiles _),
    "sliding_rate_limit" -> ((s: SparkSession, d: String) => slidingRateLimit(s, d)))

  val oracles: Map[String, String] = Map(
    // identical statement: RANGE (date peers) vs ROWS (tiebroken walk)
    "range_vs_rows_frames" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY
        |      o_orderdate RANGE BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS BIGINT) AS range_cum_cents,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY
        |      o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS rows_cum_cents,
        |  count(*) OVER (PARTITION BY o_custkey, o_orderdate) > 1
        |    AS tied_date
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "order_price_quartiles" ->
      s"""WITH t AS (
         |  SELECT o_orderstatus, o_totalprice, o_orderkey,
         |    ntile(4) OVER w AS quartile,
         |    percent_rank() OVER w AS pr,
         |    cume_dist() OVER w AS cd
         |  FROM orders
         |  WINDOW w AS (PARTITION BY o_orderstatus
         |    ORDER BY o_totalprice, o_orderkey))
         |SELECT o_orderstatus, quartile, count(*) AS n_orders,
         |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS lo_price,
         |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS hi_price,
         |  ${graft.functions.ScalarFns.roundSql("max(pr)", 6)}
         |    AS max_pct_rank,
         |  ${graft.functions.ScalarFns.roundSql("max(cd)", 6)}
         |    AS max_cume_dist
         |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "window_showcase" ->
      """WITH f AS (SELECT * FROM customer WHERE c_custkey <= 1000)
        |SELECT c_mktsegment, c_custkey, c_acctbal,
        |  CAST(ntile(4) OVER w AS BIGINT) AS acctbal_quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  first_value(c_custkey) OVER wf AS poorest_cust,
        |  last_value(c_custkey) OVER wf AS richest_cust
        |FROM f
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey),
        |  wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "rank_lag_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(rank() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS spend_rank,
        |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS prev_price,
        |  lead(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS next_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "sliding_rate_limit" ->
      """SELECT user_id, event_id, ts, n_last_hour FROM (
        |  SELECT user_id, event_id, ts,
        |    count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS n_last_hour
        |  FROM events)
        |WHERE n_last_hour >= 2 ORDER BY user_id, event_id""".stripMargin)
}
