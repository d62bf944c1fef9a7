package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** RFM CUSTOMER SEGMENTATION — the classic CRM scoring the reference's
  * domain is built around (its segment filters threshold on spend and
  * activity; RFM is the standard composition of exactly those
  * signals): every purchasing customer scored 1-5 on Recency (days
  * since last order, higher = more recent), Frequency (order count)
  * and Monetary (total spend), concatenated to the familiar 111-555
  * cell code; the report is the cell census with its spend mass —
  * "champions" (555) vs "at-risk big spenders" (1x5) etc.
  *
  * Quintiles are the FLOOR-RULE percentile buckets, not SQL NTILE:
  * q = (rank−1)·5 div n + 1 under the total order (metric, custkey) —
  * NTILE's remainder rule pads the FIRST buckets and would make the
  * grade depend on n mod 5; the floor rule is the percentile-bucket
  * definition (`spend_deciles` uses the same for tenths) and is stated
  * identically in the oracle.
  *
  * 100 TB shape: one orders partial-agg shuffle to customer
  * granularity, then each metric's exact global rank via the
  * [[Concentration]] two-phase bucket decomposition (value-range
  * buckets from broadcast bounds, in-bucket ranks in parallel,
  * broadcast cross-bucket offsets) — customers are DATA-scale, so a
  * single unpartitioned ranking window is not an option. The oracle
  * ranks all three metrics with naive global windows — the hash match
  * proves all three decompositions exact, ties included.
  *
  * Recency ranks ascending on the NEGATED day count (≡ days DESC,
  * custkey ASC) so q5 = most recent on every axis.
  */
object Rfm extends graft.QueryModule {

  private val Buckets = 16

  /** Exact global rank of `v` (ascending, ties by `key`) via the
    * two-phase decomposition. Returns (key, rnk). */
  private def twoPhaseRank(df: DataFrame, v: String, key: String): DataFrame = {
    val bounds = df.agg(min(col(v)).as("lo"), max(col(v)).as("hi"))
    val b = df.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        least(lit(Buckets - 1), greatest(lit(0),
          floor((col(v) - col("lo")).cast("double") /
            ((col("hi") - col("lo")).cast("double") / Buckets + lit(1e-6)))
            .cast("int"))))
      .drop("lo", "hi")
    val wIn = Window.partitionBy(col("bucket")).orderBy(col(v), col(key))
    val local = b.withColumn("lrank", row_number().over(wIn))
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = b.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
      .withColumn("offset", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select(col("bucket").as("obucket"), col("offset"))
    local.join(broadcast(offs), col("bucket") === col("obucket"))
      .select(col(key), (col("offset") + col("lrank")).as("rnk"))
  }

  /** GRADED: the RFM cell census — per rfm_code: customers and exact
    * spend mass. */
  def customerRfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val maxDate = o.agg(max(col("o_orderdate")).as("maxd"))
    val cust = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("spend_cents"))
      .crossJoin(broadcast(maxDate))
      .select(col("o_custkey"),
        // negated: ascending rank ≡ days DESC ⇒ q5 = most recent
        (-datediff(col("maxd"), col("last_order"))).cast("long").as("rscore"),
        col("freq"), col("spend_cents"))
    val n = cust.agg(count(lit(1)).as("n"))
    def q(metric: String, as: String): DataFrame =
      twoPhaseRank(cust.select(col("o_custkey"), col(metric)), metric,
        "o_custkey")
        .crossJoin(broadcast(n))
        .selectExpr("o_custkey", s"(rnk - 1) * 5 div n + 1 AS $as")
    cust
      .join(q("rscore", "r_q"), Seq("o_custkey"))
      .join(q("freq", "f_q"), Seq("o_custkey"))
      .join(q("spend_cents", "m_q"), Seq("o_custkey"))
      .groupBy((col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
        .as("rfm_code"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend_cents")).as("total_spend_cents"))
      .orderBy("rfm_code")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "customer_rfm_segments" -> (customerRfmSegments(_, _)))

  /** Oracle: all three metrics ranked by naive global windows, same
    * floor-rule quintiles — proves every two-phase rank exact. */
  val oracles: Map[String, String] = Map(
    "customer_rfm_segments" ->
      """WITH maxd AS (SELECT max(o_orderdate) AS md FROM orders),
        |c AS (
        |  SELECT o_custkey,
        |    CAST(-date_diff('day', CAST(max(o_orderdate) AS DATE),
        |      CAST((SELECT md FROM maxd) AS DATE)) AS BIGINT) AS rscore,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS spend_cents
        |  FROM orders GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |r AS (
        |  SELECT o_custkey,
        |    (row_number() OVER (ORDER BY rscore, o_custkey) - 1) * 5
        |      // (SELECT n FROM n) + 1 AS r_q,
        |    (row_number() OVER (ORDER BY freq, o_custkey) - 1) * 5
        |      // (SELECT n FROM n) + 1 AS f_q,
        |    (row_number() OVER (ORDER BY spend_cents, o_custkey) - 1) * 5
        |      // (SELECT n FROM n) + 1 AS m_q,
        |    spend_cents
        |  FROM c)
        |SELECT CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS rfm_code,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(spend_cents) AS BIGINT) AS total_spend_cents
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)
}
