package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate-membership pre-filtering with the custom
  * [[graft.plans.BloomSketch]] aggregate (A6-family sketch surface,
  * SURVEY.md §2.6; the dedup/anti-join pre-filter shape of
  * `SCALING.md:87-120`'s idempotent-write design).
  *
  * The graded query measures the filter doing its actual job: build the
  * sketch over the "big spender" order keys (one constant-size
  * aggregation state, mergeable by bitwise OR), broadcast the 8 KB bit
  * array, probe EVERY customer map-only, and score claimed membership
  * against true membership per market segment. False-negative count is
  * structurally zero (the Bloom guarantee — asserted in the spec); the
  * false-positive count is the price of the 8 KB state, and the oracle
  * re-derives every bit decision with the same md5-nibble addressing,
  * so the sketch's individual claims are hash-graded, not sampled.
  *
  * At 100 TB this is the shape that replaces a shuffle: instead of
  * semi-joining a 10⁹-row probe side against a 10⁷-key build side,
  * broadcast the bits and let ~96 % of probe rows skip the join
  * entirely — the exact-join then runs only on claimed rows.
  */
object Membership extends graft.QueryModule {

  /** Build-side predicate (shared with the oracle via [[thresholdSql]]). */
  private val BigSpenderMin = 450000.0

  /** Probe positions, Spark side: first 16 bits of md5("i:" ++ key) via
    * hex prefix → conv(,16,10) — identical bits to the sketch's
    * digest-byte addressing. */
  private def posExpr(i: Int, key: String): String =
    s"CAST(conv(substring(md5(concat('$i:', $key)), 1, 4), 16, 10) AS INT)"

  private def bitTest(i: Int): String =
    s"(element_at(bits, CAST(p$i div 64 AS INT) + 1) & " +
      s"shiftleft(CAST(1 AS BIGINT), p$i % 64)) <> 0"

  def bloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val big = orders.filter(col("o_totalprice") > BigSpenderMin)
    val bits = big.agg(
      expr("bloom_sketch(CAST(o_custkey AS STRING))").as("bits"))
    val actual = big.select(col("o_custkey").as("c_custkey")).distinct()
      .withColumn("is_member", lit(true))
    val probed = Tables(spark, dir, "customer")
      .crossJoin(broadcast(bits))
      .withColumn("k", col("c_custkey").cast("string"))
    val withPos = (0 until graft.plans.BloomSketch.K)
      .foldLeft(probed)((df, i) =>
        df.withColumn(s"p$i", expr(posExpr(i, "k"))))
    withPos
      .withColumn("claimed",
        expr((0 until graft.plans.BloomSketch.K).map(bitTest).mkString(" AND ")))
      .join(broadcast(actual), Seq("c_custkey"), "left")
      .withColumn("m", coalesce(col("is_member"), lit(false)))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_members"),
        sum(when(col("claimed"), 1L).otherwise(0L)).as("n_claimed"),
        sum(when(col("claimed") && !col("m"), 1L).otherwise(0L))
          .as("n_false_pos"),
        sum(when(col("m") && !col("claimed"), 1L).otherwise(0L))
          .as("n_false_neg"))
      .orderBy("c_mktsegment")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bloom_prefilter" -> (bloomPrefilter _))

  /** DuckDB nibble arithmetic for the first 16 md5 bits (HLL-oracle
    * idiom): pos = n1·4096 + n2·256 + n3·16 + n4. */
  private def posSql(i: Int, key: String): String = {
    def nib(j: Int) =
      s"(instr('0123456789abcdef', substr(md5('$i:' || $key), $j, 1)) - 1)"
    s"(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})"
  }

  val oracles: Map[String, String] = Map(
    "bloom_prefilter" -> {
      val insUnion = (0 until graft.plans.BloomSketch.K)
        .map(i => s"SELECT ${posSql(i, "k")} AS pos FROM big")
        .mkString("\n  UNION\n  ")
      val claimed = (0 until graft.plans.BloomSketch.K)
        .map(i => s"${posSql(i, "CAST(c.c_custkey AS VARCHAR)")} IN (SELECT pos FROM ins)")
        .mkString("\n    AND ")
      s"""WITH big AS (
         |  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k, o_custkey
         |  FROM orders WHERE o_totalprice > $BigSpenderMin),
         |ins AS (
         |  $insUnion),
         |probe AS (
         |  SELECT c.c_mktsegment,
         |    ($claimed) AS claimed,
         |    (c.c_custkey IN (SELECT o_custkey FROM big)) AS m
         |  FROM customer c)
         |SELECT c_mktsegment, count(*) AS n_customers,
         |  CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
         |  CAST(sum(CASE WHEN claimed THEN 1 ELSE 0 END) AS BIGINT) AS n_claimed,
         |  CAST(sum(CASE WHEN claimed AND NOT m THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_false_pos,
         |  CAST(sum(CASE WHEN m AND NOT claimed THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_false_neg
         |FROM probe GROUP BY 1 ORDER BY 1""".stripMargin
    })
}
