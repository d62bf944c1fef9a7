package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.Extensions

/** Skew mitigation (SURVEY.md §4.2 "salting for skew"). AQE's runtime
  * skew-join split covers most cases; explicit salting is for the
  * pathological hot key (one promoter with 10⁸ fans) where even a
  * split partition of one key overwhelms an executor.
  *
  * Shape: the huge/skewed PROBE side gets a deterministic salt in
  * [0, n) derived from caller-chosen columns; the smaller BUILD side is
  * replicated n times (one copy per salt). The join key becomes
  * (key, salt), so one hot key spreads over n partitions. Replication
  * multiplies the build side by n — choose n ≈ hot-key-rows /
  * target-partition-rows, and keep the build side the smaller input.
  */
object Skew extends graft.QueryModule {

  /** Graded form: nation-level revenue through an 8-way SALTED
    * orders⋈customer join — result must equal the unsalted join
    * exactly (the oracle is the plain SQL join), proving salting is
    * pure redistribution with no semantic cost. */
  def saltedRevenue(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val o = graft.Tables(spark, dir, "orders")
    val c = graft.Tables(spark, dir, "customer")
    saltedJoin(o, c, "o_custkey", "c_custkey", col("o_orderkey"), n = 8)
      .groupBy(col("c_nationkey"))
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("c_nationkey")
  }

  /** The THIRD skew story (r7 verdict #8), beside the manual salt and
    * the stratified sampler: AQE's RUNTIME skew-join split. A
    * synthetic hot key (half of all orders collapse onto custkey 0 —
    * the one-promoter-with-10⁸-fans shape) joins customer under a
    * session CLONE tuned so AQE's skew detector fires at bench scale
    * (the default 256 MB partition threshold is a production number;
    * the RATIO test — skewed partition ≥ factor × median — is what's
    * under grade). Broadcast is disabled so the join stays a
    * sort-merge join; AQE splits the hot partition at runtime and the
    * executed plan carries the `skew=true` SMJ annotation
    * (`PlanAuditSpec` asserts it). The oracle is the plain unsplit
    * join with the identical hot-key derivation — the split must be
    * pure redistribution, exactly the salted join's contract, but
    * decided by the ENGINE at runtime instead of by the author. */
  def aqeSkewRevenue(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val ss = Extensions.newSession(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
      "spark.sql.shuffle.partitions" -> "8")
    skewedJoinFrame(ss, dir)
  }

  /** The skewed join + aggregate, on whatever session it is handed —
    * shared by the graded query (tuned clone) and the spec. */
  private[graft] def skewedJoinFrame(
      ss: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // fan the scan out BEFORE the skewed shuffle: AQE's skew split
    // regroups MAP OUTPUT BLOCKS of a reduce partition, so a hot
    // partition fed by a single map task (the bench corpora are
    // one-file tables → one split) is unsplittable no matter how
    // skewed — width on the map side is what gives the split its
    // granularity (at 100 TB the thousands of input splits provide it
    // for free)
    val o = graft.Tables.fanOut(ss,
        graft.Tables(ss, dir, "orders"), key = "o_orderkey")
      .withColumn("sk",
        when(pmod(col("o_orderkey"), lit(2)) === 0, 0L)
          .otherwise(pmod(col("o_custkey"), lit(500))))
    val c = graft.Tables(ss, dir, "customer")
    o.join(c, col("sk") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("salted_revenue" -> (saltedRevenue _),
      "revenue_aqe_skew" -> (aqeSkewRevenue _))

  val oracles: Map[String, String] = Map(
    "salted_revenue" ->
      """SELECT c.c_nationkey,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the plain join with the identical hot-key derivation — AQE's
    // runtime split must be invisible to the result
    "revenue_aqe_skew" ->
      """SELECT c.c_mktsegment,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM (SELECT *,
        |        CASE WHEN o_orderkey % 2 = 0 THEN 0
        |             ELSE o_custkey % 500 END AS sk
        |      FROM orders) o
        |JOIN customer c ON o.sk = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Equi-join `left(leftKey) = right(rightKey)` with an n-way salt.
    * `saltBy` must be deterministic per row (e.g. a unique id column on
    * the probe side) — it only needs to DISTRIBUTE, not be unique. */
  def saltedJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, saltBy: Column, n: Int): DataFrame = {
    require(n > 0, s"salt fan-out must be positive, got $n")
    // withColumn would silently OVERWRITE a pre-existing __salt column
    // (e.g. a caller chaining salted joins) — fail loudly instead.
    require(!left.columns.contains("__salt") && !right.columns.contains("__salt"),
      "saltedJoin inputs must not already carry a __salt column")
    val l = left.withColumn("__salt", pmod(hash(saltBy), lit(n)))
    val r = right.withColumn("__salt",
      explode(lit((0 until n).toArray)))
    val joined = l.join(r,
      l(leftKey) === r(rightKey) && l("__salt") === r("__salt"))
    joined.drop(l("__salt")).drop(r("__salt"))
  }
}
