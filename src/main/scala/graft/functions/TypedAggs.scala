package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ScalarFns.{roundSql, roundN}

/** U3 (SURVEY.md §2.10): the reference's one-pass segment stats
  * (`tools.py:72-76`) as a reusable typed `Aggregator[IN, BUF, OUT]` —
  * the deliberate exercise of Spark's typed-UDAF surface.
  *
  * Determinism: the buffer accumulates an exact `BigDecimal` sum
  * (Spark's default Decimal(38,18) encoding), so merge order across
  * partitions cannot change the result — same contract as the
  * decimal-cast column aggregates in ScalarFns. Registered via
  * `functions.udaf` it is also a SQL-callable function (U2 registry
  * surface).
  */
object TypedAggs extends graft.QueryModule {

  final case class MoneyBuf(n: Long, sum: BigDecimal)
  final case class MoneyStats(n: Long, avg2dp: Double)

  /** count + deterministic 2dp average in one pass. */
  object MoneyStatsAgg extends Aggregator[Double, MoneyBuf, MoneyStats] {
    override def zero: MoneyBuf = MoneyBuf(0L, BigDecimal(0).setScale(4))
    override def reduce(b: MoneyBuf, x: Double): MoneyBuf =
      // new j.m.BigDecimal(x) is the EXACT binary expansion (matching how
      // DuckDB casts double→decimal); BigDecimal(x)/valueOf(x) would go
      // through Double.toString's shortest repr and can round differently.
      MoneyBuf(b.n + 1, b.sum +
        BigDecimal(new java.math.BigDecimal(x))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP))
    override def merge(a: MoneyBuf, b: MoneyBuf): MoneyBuf =
      MoneyBuf(a.n + b.n, a.sum + b.sum)
    override def finish(b: MoneyBuf): MoneyStats =
      if (b.n == 0) MoneyStats(0L, 0.0)
      else MoneyStats(b.n,
        math.floor(b.sum.toDouble / b.n * 100.0 + 0.5) / 100.0)
    override def bufferEncoder: Encoder[MoneyBuf] = Encoders.product[MoneyBuf]
    override def outputEncoder: Encoder[MoneyStats] = Encoders.product[MoneyStats]
  }

  /** Graded query: per-segment acctbal stats through the typed
    * aggregator (flattened struct output for oracle hashing). */
  def typedAggStats(spark: SparkSession, dir: String): DataFrame = {
    val moneyStats = udaf(MoneyStatsAgg)
    spark.udf.register("money_stats", moneyStats) // U2: SQL registry
    Tables(spark, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(moneyStats(col("c_acctbal")).as("stats"))
      .select(col("c_mktsegment"),
        col("stats.n").as("n"),
        col("stats.avg2dp").as("avg_acctbal"))
      .orderBy("c_mktsegment")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "typed_agg_stats" -> (typedAggStats _))

  val oracles: Map[String, String] = Map(
    "typed_agg_stats" ->
      s"""SELECT c_mktsegment, count(*) AS n,
         |  ${roundSql("CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)", 2)} AS avg_acctbal
         |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)
}
