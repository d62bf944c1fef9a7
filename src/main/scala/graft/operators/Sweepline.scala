package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Interval-concurrency analytics by SWEEP LINE — "how many orders are
  * open at once" (reference provenance: the demo tracks per-customer
  * open deals in memory, `crm_demo/app.py:95-120`; the warehouse form
  * is interval concurrency over the whole fact table).
  *
  * An order is OPEN over [o_orderdate, max(l_shipdate)) — half-open, so
  * a same-day ship contributes nothing. The sweep decomposes intervals
  * into +1/−1 boundary events, aggregates them PER DATE map-side (the
  * only corpus-sized operation — everything after runs on ≤ span-in-days
  * rows), and runs the level as a prefix sum. Tie convention, pinned
  * identically in the oracle: at equal date, ENDS apply before STARTS
  * (half-open intervals), so the intra-date level path is
  * L_prev → L_prev−E → L_prev−E+S and the date's running maximum is
  * max(L_prev, L_d) = greatest(lvl, lvl − s + e).
  *
  * Scale shape: the boundary aggregation is a map-side-combined
  * groupBy(date) — shuffle carries ≤ 2 rows per (date, partition).
  * The global-ORDER windows after it run over the DATE frame
  * (≤ span-in-days rows, calendar-bounded, corpus-size-independent) —
  * the same documented catalog-sized-global-window envelope as
  * survivalRiskTable; graft.CohortsSpec's global-window bound guard applies.
  * Month peaks handle carry-in correctly: a month's first date compares
  * against the level carried INTO the month (its L_prev), so a month
  * whose events only close orders still reports the inherited plateau.
  */
object Sweepline extends graft.QueryModule {

  /** (date, starts, ends, lvl) — the per-date sweep frame. */
  private def sweepFrame(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("s"))
    val ends = Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("e"))
    // the synthetic corpus contains ill-formed rows (last shipdate
    // BEFORE the orderdate — ~2 % at every SF); an "interval" with
    // e ≤ s is empty under the half-open convention, but its −1 would
    // hit the sweep BEFORE its +1 and depress whole plateaus, so the
    // emptiness must be enforced structurally, on both engines
    val iv = o.join(ends, o("o_orderkey") === ends("l_orderkey"))
      .filter(col("e") > col("s"))
      .select(col("s"), col("e"))
    val ev = iv.select(col("s").as("d"), lit(1L).as("st"), lit(0L).as("en"))
      .unionAll(iv.select(col("e").as("d"), lit(0L).as("st"), lit(1L).as("en")))
    val byDate = ev.groupBy(col("d"))
      .agg(sum(col("st")).as("s"), sum(col("en")).as("e"))
    val w = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDate.withColumn("lvl", sum(col("s") - col("e")).over(w))
  }

  /** The level step-function gap-filled onto the complete day spine
    * (in-plan `sequence` over the 1-row bounds — no driver collect;
    * days between boundary dates carry the last level). Day
    * granularity is the month-assignment authority: a plateau carried
    * across a month boundary belongs to every day it covers — the
    * per-event-date shortcut (max of L and L_prev per boundary date)
    * mis-assigns the carried plateau exactly when a month's first
    * boundary falls on its first calendar day, so both monthly
    * queries read THIS frame instead. */
  private def filledDays(spark: SparkSession, dir: String): DataFrame = {
    val run = sweepFrame(spark, dir)
    val spine = run.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      .select(col("day").cast("date").as("day"))
    val wFill = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(run.select(col("d"), col("lvl")), spine("day") === run("d"), "left")
      .withColumn("lvl2", last(col("lvl"), ignoreNulls = true).over(wFill))
  }

  /** Peak concurrently-open orders per month (carry-in-aware). */
  def openOrdersPeak(spark: SparkSession, dir: String): DataFrame =
    filledDays(spark, dir)
      .groupBy(trunc(col("day"), "month").as("month"))
      .agg(max(col("lvl2")).as("peak_open"))
      .orderBy("month")

  /** Time-weighted AVERAGE open orders per month, exact integer ppm:
    * avg = (10⁶ · Σ level) DIV n_days — floor division on both engines,
    * no float averaging anywhere. */
  def openOrdersTwa(spark: SparkSession, dir: String): DataFrame =
    filledDays(spark, dir)
      .groupBy(trunc(col("day"), "month").as("month"))
      .agg(count(lit(1)).as("n_days"),
        expr("CAST((CAST(sum(lvl2) AS DECIMAL(38,0)) * 1000000)" +
          " DIV count(1) AS BIGINT)")
          .as("avg_open_ppm"))
      .orderBy("month")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "open_orders_peak" -> (openOrdersPeak _),
    "open_orders_twa" -> (openOrdersTwa _))

  private val sweepSql: String =
    """iv AS (
      |  SELECT CAST(o.o_orderdate AS DATE) AS s,
      |    CAST(max(l.l_shipdate) AS DATE) AS e
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  GROUP BY o.o_orderkey, 1
      |  HAVING CAST(max(l.l_shipdate) AS DATE)
      |       > CAST(o.o_orderdate AS DATE)),
      |ev AS (
      |  SELECT s AS d, CAST(1 AS BIGINT) AS st, CAST(0 AS BIGINT) AS en
      |  FROM iv
      |  UNION ALL
      |  SELECT e, CAST(0 AS BIGINT), CAST(1 AS BIGINT) FROM iv),
      |bd AS (
      |  SELECT d, sum(st) AS s, sum(en) AS e FROM ev GROUP BY 1),
      |run AS (
      |  SELECT d, s, e,
      |    CAST(sum(s - e) OVER (ORDER BY d) AS BIGINT) AS lvl
      |  FROM bd)""".stripMargin

  val oracles: Map[String, String] = Map(
    "open_orders_peak" ->
      s"""WITH $sweepSql,
         |spine AS (
         |  SELECT CAST(unnest(generate_series(
         |    (SELECT min(d) FROM run), (SELECT max(d) FROM run),
         |    INTERVAL 1 DAY)) AS DATE) AS day),
         |filled AS (
         |  SELECT s.day, r.lvl FROM spine s
         |  ASOF JOIN run r ON r.d <= s.day)
         |SELECT CAST(date_trunc('month', day) AS DATE) AS month,
         |  CAST(max(lvl) AS BIGINT) AS peak_open
         |FROM filled GROUP BY 1 ORDER BY month""".stripMargin,
    "open_orders_twa" ->
      s"""WITH $sweepSql,
         |spine AS (
         |  SELECT CAST(unnest(generate_series(
         |    (SELECT min(d) FROM run), (SELECT max(d) FROM run),
         |    INTERVAL 1 DAY)) AS DATE) AS day),
         |filled AS (
         |  SELECT s.day, r.lvl FROM spine s
         |  ASOF JOIN run r ON r.d <= s.day)
         |SELECT CAST(date_trunc('month', day) AS DATE) AS month,
         |  CAST(count(*) AS BIGINT) AS n_days,
         |  CAST((1000000 * sum(lvl)) // count(*) AS BIGINT) AS avg_open_ppm
         |FROM filled GROUP BY 1 ORDER BY month""".stripMargin)
}
