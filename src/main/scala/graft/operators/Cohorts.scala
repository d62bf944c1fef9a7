package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ScalarFns

/** COHORT RETENTION MATRIX — the classic product-analytics rollup the
  * reference's recency/activity segmentation (`tools.py:60-72`,
  * months-since-last-purchase) is a point query of: bucket every
  * customer by FIRST-purchase month (the cohort), then for each
  * (cohort, months-since-first) cell count how many of that cohort's
  * customers were active again — the full retention triangle instead
  * of one "active in the last N months" slice.
  *
  * Scale shape — the one-shuffle cohort build: a per-customer
  * `collect_set` of active months is BOUNDED BY THE CALENDAR (≤ one
  * entry per month the table spans, ~84 at TPC-H date range), never by
  * order count, so the whole matrix derives from ONE customer-keyed
  * partial aggregation carrying (first-month, month-set) — no
  * activity×first-purchase self-join of the orders fact, which is the
  * naive two-scan formulation. The explode that follows fans out to at
  * most |cohorts|·|offsets| rows per customer (calendar-bounded), and
  * the final (cohort, offset) aggregation is a tiny rollup. Cohort
  * sizes are the matrix's own offset-0 column — broadcast back (the
  * dimension is |months|, trivially broadcastable at any corpus
  * scale) to attach denominators and retention percentages.
  *
  * Month arithmetic is pure integers ((Δyear)·12 + Δmonth) — no
  * date-diff function semantics to reconcile across engines — and the
  * percentage goes through the [[ScalarFns.roundN]]/`roundSql` pair,
  * so every cell is bit-exact against the DuckDB twin.
  */
object Cohorts extends graft.QueryModule {

  /** GRADED: (cohort_month, month_offset) → active distinct customers,
    * cohort size, retention %. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables(spark, dir, "orders").select(
      col("o_custkey"),
      date_trunc("month", col("o_orderdate")).as("am"))
    // ONE customer-keyed shuffle; per-customer state calendar-bounded
    val per = m.groupBy(col("o_custkey"))
      .agg(min(col("am")).as("cm"), collect_set(col("am")).as("months"))
    val x = per.select(col("cm"), explode(col("months")).as("am"))
      .withColumn("month_offset",
        ((year(col("am")) - year(col("cm"))) * 12 +
          (month(col("am")) - month(col("cm")))).cast("long"))
    val counts = x.groupBy(col("cm"), col("month_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = counts.filter(col("month_offset") === 0)
      .select(col("cm").as("scm"), col("n_active").as("cohort_size"))
    counts.join(broadcast(sizes), col("cm") === col("scm"))
      .select(
        to_date(col("cm")).as("cohort_month"),
        col("month_offset"),
        col("n_active"),
        col("cohort_size"),
        ScalarFns.roundN(
          col("n_active") * lit(100.0) / col("cohort_size"), 2)
          .as("retention_pct"))
      .orderBy(col("cohort_month"), col("month_offset"))
  }

  /** Churn-observation window: a customer whose last order precedes
    * the corpus end by more than this is an observed churn EVENT;
    * later last-orders are CENSORED (still alive at observation end). */
  private val ChurnDays = 180

  /** SURVIVAL ANALYSIS (Kaplan-Meier risk table) — time-to-event with
    * CENSORING, the estimator retention curves need when the
    * observation window truncates lifetimes (naively treating
    * still-active customers as churned biases lifetime DOWN; dropping
    * them biases it UP; censoring is the fix — Kaplan & Meier, JASA
    * 1958). Subject = customer, clock = days between first and last
    * order, event = churn (last order > ChurnDays before corpus end),
    * else censored.
    *
    * GRADED OUTPUT IS THE RISK TABLE, not the survival curve: per
    * lifetime t — subjects at risk n(t) (lifetime ≥ t), events d(t),
    * censorings c(t), and the discrete hazard d(t)/n(t) in exact ppm
    * (floor-div both engines). The KM curve S(t) = Π(1 − d/n) is a
    * trivial fold over these rows; the DISTRIBUTED work — and
    * everything graded — is the risk-set accounting, which is pure
    * integer arithmetic (a cumulative-product column would be
    * engine-divergent floats or a log, both banned by the determinism
    * contract).
    *
    * Scale shape: one customer-keyed aggregation builds (lifetime,
    * event) per subject; the risk table is LIFETIME-granularity
    * (≤ span-in-days rows — catalog-sized), so its cumulative window
    * is the same legitimate small-frame window as the prefix-sum
    * offsets; n(t) = total − (subjects finished before t) comes from
    * an exclusive running sum, no per-subject window anywhere. */
  def survivalRiskTable(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val bounds = o.agg(max(to_date(col("o_orderdate"))).as("maxd"))
    // per has ONE consumer (the lifetime rollup): the subject total is
    // Σ(d+c) over byT, read off an unbounded window over the SAME
    // catalog-sized frame the exclusive running sum already scans — so
    // the orders scan runs once with nothing persisted (r7 ADVICE: the
    // r7c per.persist() was never released).
    val per = o.groupBy(col("o_custkey"))
      .agg(min(to_date(col("o_orderdate"))).as("first_d"),
        max(to_date(col("o_orderdate"))).as("last_d"))
      .crossJoin(broadcast(bounds))
      .select(
        datediff(col("last_d"), col("first_d")).cast("long").as("lifetime"),
        when(col("last_d") < date_sub(col("maxd"), ChurnDays), 1L)
          .otherwise(0L).as("event"))
    val byT = per.groupBy(col("lifetime"))
      .agg(sum(col("event")).as("d"),
        sum(lit(1L) - col("event")).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("lifetime"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wAll = org.apache.spark.sql.expressions.Window.orderBy(col("lifetime"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    byT
      .withColumn("total", sum(col("d") + col("c")).over(wAll))
      .withColumn("gone", coalesce(sum(col("d") + col("c")).over(w), lit(0L)))
      .select(col("lifetime"), (col("total") - col("gone")).as("n_at_risk"),
        col("d").as("n_events"), col("c").as("n_censored"))
      .withColumn("hazard_ppm", expr("CAST((CAST(n_events AS DECIMAL(38,0)) * 1000000)" +
        " div n_at_risk AS BIGINT)"))
      .orderBy(col("lifetime"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cohort_retention" -> (cohortRetention(_, _)),
    "survival_risk_table" -> (survivalRiskTable(_, _)))

  val oracles: Map[String, String] = Map(
    // date − date is integer days in DuckDB (≡ Spark datediff); the
    // churn cutoff is maxd − ChurnDays via date−int arithmetic
    "survival_risk_table" ->
      s"""WITH b AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd
         |           FROM orders),
         |per AS (
         |  SELECT CAST(max(CAST(o_orderdate AS DATE))
         |       - min(CAST(o_orderdate AS DATE)) AS BIGINT) AS lifetime,
         |    CASE WHEN max(CAST(o_orderdate AS DATE))
         |         < (SELECT maxd FROM b) - $ChurnDays
         |      THEN 1 ELSE 0 END AS event
         |  FROM orders GROUP BY o_custkey),
         |byt AS (
         |  SELECT lifetime, CAST(sum(event) AS BIGINT) AS d,
         |    CAST(sum(1 - event) AS BIGINT) AS c
         |  FROM per GROUP BY 1),
         |tot AS (SELECT count(*) AS total FROM per),
         |r AS (
         |  SELECT lifetime, d, c,
         |    coalesce(sum(d + c) OVER (ORDER BY lifetime
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS gone
         |  FROM byt)
         |SELECT r.lifetime, CAST(tot.total - r.gone AS BIGINT) AS n_at_risk,
         |  r.d AS n_events, r.c AS n_censored,
         |  CAST(1000000 * r.d // (tot.total - r.gone) AS BIGINT)
         |    AS hazard_ppm
         |FROM r, tot ORDER BY r.lifetime""".stripMargin,
    "cohort_retention" ->
      s"""WITH m AS (
         |  SELECT DISTINCT o_custkey,
         |    date_trunc('month', o_orderdate) AS am
         |  FROM orders),
         |f AS (SELECT o_custkey, min(am) AS cm FROM m GROUP BY 1),
         |x AS (
         |  SELECT f.cm,
         |    CAST((year(m.am) - year(f.cm)) * 12 +
         |         (month(m.am) - month(f.cm)) AS BIGINT) AS month_offset
         |  FROM m JOIN f USING (o_custkey)),
         |c AS (
         |  SELECT cm, month_offset, count(*) AS n_active
         |  FROM x GROUP BY 1, 2),
         |s AS (SELECT cm, n_active AS cohort_size FROM c
         |      WHERE month_offset = 0)
         |SELECT CAST(c.cm AS DATE) AS cohort_month, c.month_offset,
         |  c.n_active, s.cohort_size,
         |  ${ScalarFns.roundSql(
             "c.n_active * 100.0 / s.cohort_size", 2)} AS retention_pct
         |FROM c JOIN s USING (cm)
         |ORDER BY 1, 2""".stripMargin)
}
