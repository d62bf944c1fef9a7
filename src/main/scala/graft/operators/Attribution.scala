package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** MULTI-TOUCH ATTRIBUTION — the marketing-analytics operator the
  * reference's event-marketing domain runs daily: credit each
  * purchase's value to the touchpoints (views) that preceded it. The
  * repo already grades the LAST-touch family (the as-of joins:
  * `asof_order_before_event` — one winner per outcome); LINEAR
  * attribution is the genuinely multi-touch case: every view of the
  * same user within the lookback window before a purchase receives an
  * equal share of that purchase's value.
  *
  * Determinism (the hash gate): shares are 1/n with n data-dependent,
  * so float division would smear cross-engine. All credit arithmetic
  * is INTEGER: value → exact decimal(18,4) → micro-units (×10⁴, a
  * BIGINT), each view's credit = `(vu · 10⁶) div n` (floor — both
  * engines, nonneg operands), summed as BIGINT; the displayed value
  * is ONE double division by a constant at the very end. The ppm
  * remainder a floor loses is ≤ n·10⁻⁶ micro-units per purchase —
  * reported exactly by construction since the oracle floors
  * identically.
  *
  * Scale: views ⋈ purchases is a user-keyed equi-join with an
  * interval predicate riding it (never a cross join); the per-purchase
  * fan-out n is bounded by the lookback window, and the credit
  * aggregation is one partial-agg shuffle at (hour) granularity. At
  * 100 TB this is the classic sessionized-attribution shape: both
  * sides partition by user, the window predicate evaluates inside the
  * joined partition.
  */
object Attribution extends graft.QueryModule {

  /** GRADED: per view-hour linear attribution — how much purchase
    * value each hour's touchpoints earned, in exact micro-units. */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("vid"), col("ts").as("vts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pts"),
        (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vu"))
    val j = v.join(p, Seq("user_id"))
      .filter(col("vts") <= col("pts") &&
        col("vts") >= col("pts") - expr("INTERVAL 1 HOUR"))
    // per-purchase touch count: the 1/n denominator
    val n = j.groupBy(col("pid")).agg(count(lit(1)).as("n"))
    j.join(n, Seq("pid"))
      .withColumn("credit",
        expr("CAST((CAST(vu AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)"))
      .groupBy(hour(col("vts")).cast("long").as("view_hour"))
      .agg(count(lit(1)).as("n_views"),
        countDistinct(col("pid")).as("n_purchases"),
        sum(col("credit")).as("credited_micro"))
      .select(col("view_hour"), col("n_views"), col("n_purchases"),
        col("credited_micro"),
        graft.functions.ScalarFns.roundN(
          col("credited_micro").cast("double") / 1e10, 4)
          .as("credited_value"))
      .orderBy("view_hour")
  }

  /** GRADED: POSITION-BASED (U-shaped) attribution — the industry's
    * other standard multi-touch rule: the FIRST and LAST touch in the
    * window each earn 40 %, the middles split the remaining 20 %
    * (n = 1 → 100 %, n = 2 → 50/50). Positions are ranked
    * deterministically (view time, then view id); shares are integer
    * ppm (400 000 / 500 000 / `200000 div (n−2)` — floor on both
    * engines), applied to the same micro-unit values as the linear
    * form, so the U-shape stays hash-exact. Same join graph — only
    * the credit rule changes. */
  def attributionPosition(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("vid"), col("ts").as("vts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pts"),
        (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vu"))
    val j = v.join(p, Seq("user_id"))
      .filter(col("vts") <= col("pts") &&
        col("vts") >= col("pts") - expr("INTERVAL 1 HOUR"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("vts"), col("vid"))
    val ranked = j
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))))
    val shPpm = when(col("n") === 1, lit(1000000L))
      .when(col("n") === 2, lit(500000L))
      .when(col("rk") === 1 || col("rk") === col("n"), lit(400000L))
      .otherwise(expr("200000L div (n - 2)"))
    ranked
      .withColumn("credit", expr("vu * 1L") * shPpm)
      .groupBy(hour(col("vts")).cast("long").as("view_hour"))
      .agg(count(lit(1)).as("n_views"),
        countDistinct(col("pid")).as("n_purchases"),
        sum(col("credit")).as("credited_micro"))
      .select(col("view_hour"), col("n_views"), col("n_purchases"),
        col("credited_micro"),
        graft.functions.ScalarFns.roundN(
          col("credited_micro").cast("double") / 1e10, 4)
          .as("credited_value"))
      .orderBy("view_hour")
  }

  /** GRADED: TIME-DECAY attribution — the third industry-standard
    * multi-touch rule: a touchpoint's credit halves for every 15
    * minutes of age at purchase time. Float exponentials (2^(−Δt/τ))
    * would smear cross-engine, so decay is DISCRETE and integer:
    * weight = `10⁶ div 2^floor(Δμs / 15 min)` (Δ ∈ [0, 1 h] → exponent
    * 0..4 — a power-of-two table, exact in both engines), and each
    * view's credit is `(vu·10⁶·w) div Σw` with the product widened
    * DECIMAL(38,0)/HUGEINT before the ×10⁶ (the [[Baskets]] idiom —
    * vu·10⁶·w overflows BIGINT at the 100 TB framing). Same join
    * graph as the linear form — only the credit rule changes. */
  def attributionTimeDecay(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("vid"), col("ts").as("vts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pts"),
        (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vu"))
    val j = v.join(p, Seq("user_id"))
      .filter(col("vts") <= col("pts") &&
        col("vts") >= col("pts") - expr("INTERVAL 1 HOUR"))
      .withColumn("w", expr(
        "1000000L div shiftleft(1L, CAST((unix_micros(pts) - unix_micros(vts)) div 900000000L AS INT))"))
    val sw = j.groupBy(col("pid")).agg(sum(col("w")).as("sumw"))
    j.join(sw, Seq("pid"))
      // div (IntegralDivide on DECIMAL) truncates exactly like the
      // oracle's HUGEINT `//`; floor(DECIMAL `/`) rounds HALF_UP to
      // result scale first and can land one higher (r10 advice).
      .withColumn("credit", expr(
        "CAST((CAST(vu AS DECIMAL(38,0)) * 1000000 * w) div sumw AS BIGINT)"))
      .groupBy(hour(col("vts")).cast("long").as("view_hour"))
      .agg(count(lit(1)).as("n_views"),
        countDistinct(col("pid")).as("n_purchases"),
        sum(col("credit")).as("credited_micro"))
      .select(col("view_hour"), col("n_views"), col("n_purchases"),
        col("credited_micro"),
        graft.functions.ScalarFns.roundN(
          col("credited_micro").cast("double") / 1e10, 4)
          .as("credited_value"))
      .orderBy("view_hour")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "attribution_linear" -> (attributionLinear(_, _)),
    "attribution_position" -> (attributionPosition(_, _)),
    "attribution_timedecay" -> (attributionTimeDecay(_, _)))

  val oracles: Map[String, String] = Map(
    "attribution_linear" ->
      s"""WITH v AS (
         |  SELECT user_id, event_id AS vid, ts AS vts
         |  FROM events WHERE event_type = 'view'),
         |p AS (
         |  SELECT user_id, event_id AS pid, ts AS pts,
         |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vu
         |  FROM events WHERE event_type = 'purchase'),
         |j AS (
         |  SELECT v.vts, p.pid, p.vu
         |  FROM v JOIN p ON v.user_id = p.user_id
         |    AND v.vts <= p.pts
         |    AND v.vts >= p.pts - INTERVAL 1 HOUR),
         |nn AS (SELECT pid, count(*) AS n FROM j GROUP BY 1),
         |c AS (
         |  SELECT j.vts, j.pid, (j.vu * 1000000) // nn.n AS credit
         |  FROM j JOIN nn USING (pid))
         |SELECT CAST(hour(vts) AS BIGINT) AS view_hour,
         |  count(*) AS n_views,
         |  CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases,
         |  CAST(sum(credit) AS BIGINT) AS credited_micro,
         |  ${graft.functions.ScalarFns.roundSql(
            "sum(credit) / 10000000000.0", 4)} AS credited_value
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "attribution_position" ->
      s"""WITH v AS (
         |  SELECT user_id, event_id AS vid, ts AS vts
         |  FROM events WHERE event_type = 'view'),
         |p AS (
         |  SELECT user_id, event_id AS pid, ts AS pts,
         |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vu
         |  FROM events WHERE event_type = 'purchase'),
         |j AS (
         |  SELECT v.vts, v.vid, p.pid, p.vu
         |  FROM v JOIN p ON v.user_id = p.user_id
         |    AND v.vts <= p.pts
         |    AND v.vts >= p.pts - INTERVAL 1 HOUR),
         |r AS (
         |  SELECT vts, pid, vu,
         |    row_number() OVER (PARTITION BY pid ORDER BY vts, vid) AS rk,
         |    count(*) OVER (PARTITION BY pid) AS n
         |  FROM j),
         |c AS (
         |  SELECT vts, pid,
         |    vu * (CASE WHEN n = 1 THEN 1000000
         |          WHEN n = 2 THEN 500000
         |          WHEN rk = 1 OR rk = n THEN 400000
         |          ELSE 200000 // (n - 2) END) AS credit
         |  FROM r)
         |SELECT CAST(hour(vts) AS BIGINT) AS view_hour,
         |  count(*) AS n_views,
         |  CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases,
         |  CAST(sum(credit) AS BIGINT) AS credited_micro,
         |  ${graft.functions.ScalarFns.roundSql(
            "sum(credit) / 10000000000.0", 4)} AS credited_value
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "attribution_timedecay" ->
      s"""WITH v AS (
         |  SELECT user_id, event_id AS vid, ts AS vts
         |  FROM events WHERE event_type = 'view'),
         |p AS (
         |  SELECT user_id, event_id AS pid, ts AS pts,
         |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vu
         |  FROM events WHERE event_type = 'purchase'),
         |j AS (
         |  SELECT v.vts, p.pid, p.vu,
         |    1000000 // (1 << CAST((epoch_us(p.pts) - epoch_us(v.vts))
         |      // 900000000 AS INTEGER)) AS w
         |  FROM v JOIN p ON v.user_id = p.user_id
         |    AND v.vts <= p.pts
         |    AND v.vts >= p.pts - INTERVAL 1 HOUR),
         |sw AS (SELECT pid, sum(w) AS sumw FROM j GROUP BY 1),
         |c AS (
         |  SELECT j.vts, j.pid,
         |    CAST((CAST(j.vu AS HUGEINT) * 1000000 * j.w) // sw.sumw
         |      AS BIGINT) AS credit
         |  FROM j JOIN sw USING (pid))
         |SELECT CAST(hour(vts) AS BIGINT) AS view_hour,
         |  count(*) AS n_views,
         |  CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases,
         |  CAST(sum(credit) AS BIGINT) AS credited_micro,
         |  ${graft.functions.ScalarFns.roundSql(
            "sum(credit) / 10000000000.0", 4)} AS credited_value
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)
}
