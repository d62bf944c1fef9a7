package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** EXACT distinct-count serving from mergeable bitmaps — the
  * ClickHouse `groupBitmap` / Doris `BITMAP` rollup tier next to the
  * approximate HLL family (reference provenance: the demo's fan-count
  * dashboards, `crm_demo/app.py:141-166`, recompute COUNT(DISTINCT)
  * per request).
  *
  * Three graded shapes:
  *  - [[bitmapDistinctUsers]]: the direct aggregate — exact distinct,
  *    partial aggregates shuffle container BYTES (≤ 8 KiB per 65536-id
  *    chunk), not rows, so it scales exactly like a sketch but answers
  *    exactly.
  *  - [[dailyUsersRollingBitmap]]: the stored-rollup pattern — per-day
  *    blobs merged over a calendar RANGE window; the raw corpus is
  *    touched once, every window answer is EXACT (the HLL twin
  *    `daily_users_rolling_hll` answers the same question at ~2 %
  *    error from 256 B/day; this is the exact-at-2 B/user trade).
  *  - [[weeklyChurnBitmap]]: set ALGEBRA between stored blobs —
  *    retained = |wk ∩ prev|, churned = |prev \ wk|, new = |wk \ prev|
  *    — intersection cardinalities no cardinality sketch can provide,
  *    and the reason warehouses store bitmaps rather than counts.
  *
  * 100 TB shape: group bitmaps are associative/commutative/idempotent
  * merges (BitmapSpec pins partition-order invariance), so the rollup
  * table build is one shuffle of canonical blobs; week-over-week
  * algebra then reads |weeks| rows — corpus-size-independent serving.
  */
object BitmapOps extends graft.QueryModule {

  /** Exact per-type distinct users via the bitmap aggregate. */
  def bitmapDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(expr("bitmap_distinct(user_id)").as("users"),
        count(lit(1)).as("events"))
      .orderBy("event_type")
  }

  /** Rolling 3-day exact distinct users from per-day stored bitmaps —
    * same calendar-range discipline as `daily_users_rolling_hll` (a
    * day absent from the frame must not stretch the window); the
    * window runs over |days| blob rows, corpus-size-independent. */
  def dailyUsersRollingBitmap(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(expr("bitmap_state(user_id)").as("sk"))
      .withColumn("day_num",
        datediff(col("day"), lit("2024-01-01").cast("date")))
    val w = Window.orderBy(col("day_num")).rangeBetween(-2, 0)
    daily
      .withColumn("rolling_users", expr("bitmap_merge_count(sk)").over(w))
      .select(col("day"), col("rolling_users"))
      .orderBy("day")
  }

  /** Week-over-week retention/churn from stored weekly bitmaps: the
    * previous OBSERVED week's blob arrives by lag() over the
    * |weeks|-row frame, then all four measures are bitmap algebra —
    * no self-join of the corpus. First week: prev is NULL, so the
    * three pairwise measures are NULL (pinned in the oracle). */
  def weeklyChurnBitmap(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables(spark, dir, "events")
      .select(date_trunc("week", col("ts")).cast("date").as("wk"),
        col("user_id"))
      .groupBy(col("wk"))
      .agg(expr("bitmap_state(user_id)").as("sk"))
    val w = Window.orderBy(col("wk"))
    weekly
      .withColumn("psk", lag(col("sk"), 1).over(w))
      .select(col("wk"),
        expr("bitmap_card(sk)").as("active"),
        expr("bitmap_and_count(sk, psk)").as("retained"),
        expr("bitmap_andnot_count(psk, sk)").as("churned"),
        expr("bitmap_andnot_count(sk, psk)").as("new_users"))
      .orderBy("wk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bitmap_distinct_users" -> (bitmapDistinctUsers _),
    "daily_users_rolling_bitmap" -> (dailyUsersRollingBitmap _),
    "weekly_churn_bitmap" -> (weeklyChurnBitmap _))

  val oracles: Map[String, String] = Map(
    "bitmap_distinct_users" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS users,
        |  count(*) AS events
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    // exact rolling distinct: rebuild each window from raw rows — what
    // merging the stored per-day blobs must equal (union associativity)
    "daily_users_rolling_bitmap" ->
      """WITH e AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        |  FROM events WHERE user_id IS NOT NULL),
        |days AS (SELECT DISTINCT day FROM e),
        |win AS (
        |  SELECT d.day, e.user_id FROM days d
        |  JOIN e ON e.day >= d.day - 2 AND e.day <= d.day)
        |SELECT day, CAST(count(DISTINCT user_id) AS BIGINT)
        |  AS rolling_users
        |FROM win GROUP BY 1 ORDER BY day""".stripMargin,
    // pairwise set cardinalities from raw rows; first observed week's
    // pairwise measures pinned NULL on both engines
    "weekly_churn_bitmap" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS wk,
        |    user_id
        |  FROM events WHERE user_id IS NOT NULL),
        |weeks AS (
        |  SELECT wk, lag(wk) OVER (ORDER BY wk) AS pwk
        |  FROM (SELECT DISTINCT wk FROM e)),
        |act AS (
        |  SELECT wk, CAST(count(*) AS BIGINT) AS active
        |  FROM e GROUP BY 1),
        |ret AS (
        |  SELECT w.wk, CAST(count(*) AS BIGINT) AS retained
        |  FROM weeks w
        |  JOIN e a ON a.wk = w.wk
        |  JOIN e b ON b.wk = w.pwk AND b.user_id = a.user_id
        |  GROUP BY 1)
        |SELECT w.wk, a.active,
        |  CASE WHEN w.pwk IS NULL THEN NULL
        |       ELSE coalesce(r.retained, 0) END AS retained,
        |  CASE WHEN w.pwk IS NULL THEN NULL
        |       ELSE pa.active - coalesce(r.retained, 0) END AS churned,
        |  CASE WHEN w.pwk IS NULL THEN NULL
        |       ELSE a.active - coalesce(r.retained, 0) END AS new_users
        |FROM weeks w
        |JOIN act a ON a.wk = w.wk
        |LEFT JOIN act pa ON pa.wk = w.pwk
        |LEFT JOIN ret r ON r.wk = w.wk
        |ORDER BY w.wk""".stripMargin)
}
