package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** KMV (k-minimum-values) distinct sketches with SET OPERATIONS — the
  * approximate tier between the exact bitmaps (2 B/user) and HLL
  * (256 B total, union-only): ≤2 KiB blobs that answer union,
  * INTERSECTION and Jaccard questions no cardinality-only sketch can
  * (Beyer et al., SIGMOD 2007). Reference provenance: the demo's
  * overlap dashboards (`crm_demo/app.py:141-166`) recompute pairwise
  * COUNT(DISTINCT) overlaps per request; `weekly_churn_bitmap` is the
  * exact twin of [[kmvTypeOverlap]].
  *
  * Everything is graded EXACTLY: the estimator is a deterministic
  * function of the data under the pinned md5-nibble hash, so the
  * DuckDB oracles rebuild the k smallest distinct hash values with
  * window functions and apply the identical BIGINT formulas — the
  * hash comparison proves the sketch algebra itself, not just "close".
  *
  * 100 TB shape: sketch partials merge associatively (k smallest of a
  * union = k smallest of the per-part k-smallest — the pigeonhole that
  * also powers the salted top-k sampler), so the corpus shuffle
  * carries ≤2 KiB blobs; the stored weekly rollup then answers any
  * regrouped range/overlap question at |weeks|-row cost.
  */
object KmvOps extends graft.QueryModule {

  /** Per-type distinct-user estimates from the direct aggregate; a
    * type below k=256 distinct users answers EXACTLY (n_kept < k ⇒
    * the sketch is the whole distinct hash set — pinned at sf0.001
    * in KmvSketchSpec). */
  def kmvUsersByType(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(expr("kmv_sketch(CAST(user_id AS STRING))").as("o"))
      .select(col("event_type"),
        col("o.est").as("est"),
        col("o.kth").as("kth"),
        col("o.n_kept").as("n_kept"))
      .orderBy("event_type")
  }

  /** Stored-rollup re-aggregation: weekly `kmv_state` blobs regrouped
    * to the month of the week's start and merged — the union merge is
    * EXACT w.r.t. the sketch (k smallest of the union of two sets is
    * always inside the union of their k-smallest), so the oracle
    * recomputes each month straight from raw rows. */
  def kmvMonthlyFromWeekly(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables(spark, dir, "events")
      .filter(col("user_id").isNotNull)
      .select(date_trunc("week", col("ts")).cast("date").as("wk"),
        col("user_id"))
      .groupBy(col("wk"))
      .agg(expr("kmv_state(CAST(user_id AS STRING))").as("sk"))
    weekly
      .groupBy(date_trunc("month", col("wk")).cast("date").as("month"))
      .agg(expr("kmv_merge(sk)").as("o"))
      .select(col("month"),
        col("o.est").as("est"),
        col("o.n_kept").as("n_kept"))
      .orderBy("month")
  }

  /** Pairwise audience OVERLAP between event types from stored blobs:
    * union estimate, Jaccard (ppm) and intersection estimate via the
    * Beyer et al. ratio estimator — set algebra HLL registers cannot
    * express. The pair join runs over |types| catalog rows. */
  def kmvTypeOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sk = Tables(spark, dir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(expr("kmv_state(CAST(user_id AS STRING))").as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
    a.join(b, col("type_a") < col("type_b"))
      .withColumn("o", expr("kmv_ops(ska, skb)"))
      .select(col("type_a"), col("type_b"),
        col("o.union_est").as("union_est"),
        col("o.n_common").as("n_common"),
        col("o.k_used").as("k_used"),
        col("o.jaccard_ppm").as("jaccard_ppm"),
        col("o.inter_est").as("inter_est"))
      .orderBy("type_a", "type_b")
  }

  /** Rolling 3-day distinct estimate from per-day stored blobs — the
    * `daily_users_rolling_bitmap` serving pattern at sketch cost: the
    * calendar RANGE window merges ≤3 stored ≤2 KiB blobs per answer
    * row (an absent day must not stretch the window), the raw corpus
    * is touched once; every window answer is the estimate the one-shot
    * sketch of those days' raw rows would give (merge exactness —
    * KmvSketchSpec), and the oracle rebuilds each window from raw rows
    * to prove precisely that. */
  def dailyUsersRollingKmv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir, "events")
      .filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(expr("kmv_state(CAST(user_id AS STRING))").as("sk"))
      .withColumn("day_num",
        datediff(col("day"), lit("2024-01-01").cast("date")))
    val w = Window.orderBy(col("day_num")).rangeBetween(-2, 0)
    daily
      .withColumn("o", expr("kmv_merge(sk)").over(w))
      .select(col("day"), col("o.est").as("rolling_est"),
        col("o.n_kept").as("n_kept"))
      .orderBy("day")
  }

  /** GDPR and the sketch tier: KMV (like HLL) is NOT SUBTRACTABLE —
    * the blob keeps only the k smallest hashes, so retiring an id that
    * sits inside the sketch cannot be compensated (the evicted
    * (k+1)-th smallest value is gone), and position-deleting rows out
    * of a stored BLOB is meaningless. The sound erasure path for a
    * sketch rollup is REBUILD over the surviving corpus — this query
    * is that rebuild, graded from scratch over the survivors (the
    * [[Erasure]] user class, md5 nibble 'a'). KmvSketchSpec pins the
    * non-subtractability concretely: an erased user's hash sits inside
    * at least one stored sketch, so the rebuilt blob differs — not
    * just its estimate. */
  def kmvUsersErasedRebuild(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .filter(col("user_id").isNotNull &&
        substring(md5(col("user_id").cast("string")), 1, 1) =!= "a")
      .groupBy(col("event_type"))
      .agg(expr("kmv_sketch(CAST(user_id AS STRING))").as("o"))
      .select(col("event_type"),
        col("o.est").as("est"),
        col("o.kth").as("kth"),
        col("o.n_kept").as("n_kept"))
      .orderBy("event_type")
  }

  /** DuckDB twin of the first-8-nibble u32 (the Curation.u32Sql
    * polynomial, inlined here over a column named `h`). */
  private val u32Poly: String = (1 to 8).map { j =>
    val mult = 1L << (4 * (8 - j))
    s"(instr('0123456789abcdef', substr(h, $j, 1)) - 1) * $mult"
  }.mkString(" + ")

  /** Shared oracle prefix: each type's stored sketch = its 256
    * smallest distinct hash values. */
  private val skCte: String =
    s"""WITH hx AS (
       |  SELECT DISTINCT event_type AS t,
       |    md5(CAST(user_id AS VARCHAR)) AS h
       |  FROM events WHERE user_id IS NOT NULL),
       |hv AS (SELECT t, $u32Poly AS v FROM hx),
       |hd AS (SELECT DISTINCT t, v FROM hv),
       |r AS (SELECT t, v,
       |    row_number() OVER (PARTITION BY t ORDER BY v) AS rk
       |  FROM hd),
       |sk AS (SELECT t, v, rk FROM r WHERE rk <= 256)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kmv_users_by_type" -> (kmvUsersByType _),
    "kmv_monthly_from_weekly" -> (kmvMonthlyFromWeekly _),
    "kmv_type_overlap" -> (kmvTypeOverlap _),
    "kmv_users_erased_rebuild" -> (kmvUsersErasedRebuild _),
    "daily_users_rolling_kmv" -> (dailyUsersRollingKmv _))

  val oracles: Map[String, String] = Map(
    "kmv_users_by_type" ->
      s"""$skCte,
         |agg AS (SELECT t, max(rk) AS n_kept, max(v) AS kth
         |  FROM sk GROUP BY 1)
         |SELECT t AS event_type,
         |  CAST(CASE WHEN n_kept < 256 THEN n_kept
         |       ELSE (255 * 4294967296) // kth END AS BIGINT) AS est,
         |  CAST(kth AS BIGINT) AS kth,
         |  CAST(n_kept AS BIGINT) AS n_kept
         |FROM agg ORDER BY event_type""".stripMargin,
    // months recomputed straight from raw rows — grading proves the
    // weekly-blob merge exact w.r.t. the sketch definition
    "kmv_monthly_from_weekly" ->
      s"""WITH hx AS (
         |  SELECT DISTINCT
         |    CAST(date_trunc('month', CAST(date_trunc('week', ts) AS DATE))
         |      AS DATE) AS month,
         |    md5(CAST(user_id AS VARCHAR)) AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |hv AS (SELECT month, $u32Poly AS v FROM hx),
         |hd AS (SELECT DISTINCT month, v FROM hv),
         |r AS (SELECT month, v,
         |    row_number() OVER (PARTITION BY month ORDER BY v) AS rk
         |  FROM hd),
         |sk AS (SELECT month, v, rk FROM r WHERE rk <= 256),
         |agg AS (SELECT month, max(rk) AS n_kept, max(v) AS kth
         |  FROM sk GROUP BY 1)
         |SELECT month,
         |  CAST(CASE WHEN n_kept < 256 THEN n_kept
         |       ELSE (255 * 4294967296) // kth END AS BIGINT) AS est,
         |  CAST(n_kept AS BIGINT) AS n_kept
         |FROM agg ORDER BY month""".stripMargin,
    "kmv_type_overlap" ->
      s"""$skCte,
         |ts AS (SELECT DISTINCT t FROM sk),
         |p AS (SELECT a.t AS ta, b.t AS tb
         |  FROM ts a JOIN ts b ON a.t < b.t),
         |uv AS (SELECT p.ta, p.tb, s.v
         |  FROM p JOIN sk s ON s.t = p.ta OR s.t = p.tb
         |  GROUP BY 1, 2, 3),
         |ur AS (SELECT ta, tb, v,
         |    row_number() OVER (PARTITION BY ta, tb ORDER BY v) AS rk
         |  FROM uv),
         |us AS (SELECT ta, tb, v, rk FROM ur WHERE rk <= 256),
         |st AS (SELECT ta, tb, max(rk) AS k_used, max(v) AS kth
         |  FROM us GROUP BY 1, 2),
         |cm AS (SELECT u.ta, u.tb, count(*) AS n_common
         |  FROM us u
         |  JOIN sk a ON a.t = u.ta AND a.v = u.v
         |  JOIN sk b ON b.t = u.tb AND b.v = u.v
         |  GROUP BY 1, 2),
         |fin AS (SELECT s.ta, s.tb, s.k_used,
         |    CASE WHEN s.k_used < 256 THEN s.k_used
         |         ELSE (255 * 4294967296) // s.kth END AS union_est,
         |    coalesce(c.n_common, 0) AS n_common
         |  FROM st s LEFT JOIN cm c ON c.ta = s.ta AND c.tb = s.tb)
         |SELECT ta AS type_a, tb AS type_b,
         |  CAST(union_est AS BIGINT) AS union_est,
         |  CAST(n_common AS BIGINT) AS n_common,
         |  CAST(k_used AS BIGINT) AS k_used,
         |  CAST((1000000 * n_common) // k_used AS BIGINT) AS jaccard_ppm,
         |  CAST((n_common * union_est) // k_used AS BIGINT) AS inter_est
         |FROM fin ORDER BY type_a, type_b""".stripMargin,
    // rebuild over the SURVIVING corpus — the only sound sketch-erasure
    // path (blobs are not subtractable); identical chain + the erase
    // predicate at the source
    "kmv_users_erased_rebuild" ->
      s"""WITH hx AS (
         |  SELECT DISTINCT event_type AS t,
         |    md5(CAST(user_id AS VARCHAR)) AS h
         |  FROM events
         |  WHERE user_id IS NOT NULL
         |    AND substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <> 'a'),
         |hv AS (SELECT t, $u32Poly AS v FROM hx),
         |hd AS (SELECT DISTINCT t, v FROM hv),
         |r AS (SELECT t, v,
         |    row_number() OVER (PARTITION BY t ORDER BY v) AS rk
         |  FROM hd),
         |sk AS (SELECT t, v, rk FROM r WHERE rk <= 256),
         |agg AS (SELECT t, max(rk) AS n_kept, max(v) AS kth
         |  FROM sk GROUP BY 1)
         |SELECT t AS event_type,
         |  CAST(CASE WHEN n_kept < 256 THEN n_kept
         |       ELSE (255 * 4294967296) // kth END AS BIGINT) AS est,
         |  CAST(kth AS BIGINT) AS kth,
         |  CAST(n_kept AS BIGINT) AS n_kept
         |FROM agg ORDER BY event_type""".stripMargin,
    // each window rebuilt from raw rows (the rolling-bitmap oracle
    // shape + the kmv formula) — merging stored per-day blobs must
    // equal the one-shot sketch of the window's rows
    "daily_users_rolling_kmv" ->
      s"""WITH e AS (
         |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         |    md5(CAST(user_id AS VARCHAR)) AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |hv AS (SELECT day, $u32Poly AS v FROM e),
         |days AS (SELECT DISTINCT day FROM hv),
         |win AS (
         |  SELECT d.day, x.v FROM days d
         |  JOIN hv x ON x.day >= d.day - 2 AND x.day <= d.day
         |  GROUP BY 1, 2),
         |r AS (SELECT day, v,
         |    row_number() OVER (PARTITION BY day ORDER BY v) AS rk
         |  FROM win),
         |sk AS (SELECT day, v, rk FROM r WHERE rk <= 256),
         |agg AS (SELECT day, max(rk) AS n_kept, max(v) AS kth
         |  FROM sk GROUP BY 1)
         |SELECT day,
         |  CAST(CASE WHEN n_kept < 256 THEN n_kept
         |       ELSE (255 * 4294967296) // kth END AS BIGINT)
         |    AS rolling_est,
         |  CAST(n_kept AS BIGINT) AS n_kept
         |FROM agg ORDER BY day""".stripMargin)
}
