package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** POISSON BOOTSTRAP — distributed confidence intervals (SURVEY.md §2
  * A-family extension; the resampling move for estimator uncertainty
  * at data sizes where the classical bootstrap is impossible).
  *
  * The classical bootstrap draws n rows WITH replacement per replica —
  * at 100 TB that is a per-replica shuffle of the whole table, B times.
  * The Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for
  * Massive Data Streams", and the standard trick in Hadley's
  * "bootstrap for big data" literature) replaces the multinomial
  * resample with an independent per-row draw: each row enters replica
  * b with multiplicity ~ Poisson(1) (correct because Binomial(n, 1/n)
  * → Poisson(1) as n grows). That turns each replica into pure MAP
  * work — one scan emits all B replica contributions, one tiny
  * aggregate (B rows) finishes — no shuffle of data rows, no
  * per-replica pass. This is THE way a 1000-executor cluster puts an
  * error bar on a 100 TB mean.
  *
  * Determinism contract: the Poisson(1) draw is the inverse-CDF over a
  * 32-bit uniform derived from md5(orderkey ':' replica) — first 8 hex
  * nibbles as an integer (the repo's hash-uniform idiom,
  * [[Curation]]). The CDF thresholds are floor(CDF_k · 2³²) integer
  * LITERALS (computed once from StrictMath.exp(-1) and interpolated
  * into BOTH engines' SQL), so the draw is pure integer comparison —
  * no floating point anywhere in the resample. Multiplicity is capped
  * at 6 (P(X>6|λ=1) ≈ 8·10⁻⁵ of mass; the cap is part of the operator
  * definition and identical on both sides). Replica means are graded
  * in exact micro-cents: floor(Σ(cnt·cents)·10⁶ / Σcnt) — BIGINT end
  * to end.
  *
  * Reference behavior: the reference demo reports aggregate order
  * statistics (mean revenue tiles); this adds the uncertainty
  * quantification a decision off those tiles needs.
  */
object Bootstrap extends graft.QueryModule {

  /** Number of bootstrap replicas. 32 keeps the graded surface small;
    * production uses 100-1000 — the plan shape is identical (the
    * per-row fan-out constant changes, nothing else). */
  private[graft] val B = 32

  /** floor(P(Poisson(1) ≤ k) · 2³²) for k = 0..5; multiplicity 6 is
    * the capped tail. StrictMath for bit-reproducible constants. */
  private[graft] val CdfThresholds: Seq[Long] = {
    val p0 = StrictMath.exp(-1.0)
    // P(X = k) = e⁻¹ / k!  →  cumulative sums
    val pmf = (0 to 5).map(k => p0 / (1 to k).product.toDouble)
    pmf.scanLeft(0.0)(_ + _).tail
      .map(cdf => (cdf * 4294967296.0).toLong)
  }

  /** Inverse-CDF multiplicity from a 32-bit uniform column. */
  private def multiplicity(u: org.apache.spark.sql.Column) =
    CdfThresholds.zipWithIndex.foldRight(lit(6)) { case ((t, k), rest) =>
      when(u < t, k).otherwise(rest)
    }.cast("long")

  /** (replica, n_draws, s_cents): one scan fans each order row out to
    * its B replica draws (map-side), one B-row aggregate finishes.
    * The B·n md5 evaluations are the whole bill and they are CPU-bound
    * — fanned out first (a bench-scale orders file is one split, the
    * Similarity lesson) — and ResultCache-shared: the means query and
    * the CI query both consume this one 32-row frame. */
  private def replicaSums(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|bootstrap_sums|$dir|$B",
      ttlSeconds = 300) {
      val o = Tables.fanOut(spark,
          Tables(spark, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice")),
          key = "o_orderkey")
        .select(col("o_orderkey").cast("string").as("k"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        .select(col("k"), col("cents"),
          explode(sequence(lit(0), lit(B - 1))).as("replica"))
      // bind the uniform draw as a REAL column before the inverse-CDF
      // when-chain (r12, guide §4/codegen): expressions inside
      // conditional branches are excluded from codegen subexpression
      // elimination, so an inlined `u` re-evaluated md5+conv once per
      // branch — up to 7× per row, profiled as ~65 s of CPU for B·n =
      // 4.8M draws. Projected first, the digest runs exactly once.
      val u = conv(substring(
        md5(concat(col("k"), lit(":"), col("replica").cast("string"))),
        1, 8), 16, 10).cast("long")
      o.select(col("replica").cast("long").as("replica"), col("cents"),
          u.as("u"))
        .select(col("replica"), col("cents"),
          multiplicity(col("u")).as("cnt"))
        .groupBy("replica")
        .agg(sum(col("cnt")).as("n_draws"),
          sum(col("cnt") * col("cents")).as("s_cents"))
    }

  private def meanMicro(s: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column) =
    floor(s.cast("decimal(38,0)") * 1000000 / n).cast("long")

  /** GRADED: the full bootstrap distribution — per replica, the draw
    * count and the replica mean in exact micro-cents. */
  def bootstrapPriceMeans(spark: SparkSession, dir: String): DataFrame =
    replicaSums(spark, dir)
      .select(col("replica"), col("n_draws"),
        meanMicro(col("s_cents"), col("n_draws")).as("mean_micro_cents"))
      .orderBy("replica")

  /** GRADED: the decision artifact — point estimate + 90 % percentile
    * CI (5th/95th percentile_disc over the B replica means; with B=32,
    * the 2nd and 31st order statistics). */
  def bootstrapPriceCi(spark: SparkSession, dir: String): DataFrame = {
    val means = bootstrapPriceMeans(spark, dir)
    val point = Tables(spark, dir, "orders")
      .agg(meanMicro(
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")), count(lit(1))).as("point_mean_micro_cents"))
    val ci = means.agg(
      count(lit(1)).as("n_replicas"),
      expr("CAST(percentile_disc(0.05) WITHIN GROUP " +
        "(ORDER BY mean_micro_cents) AS BIGINT)").as("ci_lo_micro_cents"),
      expr("CAST(percentile_disc(0.95) WITHIN GROUP " +
        "(ORDER BY mean_micro_cents) AS BIGINT)").as("ci_hi_micro_cents"))
    ci.crossJoin(point)
      .select(col("n_replicas"), col("point_mean_micro_cents"),
        col("ci_lo_micro_cents"), col("ci_hi_micro_cents"))
      .orderBy("n_replicas")
  }

  /** GRADED: the GROUPED form — a 90 % CI beside every tile of a
    * per-group mean report (here per order priority). Same map-only
    * draw; the only change is the aggregate key (group, replica) and a
    * per-group percentile finish — the pattern composes with any
    * grouped estimator, which is the point: at 100 TB the whole
    * report's error bars cost ONE extra constant-factor scan, not a
    * per-group resample. */
  def bootstrapGroupCi(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.fanOut(spark,
        Tables(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice")),
        key = "o_orderkey")
      .select(col("o_orderpriority").as("grp"),
        col("o_orderkey").cast("string").as("k"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      .select(col("grp"), col("k"), col("cents"),
        explode(sequence(lit(0), lit(B - 1))).as("replica"))
    // same bound-column discipline as replicaSums (r12): one digest
    // per row, not one per inverse-CDF branch
    val u = conv(substring(
      md5(concat(col("k"), lit(":"), col("replica").cast("string"))),
      1, 8), 16, 10).cast("long")
    val means = o
      .select(col("grp"), col("replica"), col("cents"), u.as("u"))
      .select(col("grp"), col("replica"), col("cents"),
        multiplicity(col("u")).as("cnt"))
      .groupBy(col("grp"), col("replica"))
      .agg(sum(col("cnt")).as("n"), sum(col("cnt") * col("cents")).as("s"))
      .select(col("grp"), meanMicro(col("s"), col("n")).as("m"))
    val point = Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(meanMicro(
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")), count(lit(1))).as("point_mean_micro_cents"))
    means.groupBy(col("grp"))
      .agg(
        expr("CAST(percentile_disc(0.05) WITHIN GROUP " +
          "(ORDER BY m) AS BIGINT)").as("ci_lo_micro_cents"),
        expr("CAST(percentile_disc(0.95) WITHIN GROUP " +
          "(ORDER BY m) AS BIGINT)").as("ci_hi_micro_cents"))
      .join(point, Seq("grp"))
      .select(col("grp").as("o_orderpriority"),
        col("point_mean_micro_cents"),
        col("ci_lo_micro_cents"), col("ci_hi_micro_cents"))
      .orderBy("o_orderpriority")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bootstrap_price_means" -> (bootstrapPriceMeans(_, _)),
    "bootstrap_price_ci" -> (bootstrapPriceCi(_, _)),
    "bootstrap_group_ci" -> (bootstrapGroupCi(_, _)))

  /** DuckDB 32-bit uniform: polynomial over the first 8 md5 nibbles
    * (conv() has no DuckDB equivalent — the [[Curation]] idiom). */
  private def u32Sql(keyExpr: String): String = {
    val terms = (1 to 8).map { j =>
      val mult = 1L << (4 * (8 - j))
      s"(instr('0123456789abcdef', substr(h, $j, 1)) - 1) * $mult"
    }.mkString(" + ")
    s"(SELECT $terms FROM (SELECT md5($keyExpr) AS h))"
  }

  private def cntCaseSql(u: String): String =
    CdfThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN $u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 6 END")

  private val MeansCte: String = {
    val u = u32Sql("CAST(o_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR)")
    s"""WITH x AS (
       |  SELECT o_orderkey,
       |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS cents,
       |    unnest(range(0, $B)) AS b
       |  FROM orders),
       |d AS (
       |  SELECT b AS replica, cents, ${cntCaseSql(u)} AS cnt FROM x),
       |m AS (
       |  SELECT replica, CAST(sum(cnt) AS BIGINT) AS n_draws,
       |    CAST((CAST(sum(cnt * cents) AS HUGEINT) * 1000000)
       |      // CAST(sum(cnt) AS HUGEINT) AS BIGINT) AS mean_micro_cents
       |  FROM d GROUP BY 1)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "bootstrap_price_means" ->
      s"""$MeansCte
         |SELECT CAST(replica AS BIGINT) AS replica, n_draws,
         |  mean_micro_cents
         |FROM m ORDER BY replica""".stripMargin,
    "bootstrap_price_ci" ->
      s"""$MeansCte,
         |pt AS (
         |  SELECT CAST((CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
         |      * 100 AS BIGINT)) AS HUGEINT) * 1000000)
         |      // CAST(count(*) AS HUGEINT) AS BIGINT)
         |    AS point_mean_micro_cents
         |  FROM orders),
         |ci AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_replicas,
         |    CAST(percentile_disc(0.05) WITHIN GROUP
         |      (ORDER BY mean_micro_cents) AS BIGINT) AS ci_lo_micro_cents,
         |    CAST(percentile_disc(0.95) WITHIN GROUP
         |      (ORDER BY mean_micro_cents) AS BIGINT) AS ci_hi_micro_cents
         |  FROM m)
         |SELECT n_replicas, point_mean_micro_cents, ci_lo_micro_cents,
         |  ci_hi_micro_cents
         |FROM ci CROSS JOIN pt ORDER BY n_replicas""".stripMargin,
    "bootstrap_group_ci" -> {
      val u = u32Sql(
        "CAST(o_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR)")
      s"""WITH x AS (
         |  SELECT o_orderpriority AS grp, o_orderkey,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      AS cents,
         |    unnest(range(0, $B)) AS b
         |  FROM orders),
         |d AS (
         |  SELECT grp, b AS replica, cents, ${cntCaseSql(u)} AS cnt
         |  FROM x),
         |m AS (
         |  SELECT grp, replica,
         |    CAST((CAST(sum(cnt * cents) AS HUGEINT) * 1000000)
         |      // CAST(sum(cnt) AS HUGEINT) AS BIGINT) AS m
         |  FROM d GROUP BY 1, 2),
         |ci AS (
         |  SELECT grp,
         |    CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY m)
         |      AS BIGINT) AS ci_lo_micro_cents,
         |    CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY m)
         |      AS BIGINT) AS ci_hi_micro_cents
         |  FROM m GROUP BY 1),
         |pt AS (
         |  SELECT o_orderpriority AS grp,
         |    CAST((CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
         |        * 100 AS BIGINT)) AS HUGEINT) * 1000000)
         |        // CAST(count(*) AS HUGEINT) AS BIGINT)
         |      AS point_mean_micro_cents
         |  FROM orders GROUP BY 1)
         |SELECT ci.grp AS o_orderpriority, pt.point_mean_micro_cents,
         |  ci.ci_lo_micro_cents, ci.ci_hi_micro_cents
         |FROM ci JOIN pt ON ci.grp = pt.grp
         |ORDER BY o_orderpriority""".stripMargin
    })
}
