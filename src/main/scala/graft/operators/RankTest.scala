package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** MANN-WHITNEY RANK-SUM TEST — the nonparametric two-sample location
  * test (Mann/Whitney 1947; the Wilcoxon rank-sum form): do BUILDING
  * and MACHINERY customers draw their order prices from the same
  * distribution? The reference's analytics surface stops at per-segment
  * means (`tools.py:60-72` thresholds); the rank-sum statistic is the
  * robust comparison a price-distribution drift review actually wants —
  * medians-insensitive-to-outliers, no normality assumption (the
  * parametric counterpart lives in [[Stats]]' z/chi² family).
  *
  * Exactness: ranks are handled at DISTINCT-VALUE granularity with
  * midrank tie correction, and every quantity is carried DOUBLED so
  * midranks (the only ½-fractions) stay integers: for a distinct value
  * v with total count m(v) and c(v) rows strictly below, the doubled
  * midrank is 2c(v)+m(v)+1, so the doubled rank sum of group A is
  * Σ_v ma(v)·(2c(v)+m(v)+1) — pure BIGINT arithmetic, no floats, no
  * halves. Emitted: n per group, A's doubled rank sum, A's doubled
  * U statistic (U2 = R2 − na(na+1)), and the tie-correction term
  * Σ(m³−m) that the normal-approximation variance needs
  * (σ² = na·nb/12·[(n+1) − Σ(m³−m)/(n(n−1))]) — the z finish is one
  * scalar division the caller does; everything data-sized is exact
  * here. (BIGINT holds to ~10⁹ rows per cell pair; at planetary scale
  * swap the sums to decimal(38,0) — the [[EventOps]] z-test move.)
  *
  * 100 TB shape: the only row-granularity work is the fact⋈dim join
  * (broadcast dim) and one partial-agg shuffle to distinct-value
  * granularity. The prefix count c(v) is the [[Concentration]]/
  * [[Packing]] two-phase decomposition — value-range buckets from a
  * broadcast 1-row bound, per-bucket running sums in parallel, one
  * catalog-sized (B-row) window for cross-bucket offsets — never a
  * global sort. The DuckDB oracle uses the naive single-window prefix
  * sum, so hash equality proves the decomposition exact, ties
  * included.
  */
object RankTest extends graft.QueryModule {

  private val SegA = "BUILDING"
  private val SegB = "MACHINERY"

  /** Value-range fan-out (16 here; hundreds at 100 TB). */
  private val Buckets = 16

  /** GRADED: the doubled rank-sum/U statistics, one row. */
  def segmentRankSum(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment").isin(SegA, SegB))
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val j = Tables(spark, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_totalprice").as("v"), col("seg"))
    // distinct-value granularity: one partial-agg shuffle
    val g = j.groupBy(col("v")).agg(
      count(when(col("seg") === SegA, 1)).as("ma"),
      count(when(col("seg") === SegB, 1)).as("mb"),
      count(lit(1)).as("m"))
    // two-phase prefix count c(v): range-bucket, local running sums,
    // broadcast cross-bucket offsets (the Concentration discipline)
    val bounds = g.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val b = g.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        least(lit(Buckets - 1), greatest(lit(0),
          floor((col("v") - col("lo")) /
            ((col("hi") - col("lo")) / Buckets + lit(1e-6)))
            .cast("int"))))
      .drop("lo", "hi")
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = b.withColumn("lc", coalesce(sum(col("m")).over(wIn), lit(0L)))
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = b.groupBy(col("bucket")).agg(sum(col("m")).as("bm"))
      .withColumn("offset", coalesce(sum(col("bm")).over(wOff), lit(0L)))
      .select(col("bucket").as("obucket"), col("offset"))
    val c = local.join(broadcast(offs), col("bucket") === col("obucket"))
      .withColumn("c", col("offset") + col("lc"))
    // one final 1-row aggregate; the doubled-midrank identity
    c.agg(
        sum(col("ma")).as("n_a"),
        sum(col("mb")).as("n_b"),
        sum(col("ma") * (lit(2) * col("c") + col("m") + 1)).as("r2_a"),
        sum(col("m") * col("m") * col("m") - col("m")).as("tie_cubes"))
      .select(col("n_a"), col("n_b"),
        col("r2_a"),
        (col("r2_a") - col("n_a") * (col("n_a") + 1)).as("u2_a"),
        col("tie_cubes"))
  }

  /** TWO-SAMPLE KOLMOGOROV-SMIRNOV TEST — the distribution-SHAPE
    * companion to the location-sensitive rank-sum above (a scale or
    * tail change with equal medians slips past Mann-Whitney; KS is
    * sensitive to ANY CDF difference): D = max_v |F̂a(v) − F̂b(v)| over
    * the pooled distinct values. EXACT INTEGERS throughout — the CDFs
    * are never formed as fractions; the maximized quantity is the
    * cross-multiplied numerator |ca(v)·n_b − cb(v)·n_a| (ca = #a ≤ v),
    * and D is emitted once at the end as d_num·10⁶ div (n_a·n_b). The
    * argmax value is reported too (smallest v attaining the max — a
    * deterministic tie-break, and diagnostically WHERE the
    * distributions diverge most).
    *
    * Same 100 TB shape as [[segmentRankSum]]: one partial-agg shuffle
    * to distinct-value granularity, INCLUSIVE per-side prefix sums via
    * the two-phase bucket decomposition, then a 1-row finish; the
    * naive-window oracle proves the decomposition exact. */
  def segmentKsTest(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment").isin(SegA, SegB))
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val j = Tables(spark, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_totalprice").as("v"), col("seg"))
    val g = j.groupBy(col("v")).agg(
      count(when(col("seg") === SegA, 1)).as("ma"),
      count(when(col("seg") === SegB, 1)).as("mb"))
    val bounds = g.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val b = g.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        least(lit(Buckets - 1), greatest(lit(0),
          floor((col("v") - col("lo")) /
            ((col("hi") - col("lo")) / Buckets + lit(1e-6)))
            .cast("int"))))
      .drop("lo", "hi")
    // INCLUSIVE running sums (#≤v), per side
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = b
      .withColumn("la", sum(col("ma")).over(wIn))
      .withColumn("lb", sum(col("mb")).over(wIn))
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = b.groupBy(col("bucket"))
      .agg(sum(col("ma")).as("bma"), sum(col("mb")).as("bmb"))
      .withColumn("offa", coalesce(sum(col("bma")).over(wOff), lit(0L)))
      .withColumn("offb", coalesce(sum(col("bmb")).over(wOff), lit(0L)))
      .select(col("bucket").as("obucket"), col("offa"), col("offb"))
    val totals = g.agg(sum(col("ma")).as("n_a"), sum(col("mb")).as("n_b"))
    val d = local.join(broadcast(offs), col("bucket") === col("obucket"))
      .crossJoin(broadcast(totals))
      .select(col("v"), col("n_a"), col("n_b"),
        abs((col("offa") + col("la")) * col("n_b")
          - (col("offb") + col("lb")) * col("n_a")).as("d_num"))
    val dmax = d.agg(max(col("d_num")).as("d_num_max"))
    d.join(broadcast(dmax), col("d_num") === col("d_num_max"))
      .groupBy(col("n_a"), col("n_b"), col("d_num_max"))
      .agg(min((col("v").cast("decimal(18,2)") * 100).cast("long"))
        .as("v_at_max_cents"))
      .selectExpr("n_a", "n_b", "d_num_max", "v_at_max_cents",
        """CAST((CAST(d_num_max AS DECIMAL(38,0)) * 1000000)
          |  div (n_a * n_b) AS BIGINT) AS ks_d_ppm""".stripMargin)
      .orderBy("n_a")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "segment_rank_sum" -> (segmentRankSum(_, _)),
    "segment_ks_test" -> (segmentKsTest(_, _)))

  /** Oracle: the naive single-window prefix sum over distinct values —
    * no bucket machinery; hash equality proves the two-phase
    * decomposition exact (ties included via the midrank identity). */
  val oracles: Map[String, String] = Map(
    "segment_rank_sum" ->
      s"""WITH j AS (
        |  SELECT o_totalprice AS v, c_mktsegment AS seg
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('$SegA', '$SegB')),
        |g AS (
        |  SELECT v,
        |    count(*) FILTER (seg = '$SegA') AS ma,
        |    count(*) FILTER (seg = '$SegB') AS mb,
        |    count(*) AS m
        |  FROM j GROUP BY v),
        |cum AS (
        |  SELECT v, ma, mb, m,
        |    coalesce(sum(m) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
        |  FROM g),
        |s AS (
        |  SELECT CAST(sum(ma) AS BIGINT) AS n_a,
        |    CAST(sum(mb) AS BIGINT) AS n_b,
        |    CAST(sum(ma * (2*c + m + 1)) AS BIGINT) AS r2_a,
        |    CAST(sum(m*m*m - m) AS BIGINT) AS tie_cubes
        |  FROM cum)
        |SELECT n_a, n_b, r2_a,
        |  r2_a - n_a * (n_a + 1) AS u2_a, tie_cubes
        |FROM s""".stripMargin,
    // naive single-window inclusive CDFs; same cross-multiplied
    // integer numerator and smallest-argmax tie-break
    "segment_ks_test" ->
      s"""WITH j AS (
        |  SELECT o_totalprice AS v, c_mktsegment AS seg
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('$SegA', '$SegB')),
        |g AS (
        |  SELECT v,
        |    count(*) FILTER (seg = '$SegA') AS ma,
        |    count(*) FILTER (seg = '$SegB') AS mb
        |  FROM j GROUP BY v),
        |t AS (
        |  SELECT CAST(sum(ma) AS BIGINT) AS n_a,
        |    CAST(sum(mb) AS BIGINT) AS n_b FROM g),
        |cum AS (
        |  SELECT v,
        |    CAST(sum(ma) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS ca,
        |    CAST(sum(mb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cb
        |  FROM g),
        |d AS (
        |  SELECT v, t.n_a, t.n_b,
        |    abs(ca * t.n_b - cb * t.n_a) AS d_num
        |  FROM cum CROSS JOIN t),
        |mx AS (SELECT max(d_num) AS d_num_max FROM d)
        |SELECT d.n_a, d.n_b, mx.d_num_max,
        |  CAST(min(CAST(d.v AS DECIMAL(18,2)) * 100) AS BIGINT)
        |    AS v_at_max_cents,
        |  CAST((mx.d_num_max * 1000000) // (d.n_a * d.n_b) AS BIGINT)
        |    AS ks_d_ppm
        |FROM d JOIN mx ON d.d_num = mx.d_num_max
        |GROUP BY 1, 2, 3, mx.d_num_max, d.n_a, d.n_b
        |ORDER BY n_a""".stripMargin)
}
