package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ScalarFns

/** Distributed descriptive statistics with DETERMINISTIC results —
  * correlation / covariance / standard deviation per group (A-family
  * extension, SURVEY.md §2.6; generalizes the reference's avg-spend /
  * avg-open-rate aggregates in `tools.py:70-76` to second-moment
  * statistics).
  *
  * Why not Spark's built-in `corr`/`covar_samp`/`stddev`: they fold
  * doubles in partition order, so the last few bits of the result vary
  * run-to-run and NEVER match another engine bit-for-bit — fine for
  * exploration, useless under a hash-match gate (and genuinely
  * unpleasant at 100 TB, where a rerun of the same pipeline "changes"
  * metrics). The fix is the moneyAvg discipline applied to second
  * moments:
  *
  *  1. cast each input to `decimal(18,2)` FIRST (the inputs carry ≤2
  *     meaningful decimals, so the cast is exact on both engines);
  *  2. every moment (Σx, Σy, Σxy, Σx², Σy²) is a sum of EXACT decimal
  *     products — `decimal(18,2) × decimal(18,2) → decimal(37,4)` is
  *     exact integer arithmetic in both Spark and DuckDB, and decimal
  *     sums are order-independent;
  *  3. the closed-form corr/covar/stddev formulas run ONCE per group on
  *     the exact moments, in IEEE double with pinned operand order, and
  *     round via [[ScalarFns.roundN]].
  *
  * Scale shape: one partial-agg shuffle at group granularity (the
  * moments are algebraic, so map-side combine applies); the formulas
  * cost O(groups). Never a second pass over the data — this is the
  * textbook one-pass sufficient-statistics layout.
  */
object Stats extends graft.QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** n·Σxy − Σx·Σy etc., written once; operand order mirrored in the
    * oracle SQL below — double ops are exactly rounded, so identical
    * trees give identical bits. */
  def corrStats(spark: SparkSession, dir: String): DataFrame = {
    // fanned out: five exact-decimal moment products per row run in
    // the partial aggregate on the scan task — single-threaded on a
    // one-split file otherwise (Tables.fanOut scaladoc)
    val li = graft.Tables.fanOut(spark, Tables(spark, dir, "lineitem"),
      key = "l_orderkey")
    val x = dec(col("l_extendedprice"))
    val y = dec(col("l_quantity"))
    val m = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
    val n = col("n_rows").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double")
    val sxx = col("sxx").cast("double"); val syy = col("syy").cast("double")
    val covN = n * sxy - sx * sy
    val varXN = n * sxx - sx * sx
    val varYN = n * syy - sy * sy
    m.select(col("l_returnflag"), col("n_rows"),
        ScalarFns.roundN(covN / sqrt(varXN) / sqrt(varYN), 6)
          .as("corr_price_qty"),
        ScalarFns.roundN(covN / n / (n - lit(1.0)), 4).as("covar_samp"),
        ScalarFns.roundN(sqrt(varXN / n / (n - lit(1.0))), 4)
          .as("stddev_price"),
        ScalarFns.roundN(sqrt(varYN / n / (n - lit(1.0))), 4)
          .as("stddev_qty"))
      .orderBy("l_returnflag")
  }

  /** Chi-square test of independence over the (source × lang)
    * contingency table of `documents` — the categorical-association
    * diagnostic a data-quality pipeline runs to catch skewed ingest
    * (e.g. one source suddenly all-German). Per cell:
    *
    *   observed O   = exact count
    *   expected E   = rowMargin·colMargin / N  (exact BIGINT product,
    *                  one double division)
    *   contribution = (O − E)² / E             (pinned-order double)
    *
    * All inputs to every double op are exact integers, so the per-cell
    * values are bit-identical across engines; [[chi2Stat]] then sums
    * the ROUNDED contributions as exact decimals (order-independent)
    * into the statistic. Scale: two tiny broadcast margin frames joined
    * back to the cell aggregate — the corpus pays one partial-agg
    * shuffle; margins and cells are |sources|·|langs| rows. */
  def chi2Cells(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables(spark, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_obs"))
    val rs = cells.groupBy(col("source")).agg(sum(col("n_obs")).as("r"))
    val cs = cells.groupBy(col("lang")).agg(sum(col("n_obs")).as("c"))
    val nn = cells.agg(sum(col("n_obs")).as("n"))
    val o = col("n_obs").cast("double")
    val e = (col("r") * col("c")).cast("double") / col("n").cast("double")
    cells
      .join(broadcast(rs), Seq("source"))
      .join(broadcast(cs), Seq("lang"))
      .crossJoin(broadcast(nn))
      .select(col("source"), col("lang"), col("n_obs"),
        ScalarFns.roundN(e, 4).as("n_exp"),
        ScalarFns.roundN((o - e) * (o - e) / e, 6).as("contrib"))
      .orderBy("source", "lang")
  }

  /** The statistic itself: Σ over cells of the ROUNDED contributions
    * (decimal-summed — order-independent), with degrees of freedom. */
  def chi2Stat(spark: SparkSession, dir: String): DataFrame =
    chi2Cells(spark, dir).agg(
        count(lit(1)).as("n_cells"),
        ((countDistinct(col("source")) - 1)
          * (countDistinct(col("lang")) - 1)).as("dof"),
        ScalarFns.roundN(
          sum(col("contrib").cast("decimal(18,6)")).cast("double"), 4)
          .as("chi2"))

  // ----------------------------------------------------------------
  // Distribution DRIFT monitor — the data-quality gate a training
  // pipeline runs between ingest batches ("did this batch's value
  // distribution move?"). Two deterministic md5-halves of `events`
  // stand in for batch-vs-reference; the statistic is TOTAL VARIATION
  // distance over a fixed 10-bin histogram. Why TV and not PSI/KL:
  // log() is implementation-defined in the last ulp across engines
  // (useless under a hash gate), while TV reduces to INTEGER
  // arithmetic — ½·Σ|pᵢ−qᵢ| = Σ|nᵢᴬ·Nᴮ − nᵢᴮ·Nᴬ| / (2·Nᴬ·Nᴮ), whose
  // numerator is an order-independent sum of exact wide-decimal
  // products (no 64-bit wrap at any corpus size). One fanned scan →
  // bin partial-agg (10 rows) → 1-row reduce.
  // ----------------------------------------------------------------

  private def driftHalf: Column =
    substring(md5(col("event_id").cast("string")), 1, 1) < "8"

  /** 10 fixed-width bins over the GLOBAL value range (bounds from a
    * broadcast 1-row aggregate, in-plan) with per-half counts. */
  private[graft] def driftBins(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.fanOut(spark, Tables(spark, dir, "events"),
      key = "event_id")
    val b = e.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    e.crossJoin(broadcast(b))
      .withColumn("bin", least(lit(9L), greatest(lit(0L),
        floor((col("value") - col("lo")) * 10.0 / (col("hi") - col("lo")))
          .cast("long"))))
      .groupBy(col("bin"))
      .agg(sum(when(driftHalf, 1L).otherwise(0L)).as("n_a"),
        sum(when(!driftHalf, 1L).otherwise(0L)).as("n_b"))
  }

  /** GRADED: the per-bin two-sample histogram (the drift dashboard's
    * detail view). */
  def valueDrift(spark: SparkSession, dir: String): DataFrame =
    driftBins(spark, dir).orderBy("bin")

  /** GRADED: the 1-row drift summary — TV distance via the integer
    * cross-product form (one double division at the very end). */
  def valueDriftTv(spark: SparkSession, dir: String): DataFrame = {
    val bins = driftBins(spark, dir)
    val totals = bins.agg(sum(col("n_a")).as("na"), sum(col("n_b")).as("nb"))
    bins.crossJoin(broadcast(totals))
      .agg(first(col("na")).as("n_a_total"),
        first(col("nb")).as("n_b_total"),
        sum(abs(col("n_a").cast("decimal(38,0)") * col("nb")
          - col("n_b").cast("decimal(38,0)") * col("na"))).as("cross"))
      .select(col("n_a_total"), col("n_b_total"),
        ScalarFns.roundN(col("cross").cast("double")
          / (lit(2.0) * col("n_a_total") * col("n_b_total")), 4)
          .as("tv_distance"))
  }

  // ----------------------------------------------------------------
  // ANALYZE-style column statistics — the per-column (null count,
  // distinct count, min, max) table `ANALYZE TABLE ... COMPUTE
  // STATISTICS FOR COLUMNS` produces, i.e. the numbers a cost-based
  // optimizer joins/filters are planned from. One pruned one-column
  // scan per column, each folded value-granularity (r12: the previous
  // single multi-countDistinct aggregate planned an Expand ×7 with an
  // all-columns grouping key — see ordersColumnStats; at 100 TB swap
  // exact distinct for approx_count_distinct / the HLL sketch, the
  // `approx_users` discipline). Min/max aggregate the VALUE and render
  // the result in exactly-rendered types (BIGINT/VARCHAR/DECIMAL(18,2)/
  // DATE — the Integrity canonical-text discipline), never
  // lexicographic min over rendered strings.
  // ----------------------------------------------------------------

  def ordersColumnStats(spark: SparkSession, dir: String): DataFrame = {
    // r12 (§1.2/§2.3): the old single-agg form used one 6-way
    // multi-countDistinct, which plans an Expand (input ×7) feeding a
    // hash aggregate whose grouping key is ALL six columns at once —
    // profiled 4.7 s of near-single-task compute (and ~30 s of total
    // CPU when fanned out). Per-column value-granularity aggregation is
    // the classic ANALYZE decomposition: each column gets a pruned
    // one-column scan → (value, cnt) partial agg → 1-row fold, all six
    // subtrees running concurrently in one job. Same exact results
    // (count over the value frame ≡ countDistinct; sum of null-group
    // counts ≡ null count; min/max unchanged). At 100 TB the six pruned
    // scans read the same bytes the one 6-column scan did, with no ×7
    // row expansion and value-granularity (skew-free) partials.
    val o = Tables(spark, dir, "orders")
    def statsOf(c: String, f: Column => Column): DataFrame =
      o.select(col(c)).groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .agg(
          sum(when(col(c).isNull, col("cnt")).otherwise(0L)).as("n_nulls"),
          count(col(c)).as("n_distinct"),
          f(min(col(c))).cast("string").as("min_value"),
          f(max(col(c))).cast("string").as("max_value"))
        .select(lit(c).as("col_name"), col("n_nulls"), col("n_distinct"),
          col("min_value"), col("max_value"))
    val plain: Column => Column = identity
    statsOf("o_orderkey", plain)
      .unionByName(statsOf("o_custkey", plain))
      .unionByName(statsOf("o_orderstatus", plain))
      .unionByName(statsOf("o_totalprice", _.cast("decimal(18,2)")))
      .unionByName(statsOf("o_orderdate", to_date(_)))
      .unionByName(statsOf("o_orderpriority", plain))
      .orderBy("col_name")
  }

  /** The CBO arithmetic the column statistics above exist to feed,
    * graded against ground truth: the textbook equi-join cardinality
    * estimate |L ⋈ R| ≈ |L|·|R| / max(ndv_L, ndv_R) (uniform-frequency
    * + containment assumptions — Selinger '79, the formula inside
    * every cost-based optimizer including Spark's CBO join estimation)
    * next to the ACTUAL join count, with the error factor as a 4-dp
    * ratio. Integer inputs, one integer division, one final double
    * ratio — deterministic; the estimate is exact here because
    * o_custkey's frequencies are near-uniform and every order has a
    * customer (containment holds), which is itself worth pinning:
    * drift in this row means the corpus no longer satisfies the CBO's
    * assumptions. */
  def joinCardEstimate(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val stats = o.agg(count(lit(1)).as("n_left"),
        countDistinct(col("o_custkey")).as("ndv_left"))
      .crossJoin(c.agg(count(lit(1)).as("n_right"),
        countDistinct(col("c_custkey")).as("ndv_right")))
      .withColumn("est_rows",
        expr("(n_left * n_right) div greatest(ndv_left, ndv_right)"))
    val actual = o.join(c, col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("actual_rows"))
    stats.crossJoin(actual)
      .select(col("n_left"), col("n_right"), col("ndv_left"),
        col("ndv_right"), col("est_rows"), col("actual_rows"),
        ScalarFns.roundN(col("est_rows").cast("double")
          / col("actual_rows"), 4).as("est_over_actual"))
  }

  /** DATA-CONTRACT audit — the dbt-test / Deequ-check suite every
    * warehouse table ships with, as ONE graded query: NOT NULL and
    * uniqueness on the key, referential integrity in both directions
    * (every order's customer exists; every lineitem's order exists),
    * and domain/range constraints — each a (constraint, n_violations)
    * row, so the whole contract is pinned by one hash (including the
    * zeros: a constraint silently starting to fail flips the row).
    * Scale shape: the null/domain checks ride ONE scan each; the
    * uniqueness check is a key-granularity partial agg; the FK checks
    * are anti joins that broadcast the smaller key set — no check is
    * worse than the join a CBO would plan anyway. */
  def ordersContractAudit(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val l = Tables(spark, dir, "lineitem")
    def row(name: String, n: org.apache.spark.sql.DataFrame) =
      n.select(lit(name).as("constraint_name"),
        col("n").cast("bigint").as("n_violations"))
    val notNull = row("key_not_null",
      o.agg(sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n")))
    val unique = row("key_unique",
      o.groupBy(col("o_orderkey")).count().filter(col("count") > 1)
        .agg(count(lit(1)).as("n")))
    val fkCustomer = row("fk_orders_customer",
      o.select(col("o_custkey"))
        .join(broadcast(c.select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")))
    val fkLineitem = row("fk_lineitem_orders",
      l.select(col("l_orderkey"))
        .join(o.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n")))
    val price = row("price_positive",
      o.agg(sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("n")))
    val dates = row("date_in_range",
      o.agg(sum(when(to_date(col("o_orderdate")) < lit("1992-01-01").cast("date")
        || to_date(col("o_orderdate")) > lit("1998-12-31").cast("date"),
        1L).otherwise(0L)).as("n")))
    notNull.unionByName(unique).unionByName(fkCustomer)
      .unionByName(fkLineitem).unionByName(price).unionByName(dates)
      .orderBy("constraint_name")
  }

  // ----------------------------------------------------------------
  // Trend detection: per-type OLS fit of event value against time —
  // the drift DIRECTION the value_drift monitor can't give ("is this
  // metric moving, how fast, and how well does a line explain it").
  // Same discipline as corrStats: sufficient statistics (Σx, Σy, Σxy,
  // Σx², Σy²) as exact integer/decimal sums — x is WHOLE DAYS since a
  // fixed epoch (exact integer arithmetic off unix_micros; both
  // operands nonnegative, so Spark `div` ≡ DuckDB `//`), y an exact
  // decimal(18,6) — then the closed-form slope/intercept/R² ONCE per
  // group in pinned-order double. One partial-agg shuffle at type
  // granularity; the formulas cost O(types).
  // ----------------------------------------------------------------

  /** 2024-01-01T00:00:00Z in microseconds — the fixed day-zero. */
  private val TrendEpochUs = 1704067200000000L

  def valueTrendOls(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.fanOut(spark, Tables(spark, dir, "events"),
      key = "event_id")
      .withColumn("x",
        expr(s"(unix_micros(ts) - ${TrendEpochUs}L) div 86400000000"))
    val y = col("value").cast("decimal(18,6)")
    val m = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("x")).as("sx"),
        sum(y).as("sy"),
        sum(col("x").cast("decimal(18,0)") * y).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum((col("value") * col("value")).cast("decimal(28,10)")).as("syy"))
    val n = col("n_events").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxy = col("sxy").cast("double")
    val sxx = col("sxx").cast("double"); val syy = col("syy").cast("double")
    val covN = n * sxy - sx * sy
    val varXN = n * sxx - sx * sx
    val varYN = n * syy - sy * sy
    m.select(col("event_type"), col("n_events"),
        ScalarFns.roundN(covN / varXN, 6).as("slope_per_day"),
        ScalarFns.roundN((sy - covN / varXN * sx) / n, 4).as("intercept"),
        ScalarFns.roundN(covN * covN / varXN / varYN, 6).as("r2"))
      .orderBy("event_type")
  }

  /** ONE-PASS CORRELATION MATRIX — the multivariate profile step of
    * every feature-engineering pipeline (and the input to a CBO's
    * column-group statistics): Pearson r for EVERY pair of lineitem's
    * four numeric measures from a single aggregate of 15 exact-decimal
    * sufficient statistics (n, 4 sums, 4 sums of squares, 6 cross
    * sums) — the corpus is touched exactly once however many pairs
    * are profiled, vs one `corr()` pass per pair naively. Same
    * determinism discipline as [[corrStats]]: order-independent exact
    * decimal partial sums, closed-form doubles once per pair at the
    * end. */
  def lineitemCorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // micro-unit integers (×10⁴ — exact for these ≤4-dp columns) in
    // decimal(38,0): products ≤ ~1.2e18 and their corpus sums stay
    // exact; DuckDB mirrors with HUGEINT (the repo's cross-multiply
    // discipline — plain decimal×decimal overflows DuckDB's int64
    // product path at this width)
    def u(c: String) =
      (col(c).cast("decimal(18,4)") * 10000).cast("decimal(38,0)")
    val li = graft.Tables.fanOut(spark, Tables(spark, dir, "lineitem"),
      key = "l_orderkey")
    val sums = cols.map(c => sum(u(c)).as(s"s_$c")) ++
      cols.map(c => sum(u(c) * u(c)).as(s"ss_$c")) ++
      cols.combinations(2).map { case Seq(a, b) =>
        sum(u(a) * u(b)).as(s"sp_${a}_$b") }.toSeq
    val m = li.agg(count(lit(1)).as("n_rows"), sums: _*)
    val n = col("n_rows").cast("double")
    // all six r's in ONE select over the single agg row, then stack —
    // a union of per-pair selects would re-run the aggregate per
    // branch (6 corpus scans)
    val pairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val rCols = pairs.map { case (a, b) =>
      val covN = n * col(s"sp_${a}_$b").cast("double") -
        col(s"s_$a").cast("double") * col(s"s_$b").cast("double")
      val vaN = n * col(s"ss_$a").cast("double") -
        col(s"s_$a").cast("double") * col(s"s_$a").cast("double")
      val vbN = n * col(s"ss_$b").cast("double") -
        col(s"s_$b").cast("double") * col(s"s_$b").cast("double")
      ScalarFns.roundN(covN / sqrt(vaN) / sqrt(vbN), 6).as(s"r_${a}_$b")
    }
    m.select(col("n_rows") +: rCols: _*)
      .select(expr("stack(" + pairs.size + ", " + pairs.map {
          case (a, b) => s"'$a', '$b', `r_${a}_$b`"
        }.mkString(", ") + ") as (col_a, col_b, pearson_r)"),
        col("n_rows"))
      .select(col("col_a"), col("col_b"), col("n_rows"), col("pearson_r"))
      .orderBy("col_a", "col_b")
  }

  /** Benford first-digit audit — the forensic data-quality screen for
    * value columns (organic multiplicative quantities follow
    * P(d) = log₁₀(1 + 1/d); flat or spiky digit profiles flag
    * synthetic or manipulated data): leading digit taken from the
    * exact-cents STRING render (scale-invariant — ×100 moves the
    * decimal point, never the leading digit), observed shares as
    * integer ppm by floor division, expected shares as the published
    * Benford constants (they sum to exactly 1,000,000 ppm). One
    * map-side digit extraction + a 9-row aggregate — nothing here
    * grows with the corpus. On THIS corpus the audit correctly
    * SCREAMS: o_totalprice is uniform on [1000, 500000), so digits
    * 1–4 are flat-heavy and 5–9 starved vs Benford — the graded rows
    * pin the full observed-vs-expected profile, not a verdict bit. */
  def benfordDigitAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val expected = Seq(
      (1L, 301030L), (2L, 176091L), (3L, 124939L), (4L, 96910L),
      (5L, 79181L), (6L, 66947L), (7L, 57992L), (8L, 51153L),
      (9L, 45757L)).toDF("digit", "expected_ppm")
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
      .cast("bigint")
    val counts = Tables(spark, dir, "orders")
      .select(substring(cents.cast("string"), 1, 1).cast("bigint")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
    counts
      .crossJoin(broadcast(counts.agg(sum(col("n_orders")).as("total"))))
      .withColumn("observed_ppm", expr("CAST((CAST(n_orders AS DECIMAL(38,0)) * 1000000)" +
        " DIV total AS BIGINT)"))
      .join(broadcast(expected), Seq("digit"))
      .select(col("digit"), col("n_orders"), col("observed_ppm"),
        col("expected_ppm"))
      .orderBy("digit")
  }

  /** ROBUST outlier detection — median/MAD instead of mean/stddev
    * (the screen that still works when the outliers themselves corrupt
    * the moments; cf. [[graft.operators.EventOps.valueOutliers]]'s
    * z-scores, whose mean AND stddev an adversarial tail drags): per
    * priority over exact price cents, med = percentile_disc(0.5) (a
    * MEMBER value — no interpolation), MAD = percentile_disc(0.5) of
    * |x − med|, flag when `2·|x − med| > 3·mad` — the 1.5×MAD fence
    * cleared of division so the whole grade is BIGINT compares. On
    * this corpus (uniform totalprice) the fence sits at the exact
    * uniform quantiles, pinning med/MAD/fence-count in one statement.
    *
    * Scale note: percentile_disc is an ObjectAggregate that buffers
    * its GROUP's values — fine while groups are few and bounded (5
    * priorities here = the [[graft.operators.Aggregates.medianAcctbal]]
    * envelope); the 100 TB path swaps both rank passes for the
    * mergeable [[graft.plans.HistSketch]] quantiles, same as the
    * median family. */
  def priceOutliersMad(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(spark, dir)
    spark.sql(
      """WITH x AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |m AS (
        |  SELECT prio, CAST(percentile_disc(0.5) WITHIN GROUP
        |    (ORDER BY cents) AS BIGINT) AS med
        |  FROM x GROUP BY 1),
        |d AS (
        |  SELECT x.prio, x.cents, m.med,
        |    abs(x.cents - m.med) AS dev
        |  FROM x JOIN m ON x.prio = m.prio),
        |md AS (
        |  SELECT prio, CAST(percentile_disc(0.5) WITHIN GROUP
        |    (ORDER BY dev) AS BIGINT) AS mad
        |  FROM d GROUP BY 1)
        |SELECT d.prio, count(*) AS n,
        |  max(d.med) AS med_cents, max(md.mad) AS mad_cents,
        |  sum(CASE WHEN 2 * d.dev > 3 * md.mad THEN 1 ELSE 0 END)
        |    AS n_outliers
        |FROM d JOIN md ON d.prio = md.prio
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** WINSORIZED mean (r10+) — the robust-location companion to the
    * [[priceOutliersMad]] screen: instead of FLAGGING tail rows, clamp
    * them to the [p05, p95] member values and average — the estimator
    * reports use when outliers are legitimate-but-distorting (one whale
    * order shifts a priority's mean; winsorizing bounds its leverage).
    * EXACT INTEGERS: fences = percentile_disc MEMBER cents (no
    * interpolation), clamp = least/greatest in BIGINT, mean carried as
    * (sum, n) plus micro-cents via floor division — both engines floor
    * on positives. Same scale envelope as the median family (bounded
    * groups; the 100 TB path is the mergeable HistSketch quantile
    * swap, documented at [[ordersColumnStatsSketched]]). */
  def priceWinsorizedMean(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(spark, dir)
    spark.sql(
      """WITH x AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |f AS (
        |  SELECT prio,
        |    CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY cents)
        |      AS BIGINT) AS p05,
        |    CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)
        |      AS BIGINT) AS p95
        |  FROM x GROUP BY 1),
        |w AS (
        |  SELECT x.prio, f.p05, f.p95,
        |    least(greatest(x.cents, f.p05), f.p95) AS wcents,
        |    CASE WHEN x.cents < f.p05 OR x.cents > f.p95
        |      THEN 1 ELSE 0 END AS clamped
        |  FROM x JOIN f ON x.prio = f.prio)
        |SELECT prio, count(*) AS n,
        |  max(p05) AS p05_cents, max(p95) AS p95_cents,
        |  sum(clamped) AS n_clamped,
        |  sum(wcents) AS wsum_cents,
        |  CAST((CAST(sum(wcents) AS DECIMAL(38,0)) * 1000000)
        |    DIV count(*) AS BIGINT) AS wmean_microcents
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** `count(*)` answered from parquet FOOTER metadata — zero tasks,
    * zero data bytes ([[graft.plans.MetadataCount]]; the plan becomes
    * a one-row LocalRelation, spec-asserted). The oracle RUNS the
    * count — metadata service must be invisible. */
  def ordersCountMetadata(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .groupBy().agg(count(lit(1)).as("n_orders"))
  }

  /** A/B LIFT with CUPED variance reduction (Deng et al., WSDM'13 —
    * the experimentation-platform standard): users hash-split into two
    * arms (md5 nibble parity — deterministic, reproducible assignment),
    * the post-period purchase value per arm adjusted by the pre-period
    * covariate: Y′ = Ȳ_arm − θ·(X̄_arm − X̄), θ = cov(X,Y)/var(X)
    * pooled across arms. The period pivot is the in-plan integer
    * midpoint of the purchase-timestamp range (no wall clock).
    *
    * Determinism — the [[corrStats]] discipline: X/Y are exact
    * micro-value BIGINTs per user; θ's numerator/denominator are
    * n·Σxy − Σx·Σy over EXACT DECIMAL(38,0) sums (order-independent),
    * cast once to double for ONE division; the arm means are exact
    * sums over counts; every displayed number is floor-rounded. A
    * zero-variance covariate pins θ = 0 (guarded identically in the
    * oracle).
    *
    * Scale: one (user) partial-agg shuffle builds the per-user (X, Y)
    * frame; θ and the arm rows are two tiny aggregates over it. The
    * experiment readout costs the events table ONE pass. */
  def abCupedLift(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("unix_micros(ts)").as("tsu"),
        (col("value").cast("decimal(18,4)") * 10000).cast("long").as("vu"))
    val pivot = p.agg(expr("(min(tsu) + max(tsu)) div 2").as("pivot"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val ux = p.crossJoin(broadcast(pivot))
      .groupBy(col("user_id"))
      .agg(sum(when(col("tsu") <= col("pivot"), col("vu"))
          .otherwise(0L)).as("x"),
        sum(when(col("tsu") > col("pivot"), col("vu"))
          .otherwise(0L)).as("y"))
      .withColumn("arm", pmod(expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 1), 16, 10) AS BIGINT)"),
        lit(2L)))
    val g = ux.agg(count(lit(1)).as("n"),
      sum(d38(col("x"))).as("gx"), sum(d38(col("y"))).as("gy"),
      sum(d38(col("x")) * d38(col("y"))).as("gxy"),
      sum(d38(col("x")) * d38(col("x"))).as("gxx"))
    val armAgg = ux.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(d38(col("x"))).as("ax"), sum(d38(col("y"))).as("ay"))
    val n = col("n").cast("double")
    val covN = n * col("gxy").cast("double") -
      col("gx").cast("double") * col("gy").cast("double")
    val varN = n * col("gxx").cast("double") -
      col("gx").cast("double") * col("gx").cast("double")
    val theta = when(varN === 0.0, lit(0.0)).otherwise(covN / varN)
    val xbarG = col("gx").cast("double") / n
    val ybarA = col("ay").cast("double") / col("n_users").cast("double")
    val xbarA = col("ax").cast("double") / col("n_users").cast("double")
    armAgg.crossJoin(broadcast(g))
      .select(col("arm"), col("n_users"),
        ScalarFns.roundN(ybarA / 10000.0, 4).as("mean_y"),
        ScalarFns.roundN(
          (ybarA - theta * (xbarA - xbarG)) / 10000.0, 4)
          .as("mean_y_cuped"),
        ScalarFns.roundN(theta, 6).as("theta"))
      .orderBy("arm")
  }

  /** A/B CONVERSION SIGNIFICANCE — the two-proportion z-test the
    * experimentation readout pairs with the lift ([[abCupedLift]]'s
    * arm assignment reused): universe = every user seen in events;
    * "conversion" = the user's total purchase value exceeds the GLOBAL
    * median user total (percentile_disc member value — a binary
    * outcome that is non-degenerate by construction at ~50% base rate;
    * a literal did-purchase flag is universal on this corpus and
    * degenerates p̂ to 1). z = (p₁−p₀)/√(p̂(1−p̂)(1/n₀+1/n₁)) pooled;
    * every double derives from exact BIGINT counts in one pinned
    * expression (sqrt/÷ exactly-rounded IEEE); the degenerate
    * p̂ ∈ {0,1} edges pin z = 0 (guarded identically both engines);
    * `significant` compares the ROUNDED z against ±1.96. ONE SQL body,
    * two engine spellings (the MAD idiom). One (user) partial-agg
    * shuffle + two tiny aggregates — one pass over events. Single-row
    * global aggregate (ContractSpec singleRow allowlist). */
  private def abZtestSql(nib: String, div: String, wide: String): String = {
    val z = "(CASE WHEN n0 = 0 OR n1 = 0 OR (c0 + c1) = 0" +
      " OR (c0 + c1) = (n0 + n1) THEN 0.0 ELSE " +
      "(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)" +
      " - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / " +
      "sqrt((CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE))" +
      " / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))" +
      " * (1.0 - (CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE))" +
      " / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)))" +
      " * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) END)"
    // Spark SQL's floor(double) returns BIGINT (DuckDB keeps DOUBLE),
    // so the rounded statistic is pinned back to DOUBLE explicitly —
    // exact: z·10⁴ is integral, and integer/10⁴ → nearest double is
    // the same value on both routes
    val zr = s"CAST(${ScalarFns.roundSql(z, 4)} AS DOUBLE)"
    s"""WITH u AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'purchase'
       |      THEN CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)
       |      ELSE 0 END) AS BIGINT) AS tot,
       |    $nib % 2 AS arm
       |  FROM events GROUP BY user_id),
       |m AS (
       |  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY tot) AS med
       |  FROM u),
       |c AS (
       |  SELECT u.arm,
       |    CAST(CASE WHEN u.tot > m.med THEN 1 ELSE 0 END AS BIGINT) AS conv
       |  FROM u, m),
       |r AS (
       |  SELECT
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
       |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
       |      AS c0,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
       |      AS c1
       |  FROM c)
       |SELECT n0, c0, n1, c1,
       |  CAST(CASE WHEN n0 = 0 THEN 0
       |    ELSE (CAST(c0 AS $wide) * 1000000) $div n0 END AS BIGINT)
       |    AS rate0_ppm,
       |  CAST(CASE WHEN n1 = 0 THEN 0
       |    ELSE (CAST(c1 AS $wide) * 1000000) $div n1 END AS BIGINT)
       |    AS rate1_ppm,
       |  $zr AS z,
       |  ($zr > 1.96 OR $zr < -1.96) AS significant
       |FROM r""".stripMargin
  }

  def abConversionZtest(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(spark, dir)
    spark.sql(abZtestSql(
      "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 1), 16, 10) AS BIGINT)",
      "div", "DECIMAL(38,0)"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ab_cuped_lift" -> (abCupedLift(_, _)),
    "ab_conversion_ztest" -> (abConversionZtest(_, _)),
    "benford_digit_audit" -> (benfordDigitAudit _),
    "price_outliers_mad" -> (priceOutliersMad _),
    "price_winsorized_mean" -> (priceWinsorizedMean _),
    "orders_count_metadata" -> (ordersCountMetadata _),
    "lineitem_corr_matrix" -> (lineitemCorrMatrix _),
    "value_trend_ols" -> (valueTrendOls _),
    "orders_contract_audit" -> (ordersContractAudit _),
    "corr_stats" -> (corrStats _),
    "chi2_cells" -> (chi2Cells _),
    "chi2_stat"  -> (chi2Stat _),
    "value_drift" -> (valueDrift _),
    "value_drift_tv" -> (valueDriftTv _),
    "orders_column_stats" -> (ordersColumnStats _),
    "orders_column_stats_sketched" -> (ordersColumnStatsSketched _),
    "orders_ndv_approx" -> (ordersNdvApprox _),
    "join_card_estimate" -> (joinCardEstimate _))

  /** The 100 TB swap [[ordersColumnStats]] documents, GRADED: exact
    * `countDistinct` (one expand + distinct shuffle per column)
    * replaced by the repo's spec-exact [[graft.plans.HllSketch]] —
    * constant 256-register state per column, mergeable, one partial-agg
    * pass for any number of columns. Because every step of the sketch
    * is pinned (md5 buckets, rho, fold order, correction branch), the
    * ESTIMATE hash-matches a DuckDB rebuild — the swap's accuracy is
    * itself regression-guarded, side by side with the exact count, for
    * a high-cardinality key and a low-cardinality enum (the two
    * regimes: raw vs linear-counting branch). */
  def ordersNdvApprox(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    def row(c: String): DataFrame =
      o.agg(countDistinct(col(c)).as("n_distinct_exact"),
          expr(s"hll_sketch(CAST($c AS STRING))").as("h"))
        .select(lit(c).as("col_name"), col("n_distinct_exact"),
          ScalarFns.roundN(col("h.estimate"), 2).as("ndv_hll"))
    row("o_custkey").unionByName(row("o_orderstatus")).orderBy("col_name")
  }

  /** The FULL profile served from the sketch (r7 verdict #4):
    * [[ordersColumnStats]]'s exact multi-`countDistinct` expands the
    * input ×columns before the partial agg — the graded cheap twin
    * `orders_ndv_approx` proved the HllSketch swap hash-matches for
    * two regimes but covered only 2 columns, so the 6-column profile
    * still paid the expand (the board's slowest pure-plan query at
    * 3.3 s judge-idle). This is the production form: ONE aggregate
    * pass, 256 B of register state per column, NO expand — nulls,
    * min/max exact, NDV from the sketch for EVERY profiled column.
    * The exact twin stays graded beside it; the estimate itself
    * hash-matches the DuckDB nibble-chain rebuild per column, so the
    * swap's accuracy is regression-guarded across all 6 columns. */
  def ordersColumnStatsSketched(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    // the sketch hashes the CANONICAL TEXT of each value (the
    // Integrity rendering discipline): bigints/strings cast directly,
    // money via DECIMAL(18,2), dates via DATE — the identical renders
    // the oracle's md5 chain hashes, so the estimates hash-match. Raw
    // double/timestamp casts would diverge cross-engine (scientific
    // notation, fraction rendering).
    def arm(c: String, canonSql: String, f: Column => Column): Seq[Column] =
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        expr(s"hll_sketch(CAST($canonSql AS STRING))")
          .getField("estimate").as(s"${c}__nd"),
        f(min(col(c))).cast("string").as(s"${c}__min"),
        f(max(col(c))).cast("string").as(s"${c}__max"))
    val plain: Column => Column = identity
    val aggs =
      arm("o_orderkey", "o_orderkey", plain) ++
      arm("o_custkey", "o_custkey", plain) ++
      arm("o_orderstatus", "o_orderstatus", plain) ++
      arm("o_totalprice", "CAST(o_totalprice AS DECIMAL(18,2))",
        _.cast("decimal(18,2)")) ++
      arm("o_orderdate", "CAST(o_orderdate AS DATE)", to_date(_)) ++
      arm("o_orderpriority", "o_orderpriority", plain)
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    o.agg(aggs.head, aggs.tail: _*)
      .select(expr("stack(6, " + cols.map(c =>
        s"'$c', `${c}__nulls`, `${c}__nd`, `${c}__min`, `${c}__max`")
        .mkString(", ") +
        ") as (col_name, n_nulls, ndv_raw, min_value, max_value)"))
      .select(col("col_name"), col("n_nulls"),
        ScalarFns.roundN(col("ndv_raw"), 2).as("ndv_hll"),
        col("min_value"), col("max_value"))
      .orderBy("col_name")
  }

  /** Shared CTE chain for both chi2 oracles — cells(source, lang,
    * n_obs, n_exp, contrib) with the identical pinned formula. */
  private val chi2CellsCte: String =
    s"""WITH cells AS (
       |  SELECT source, lang, count(*) AS n_obs
       |  FROM documents GROUP BY 1, 2),
       |rs AS (SELECT source, CAST(sum(n_obs) AS BIGINT) AS r
       |       FROM cells GROUP BY 1),
       |cs AS (SELECT lang, CAST(sum(n_obs) AS BIGINT) AS c
       |       FROM cells GROUP BY 1),
       |nn AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM cells),
       |scored AS (
       |  SELECT cells.source, cells.lang, cells.n_obs,
       |    ${ScalarFns.roundSql(
          "CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE)", 4)} AS n_exp,
       |    ${ScalarFns.roundSql(
          "(CAST(n_obs AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))" +
          " * (CAST(n_obs AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))" +
          " / (CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))", 6)} AS contrib
       |  FROM cells
       |  JOIN rs USING (source)
       |  JOIN cs USING (lang)
       |  CROSS JOIN nn)""".stripMargin

  /** Shared drift-bin CTE — same bounds, same floor/clamp bin rule,
    * same md5-half split. */
  private val driftBinsCte: String =
    s"""WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
       |binned AS (
       |  SELECT LEAST(9, GREATEST(0,
       |      CAST(FLOOR((value - b.lo) * 10.0 / (b.hi - b.lo)) AS BIGINT)))
       |    AS bin,
       |    substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '8' AS half
       |  FROM events, b),
       |bins AS (
       |  SELECT bin,
       |    CAST(sum(CASE WHEN half THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN half THEN 0 ELSE 1 END) AS BIGINT) AS n_b
       |  FROM binned GROUP BY 1)""".stripMargin

  /** One UNION-ALL arm per column, same rendering rules. */
  private val columnStatsOracle: String = {
    def arm(c: String, minExpr: String, maxExpr: String): String =
      s"""SELECT '$c' AS col_name,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  $minExpr AS min_value, $maxExpr AS max_value
         |FROM orders""".stripMargin
    def plain(c: String) =
      arm(c, s"CAST(min($c) AS VARCHAR)", s"CAST(max($c) AS VARCHAR)")
    val arms = Seq(
      plain("o_orderkey"), plain("o_custkey"), plain("o_orderstatus"),
      arm("o_totalprice",
        "CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)",
        "CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)"),
      arm("o_orderdate",
        "CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR)",
        "CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR)"),
      plain("o_orderpriority"))
    s"""SELECT * FROM (
       |${arms.mkString("\nUNION ALL\n")})
       |ORDER BY col_name""".stripMargin
  }

  /** The HLL-spec rebuild as a parenthesized SCALAR subquery for one
    * column — the [[graft.operators.EventOps]] hllOracle nibble chain,
    * ungrouped (single register set over the whole table). Shared by
    * the 2-column accuracy twin and the full sketched profile. */
  private def hllScalarSql(c: String, canon: String = ""): String = {
    val cv = if (canon.nonEmpty) canon else c
    val nibDefs = (1 to 18).map(i =>
      s"instr('0123456789abcdef', substr(h, $i, 1)) - 1 AS n$i")
      .mkString(",\n        ")
    val lzCases = (3 to 18).map(i =>
      s"WHEN n$i > 0 THEN ${4 * (i - 3)} + (CASE WHEN n$i >= 8 THEN 0" +
        s" WHEN n$i >= 4 THEN 1 WHEN n$i >= 2 THEN 2 ELSE 3 END)")
      .mkString("\n          ")
    s"""(WITH hx AS (SELECT md5(CAST($cv AS VARCHAR)) AS h FROM orders
       |               WHERE $c IS NOT NULL),
       |   nib AS (SELECT
       |        $nibDefs
       |     FROM hx),
       |   br AS (SELECT n1 * 16 + n2 AS bucket,
       |       1 + (CASE
       |          $lzCases
       |          ELSE 64 END) AS rho
       |     FROM nib),
       |   reg AS (SELECT bucket, max(rho) AS mx FROM br GROUP BY 1),
       |   regs AS (SELECT gs.j, coalesce(r.mx, 0) AS mreg
       |     FROM (SELECT unnest(generate_series(0, 255)) AS j) gs
       |     LEFT JOIN reg r ON r.bucket = gs.j),
       |   agg AS (SELECT
       |       list_reduce(list_transform(list(mreg ORDER BY j),
       |         x -> power(2.0, -CAST(x AS DOUBLE))), (a, b) -> a + b)
       |         AS sum_pow,
       |       sum(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS n_zero
       |     FROM regs),
       |   est AS (SELECT n_zero, sum_pow,
       |       (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / sum_pow
       |         AS e_raw
       |     FROM agg)
       |   SELECT ${ScalarFns.roundSql(
            "CASE WHEN e_raw <= 2.5 * 256.0 AND n_zero > 0" +
            " THEN 256.0 * ln(256.0 / n_zero) ELSE e_raw END", 2)}
       |   FROM est)""".stripMargin
  }

  private def hllNdvArm(c: String): String =
    s"""SELECT '$c' AS col_name,
       |  CAST((SELECT count(DISTINCT $c) FROM orders) AS BIGINT)
       |    AS n_distinct_exact,
       |  ${hllScalarSql(c)} AS ndv_hll""".stripMargin

  /** One UNION-ALL arm per column for the sketched profile — exact
    * nulls/min/max rendering identical to [[columnStatsOracle]], NDV
    * from the per-column HLL rebuild. */
  private val columnStatsSketchedOracle: String = {
    def arm(c: String, canon: String,
        minExpr: String, maxExpr: String): String =
      s"""SELECT '$c' AS col_name,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |  ${hllScalarSql(c, canon)} AS ndv_hll,
         |  $minExpr AS min_value, $maxExpr AS max_value
         |FROM orders""".stripMargin
    def plain(c: String) =
      arm(c, c, s"CAST(min($c) AS VARCHAR)", s"CAST(max($c) AS VARCHAR)")
    val arms = Seq(
      plain("o_orderkey"), plain("o_custkey"), plain("o_orderstatus"),
      arm("o_totalprice", "CAST(o_totalprice AS DECIMAL(18,2))",
        "CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)",
        "CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)"),
      arm("o_orderdate", "CAST(o_orderdate AS DATE)",
        "CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR)",
        "CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR)"),
      plain("o_orderpriority"))
    s"""SELECT * FROM (
       |${arms.mkString("\nUNION ALL\n")})
       |ORDER BY col_name""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "ab_conversion_ztest" -> abZtestSql(
      "(instr('0123456789abcdef', " +
        "substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1)",
      "//", "HUGEINT"),
    "ab_cuped_lift" -> {
      val nib = "(instr('0123456789abcdef', " +
        "substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1)"
      val theta = "(CASE WHEN CAST(g.n AS DOUBLE) * CAST(g.gxx AS DOUBLE)" +
        " - CAST(g.gx AS DOUBLE) * CAST(g.gx AS DOUBLE) = 0.0 THEN 0.0" +
        " ELSE (CAST(g.n AS DOUBLE) * CAST(g.gxy AS DOUBLE)" +
        " - CAST(g.gx AS DOUBLE) * CAST(g.gy AS DOUBLE))" +
        " / (CAST(g.n AS DOUBLE) * CAST(g.gxx AS DOUBLE)" +
        " - CAST(g.gx AS DOUBLE) * CAST(g.gx AS DOUBLE)) END)"
      val ybarA = "CAST(a.ay AS DOUBLE) / CAST(a.n_users AS DOUBLE)"
      val xbarA = "CAST(a.ax AS DOUBLE) / CAST(a.n_users AS DOUBLE)"
      val xbarG = "CAST(g.gx AS DOUBLE) / CAST(g.n AS DOUBLE)"
      s"""WITH p AS (
         |  SELECT user_id, epoch_us(ts) AS tsu,
         |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vu
         |  FROM events WHERE event_type = 'purchase'),
         |piv AS (SELECT (min(tsu) + max(tsu)) // 2 AS pivot FROM p),
         |ux AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN tsu <= piv.pivot THEN vu ELSE 0 END)
         |      AS HUGEINT) AS x,
         |    CAST(sum(CASE WHEN tsu > piv.pivot THEN vu ELSE 0 END)
         |      AS HUGEINT) AS y,
         |    $nib % 2 AS arm
         |  FROM p, piv GROUP BY user_id),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(x) AS gx, sum(y) AS gy,
         |    sum(x * y) AS gxy, sum(x * x) AS gxx
         |  FROM ux),
         |a AS (
         |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         |    sum(x) AS ax, sum(y) AS ay
         |  FROM ux GROUP BY 1)
         |SELECT CAST(a.arm AS BIGINT) AS arm, a.n_users,
         |  ${ScalarFns.roundSql(s"($ybarA) / 10000.0", 4)} AS mean_y,
         |  ${ScalarFns.roundSql(
            s"(($ybarA) - $theta * (($xbarA) - ($xbarG))) / 10000.0", 4)}
         |    AS mean_y_cuped,
         |  ${ScalarFns.roundSql(theta, 6)} AS theta
         |FROM a, g
         |ORDER BY arm""".stripMargin
    },
    // identical statement; DuckDB's quantile_disc is the same
    // member-value definition the Spark side uses
    "price_outliers_mad" ->
      """WITH x AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |m AS (
        |  SELECT prio, CAST(quantile_disc(cents, 0.5) AS BIGINT) AS med
        |  FROM x GROUP BY 1),
        |d AS (
        |  SELECT x.prio, x.cents, m.med,
        |    abs(x.cents - m.med) AS dev
        |  FROM x JOIN m ON x.prio = m.prio),
        |md AS (
        |  SELECT prio, CAST(quantile_disc(dev, 0.5) AS BIGINT) AS mad
        |  FROM d GROUP BY 1)
        |SELECT d.prio, count(*) AS n,
        |  max(d.med) AS med_cents, max(md.mad) AS mad_cents,
        |  CAST(sum(CASE WHEN 2 * d.dev > 3 * md.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN md ON d.prio = md.prio
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same member-value quantile definition, clamp + floor division
    "price_winsorized_mean" ->
      """WITH x AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |f AS (
        |  SELECT prio,
        |    CAST(quantile_disc(cents, 0.05) AS BIGINT) AS p05,
        |    CAST(quantile_disc(cents, 0.95) AS BIGINT) AS p95
        |  FROM x GROUP BY 1),
        |w AS (
        |  SELECT x.prio, f.p05, f.p95,
        |    least(greatest(x.cents, f.p05), f.p95) AS wcents,
        |    CASE WHEN x.cents < f.p05 OR x.cents > f.p95
        |      THEN 1 ELSE 0 END AS clamped
        |  FROM x JOIN f ON x.prio = f.prio)
        |SELECT prio, count(*) AS n,
        |  max(p05) AS p05_cents, max(p95) AS p95_cents,
        |  CAST(sum(clamped) AS BIGINT) AS n_clamped,
        |  CAST(sum(wcents) AS BIGINT) AS wsum_cents,
        |  CAST((CAST(sum(wcents) AS HUGEINT) * 1000000) // count(*)
        |    AS BIGINT) AS wmean_microcents
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // the oracle RUNS the count — footer serving must be invisible
    "orders_count_metadata" ->
      "SELECT count(*) AS n_orders FROM orders",
    // same exact-cents string render; published Benford ppm constants
    "benford_digit_audit" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS
        |    DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1)
        |    AS BIGINT) AS digit
        |  FROM orders),
        |c AS (SELECT digit, count(*) AS n_orders FROM d GROUP BY 1),
        |t AS (SELECT sum(n_orders) AS total FROM c),
        |e AS (SELECT * FROM (VALUES
        |  (1, 301030), (2, 176091), (3, 124939), (4, 96910),
        |  (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757))
        |  v(digit, expected_ppm))
        |SELECT c.digit, c.n_orders,
        |  CAST((1000000 * c.n_orders) // t.total AS BIGINT)
        |    AS observed_ppm,
        |  CAST(e.expected_ppm AS BIGINT) AS expected_ppm
        |FROM c, t
        |JOIN e ON e.digit = c.digit
        |ORDER BY c.digit""".stripMargin,
    "value_trend_ols" -> {
      val covN = "(n * sxy - sx * sy)"
      val varXN = "(n * sxx - sx * sx)"
      val varYN = "(n * syy - sy * sy)"
      s"""WITH m AS (
         |  SELECT event_type, count(*) AS n_events,
         |    sum((epoch_us(ts) - $TrendEpochUs) // 86400000000) AS sx,
         |    sum(CAST(value AS DECIMAL(18,6))) AS sy,
         |    sum(CAST((epoch_us(ts) - $TrendEpochUs) // 86400000000
         |          AS DECIMAL(18,0))
         |        * CAST(value AS DECIMAL(18,6))) AS sxy,
         |    sum(((epoch_us(ts) - $TrendEpochUs) // 86400000000)
         |        * ((epoch_us(ts) - $TrendEpochUs) // 86400000000)) AS sxx,
         |    sum(CAST(value * value AS DECIMAL(28,10))) AS syy
         |  FROM events GROUP BY 1),
         |d AS (
         |  SELECT event_type, n_events,
         |    CAST(n_events AS DOUBLE) AS n,
         |    CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         |    CAST(sxy AS DOUBLE) AS sxy,
         |    CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy
         |  FROM m)
         |SELECT event_type, n_events,
         |  ${ScalarFns.roundSql(s"$covN / $varXN", 6)} AS slope_per_day,
         |  ${ScalarFns.roundSql(s"(sy - $covN / $varXN * sx) / n", 4)}
         |    AS intercept,
         |  ${ScalarFns.roundSql(s"$covN * $covN / $varXN / $varYN", 6)}
         |    AS r2
         |FROM d ORDER BY event_type""".stripMargin
    },
    "orders_contract_audit" ->
      """SELECT * FROM (
        |  SELECT 'key_not_null' AS constraint_name,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'key_unique',
        |    CAST(count(*) AS BIGINT) FROM (
        |      SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
        |  UNION ALL
        |  SELECT 'fk_orders_customer',
        |    CAST(count(*) AS BIGINT) FROM (
        |      SELECT o_custkey FROM orders
        |      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |  UNION ALL
        |  SELECT 'fk_lineitem_orders',
        |    CAST(count(*) AS BIGINT) FROM (
        |      SELECT l_orderkey FROM lineitem
        |      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |  UNION ALL
        |  SELECT 'price_positive',
        |    CAST(sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'date_in_range',
        |    CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1992-01-01'
        |         OR CAST(o_orderdate AS DATE) > DATE '1998-12-31'
        |         THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders)
        |ORDER BY constraint_name""".stripMargin,
    "orders_ndv_approx" ->
      s"""SELECT * FROM (
         |${hllNdvArm("o_custkey")}
         |UNION ALL
         |${hllNdvArm("o_orderstatus")})
         |ORDER BY col_name""".stripMargin,
    "join_card_estimate" ->
      s"""WITH l AS (SELECT count(*) AS n_left,
         |    count(DISTINCT o_custkey) AS ndv_left FROM orders),
         |r AS (SELECT count(*) AS n_right,
         |    count(DISTINCT c_custkey) AS ndv_right FROM customer),
         |a AS (SELECT count(*) AS actual_rows
         |      FROM orders JOIN customer ON o_custkey = c_custkey)
         |SELECT CAST(n_left AS BIGINT) AS n_left,
         |  CAST(n_right AS BIGINT) AS n_right,
         |  CAST(ndv_left AS BIGINT) AS ndv_left,
         |  CAST(ndv_right AS BIGINT) AS ndv_right,
         |  CAST((n_left * n_right) // greatest(ndv_left, ndv_right) AS BIGINT)
         |    AS est_rows,
         |  CAST(actual_rows AS BIGINT) AS actual_rows,
         |  ${ScalarFns.roundSql(
              "CAST((n_left * n_right) // greatest(ndv_left, ndv_right)" +
              " AS DOUBLE) / actual_rows", 4)} AS est_over_actual
         |FROM l, r, a""".stripMargin,
    "orders_column_stats" -> columnStatsOracle,
    "orders_column_stats_sketched" -> columnStatsSketchedOracle,
    "value_drift" ->
      s"""$driftBinsCte
         |SELECT bin, n_a, n_b FROM bins ORDER BY bin""".stripMargin,
    "value_drift_tv" ->
      s"""$driftBinsCte,
         |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS na,
         |             CAST(sum(n_b) AS BIGINT) AS nb FROM bins)
         |SELECT t.na AS n_a_total, t.nb AS n_b_total,
         |  ${ScalarFns.roundSql(
              "CAST(sum(abs(CAST(n_a AS HUGEINT) * t.nb" +
              " - CAST(n_b AS HUGEINT) * t.na)) AS DOUBLE)" +
              " / (2.0 * t.na * t.nb)", 4)} AS tv_distance
         |FROM bins, t GROUP BY t.na, t.nb""".stripMargin,
    "chi2_cells" ->
      s"""$chi2CellsCte
         |SELECT source, lang, n_obs, n_exp, contrib
         |FROM scored ORDER BY source, lang""".stripMargin,
    "chi2_stat" ->
      s"""$chi2CellsCte
         |SELECT count(*) AS n_cells,
         |  (count(DISTINCT source) - 1) * (count(DISTINCT lang) - 1) AS dof,
         |  ${ScalarFns.roundSql(
            "CAST(sum(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE)", 4)} AS chi2
         |FROM scored ORDER BY n_cells""".stripMargin,
    "lineitem_corr_matrix" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      // micro-unit HUGEINTs (×10⁴) — same exact integers as the
      // Spark side's decimal(38,0); scale factors cancel in r, and
      // both engines cast the SAME integer sums to double before the
      // identical closed form
      def u(c: String) =
        s"CAST(CAST($c AS DECIMAL(18,4)) * 10000 AS HUGEINT)"
      val sumDefs =
        cols.map(c => s"sum(${u(c)}) AS s_$c") ++
        cols.map(c => s"sum(${u(c)} * ${u(c)}) AS ss_$c") ++
        cols.combinations(2).map { case Seq(a, b) =>
          s"sum(${u(a)} * ${u(b)}) AS sp_${a}_$b" }
      val dblDefs = ("CAST(n_rows AS DOUBLE) AS n" +:
        (cols.map(c => s"CAST(s_$c AS DOUBLE) AS s_$c") ++
          cols.map(c => s"CAST(ss_$c AS DOUBLE) AS ss_$c") ++
          cols.combinations(2).map { case Seq(a, b) =>
            s"CAST(sp_${a}_$b AS DOUBLE) AS sp_${a}_$b" }))
      val arms = cols.combinations(2).map { case Seq(a, b) =>
        val covN = s"(n * sp_${a}_$b - s_$a * s_$b)"
        val vaN = s"(n * ss_$a - s_$a * s_$a)"
        val vbN = s"(n * ss_$b - s_$b * s_$b)"
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n_rows,
           |    ${ScalarFns.roundSql(s"$covN / sqrt($vaN) / sqrt($vbN)", 6)}
           |      AS pearson_r FROM d""".stripMargin
      }
      s"""WITH m AS (
         |  SELECT count(*) AS n_rows,
         |    ${sumDefs.mkString(",\n    ")}
         |  FROM lineitem),
         |d AS (
         |  SELECT n_rows, ${dblDefs.mkString(", ")}
         |  FROM m)
         |SELECT * FROM (
         |${arms.mkString("\nUNION ALL\n")})
         |ORDER BY col_a, col_b""".stripMargin
    },
    "corr_stats" -> {
      val covN = "(n * sxy - sx * sy)"
      val varXN = "(n * sxx - sx * sx)"
      val varYN = "(n * syy - sy * sy)"
      s"""WITH m AS (
         |  SELECT l_returnflag, count(*) AS n_rows,
         |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sx,
         |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sy,
         |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
         |      * CAST(l_quantity AS DECIMAL(18,2))) AS sxy,
         |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
         |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxx,
         |    sum(CAST(l_quantity AS DECIMAL(18,2))
         |      * CAST(l_quantity AS DECIMAL(18,2))) AS syy
         |  FROM lineitem GROUP BY 1),
         |d AS (
         |  SELECT l_returnflag, n_rows,
         |    CAST(n_rows AS DOUBLE) AS n,
         |    CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
         |    CAST(sxy AS DOUBLE) AS sxy,
         |    CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy
         |  FROM m)
         |SELECT l_returnflag, n_rows,
         |  ${ScalarFns.roundSql(s"$covN / sqrt($varXN) / sqrt($varYN)", 6)}
         |    AS corr_price_qty,
         |  ${ScalarFns.roundSql(s"$covN / n / (n - 1.0)", 4)} AS covar_samp,
         |  ${ScalarFns.roundSql(s"sqrt($varXN / n / (n - 1.0))", 4)}
         |    AS stddev_price,
         |  ${ScalarFns.roundSql(s"sqrt($varYN / n / (n - 1.0))", 4)}
         |    AS stddev_qty
         |FROM d ORDER BY l_returnflag""".stripMargin
    })
}
