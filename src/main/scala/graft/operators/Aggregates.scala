package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ScalarFns._

/** Aggregation operators (SURVEY.md §2.4), sorts/top-k (§2.6) and set
  * algebra (§2.7). The reference's `query_crm` computes one-pass
  * multi-metric aggregates (`tools.py:72-76`); `SCALING.md:34,139-146`
  * specifies grouped per-promoter analytics. Generalized here to OLAP
  * breakdowns on the driver tables.
  *
  * Scale notes: every groupBy below is a partial+final HashAggregate —
  * the map-side combine means the shuffle carries one row per group per
  * partition, not per input row. Top-k compiles to
  * TakeOrderedAndProject (per-partition heap + driver merge of k rows,
  * never a full sort). All money sums go through exact decimal so the
  * result is independent of partition count / merge order.
  */
object Aggregates extends graft.QueryModule {

  /** A4 grouped aggregation, TPC-H Q1-shaped pricing summary over
    * lineitem: multi-metric one-pass (A8) with derived expressions.
    * Products are computed in IEEE double (bit-identical to the oracle)
    * then cast to exact decimal BEFORE the order-sensitive sum. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    // fanned out: the per-row decimal casts/products feed the PARTIAL
    // aggregate, which runs ON the scan task — one split at bench
    // scale means the whole decimal pipeline was single-threaded
    // (measured ~2× on this query; Tables.fanOut scaladoc)
    val l = Tables.fanOut(spark, Tables(spark, dir, "lineitem"),
      key = "l_orderkey")
    // price/discount/tax are 2dp quantities, so disc_price is exact at 4dp
    // and charge at 6dp. Casting at exactly those scales avoids half-way
    // rounding ties (Spark HALF_UP vs DuckDB would diverge at 4dp for the
    // 3-factor product); at the exact scale both engines land on the same
    // decimal, making the subsequent sum order-independent AND
    // cross-engine identical.
    val discPrice = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,4)")
    val charge = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      * (lit(1.0) + col("l_tax"))).cast("decimal(18,6)")
    l.filter(to_date(col("l_shipdate")) <= lit("2001-09-01").cast("date"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        roundN(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          / count(lit(1)), 2).as("avg_qty"),
        moneyAvg(col("l_extendedprice")).as("avg_price"),
        rateAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** A7 rollup: OLAP subtotals over (segment, nation). Grouping nulls
    * surfaced as 'ALL' so the output has no null-ordering ambiguity. */
  def rollupSegmentNation(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .rollup(col("c_mktsegment"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), moneySum(col("c_acctbal")).as("total_acctbal"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_customers"), col("total_acctbal"))
      .orderBy("mktsegment", "nation")
  }

  /** L3 top-k: top 10 orders by price under a total order →
    * TakeOrderedAndProject, no global sort. */
  def topkOrders(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        to_date(col("o_orderdate")).as("o_orderdate"))

  /** §2.7 intersect (distinct set semantics, same as SQL INTERSECT):
    * customers present in two behavioral segments. */
  def segmentIntersect(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val urgent = o.filter(col("o_orderpriority") === lit("1-URGENT")).select(col("o_custkey"))
    val low = o.filter(col("o_orderpriority") === lit("5-LOW")).select(col("o_custkey"))
    urgent.intersect(low).orderBy("o_custkey")
  }

  /** §2.7 except — the suppression-list form of the J4 anti join. */
  def segmentExcept(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val urgent = o.filter(col("o_orderpriority") === lit("1-URGENT")).select(col("o_custkey"))
    val low = o.filter(col("o_orderpriority") === lit("5-LOW")).select(col("o_custkey"))
    urgent.except(low).orderBy("o_custkey")
  }

  /** §2.7 MULTISET set ops — `EXCEPT ALL` / `INTERSECT ALL`, the
    * bag-semantics variants the distinct forms above cannot express: a
    * customer with three urgent orders and one low order keeps TWO
    * rows under except-all (multiplicity subtraction) where distinct
    * except drops them entirely. Spark plans these as an aggregate
    * computing per-key multiplicities plus a generate — no sort, one
    * shuffle, same scale shape as the distinct forms. Graded at the
    * summary level (row count + key checksum per op) so the full
    * multiplicity arithmetic is pinned without a customer-sized
    * result. */
  def segmentSetopsAll(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val urgent = o.filter(col("o_orderpriority") === lit("1-URGENT"))
      .select(col("o_custkey"))
    val high = o.filter(col("o_orderpriority") === lit("2-HIGH"))
      .select(col("o_custkey"))
    def summarize(op: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("o_custkey")), lit(0L)).as("sum_key"))
        .select(lit(op).as("op"), col("n_rows"), col("sum_key"))
    summarize("except_all", urgent.exceptAll(high))
      .unionByName(summarize("intersect_all", urgent.intersectAll(high)))
      .orderBy("op")
  }

  /** §2.7 union with schema-by-NAME alignment: the two inputs project
    * their columns in different orders, which positional `union` would
    * silently mis-zip — `unionByName` realigns, then distinct. */
  def segmentUnion(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val urgent = o.filter(col("o_orderpriority") === lit("1-URGENT"))
      .select(col("o_custkey"), col("o_orderpriority"))
    val low = o.filter(col("o_orderpriority") === lit("5-LOW"))
      .select(col("o_orderpriority"), col("o_custkey")) // swapped on purpose
    urgent.unionByName(low).distinct()
      .orderBy("o_custkey", "o_orderpriority")
  }

  /** A7 cube: all 2^2 grouping combinations over (priority, status). */
  def cubePriorityStatus(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("revenue"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n_orders"), col("revenue"))
      .orderBy("priority", "status")

  /** A7 GROUPING SETS — explicit grouping-set list, written once in
    * dialect-neutral SQL that is its own DuckDB oracle (both engines
    * share the syntax). */
  val groupingSetsSql: String =
    """SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
      |  coalesce(n_name, 'ALL') AS nation,
      |  count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
      |ORDER BY 1, 2""".stripMargin

  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(spark, dir)
    spark.sql(groupingSetsSql)
  }

  /** Pivot: segment counts as columns per nation. The pivot value list
    * is EXPLICIT (deterministic output schema — never inferred from
    * data); missing combinations are 0 on both engines. */
  def pivotSegmentCounts(spark: SparkSession, dir: String): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val c = Tables(spark, dir, "customer")
    val pivoted = c.groupBy(col("c_nationkey"))
      .pivot("c_mktsegment", segs)
      .agg(count(lit(1)))
    segs.foldLeft(pivoted)((df, s) =>
        df.withColumn(s, coalesce(col(s), lit(0L))))
      .orderBy("c_nationkey")
  }

  /** A7+ the 100 TB median: approx_percentile (a mergeable quantile
    * sketch — partial aggregates combine associatively, one shuffle of
    * sketch objects, no global sort). With accuracy >> group size the
    * sketch retains every value, so at the graded SFs the result is the
    * EXACT discrete median (the element at rank ⌈n/2⌉) and DuckDB's
    * `quantile_disc(0.5)` is a hash-matching oracle; at 100 TB the same
    * plan degrades gracefully to ±1/accuracy relative rank error
    * instead of degrading to a 5-reducer sort like [[medianAcctbal]]. */
  def approxMedianAcctbal(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(percentile_approx(col("c_acctbal"), lit(0.5), lit(1000000))
        .as("approx_median_acctbal"))
      .orderBy("c_mktsegment")

  /** Exact median without interpolation ambiguity: pick the middle
    * element(s) by row_number and average them through the exact
    * decimal path — engine-independent, unlike percentile/quantile
    * interpolation formulas.
    *
    * SCALE NOTE: `Window.partitionBy(c_mktsegment)` has only 5 distinct
    * keys, so at 100 TB this is a full sort of the table on 5 reducers —
    * correct, but the window is the bottleneck. The scale path is
    * [[approxMedianAcctbal]] (mergeable sketch, no sort); keep this form
    * for when the EXACT mid-point average is a requirement and the group
    * count is high (then the same plan parallelizes fine). */
  def medianAcctbal(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_mktsegment").orderBy(col("c_acctbal"), col("c_custkey"))
    Tables(spark, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("c_mktsegment")))
      // `div` = integer division (Spark's `/` on longs yields DOUBLE,
      // which silently misses the lower-middle row of even-sized groups)
      .filter(expr("rn = (n + 1) div 2 OR rn = n div 2 + 1"))
      .groupBy(col("c_mktsegment"))
      .agg(roundN(sum(col("c_acctbal").cast("decimal(18,4)")).cast("double")
        / count(lit(1)), 2).as("median_acctbal"))
      .orderBy("c_mktsegment")
  }

  /** Quantiles from the mergeable fixed-bin histogram sketch
    * ([[graft.plans.HistSketch]] — the third sketch family member next
    * to HLL/CMS): 110 bins of width 100 over c_acctbal's fixed domain
    * [-1000, 10000). The sketch read-out is pure plan logic — explode
    * the count array, running-sum in bin order, take the smallest bin
    * upper edge reaching ⌈q·n⌉ — so estimates are exactly reproducible
    * by the DuckDB oracle's SQL bucketing, and estimate error is
    * bounded by one bin width by construction. At 100 TB the shuffle
    * carries one 112-long array per (segment, partition): quantiles
    * without any sort. */
  def histQuantilesAcctbal(spark: SparkSession, dir: String): DataFrame = {
    val lo = -1000.0; val hi = 10000.0; val bins = 110
    val w = (hi - lo) / bins // = 100.0 exactly
    val sk = Tables(spark, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(
        expr(s"hist_sketch(CAST(c_acctbal AS DOUBLE), ${lo}D, ${hi}D, $bins)")
          .as("h"),
        count(lit(1)).as("n"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("c_mktsegment").orderBy("bin")
    // array index 0 = underflow, i in 1..bins = [lo+(i−1)w, lo+iw),
    // bins+1 = overflow → upper edge = lo + i·w clamped to hi
    val edge = least(lit(lo) + col("bin") * w, lit(hi))
    sk.select(col("c_mktsegment"), col("n"),
        posexplode(col("h")).as(Seq("bin", "cnt")))
      .withColumn("cum", sum(col("cnt")).over(win))
      .groupBy(col("c_mktsegment"))
      .agg(
        max(col("n")).as("n_customers"),
        roundN(min(when(col("cum") >= ceil(lit(0.5) * col("n")), edge)), 2)
          .as("p50_est"),
        roundN(min(when(col("cum") >= ceil(lit(0.95) * col("n")), edge)), 2)
          .as("p95_est"))
      .orderBy("c_mktsegment")
  }

  /** Histogram-sketch ROLLUP re-aggregation — the stored-blob pattern
    * of `daily_users_rolling_hll`/`daily_users_rolling_bitmap` for the
    * QUANTILE family, completing the sketch-rollup matrix (cardinality
    * → HLL, exact-distinct → bitmap, quantiles → THIS): per-day
    * [[graft.plans.HistSketch]] blobs of o_totalprice (100 × 5000-wide
    * bins over [0, 500000)), re-aggregated over a rolling 28-day
    * calendar window. Histogram merge is elementwise SUM, so the
    * window work is a per-bin prefix-sum over the exploded
    * (day, bin, cnt) frame — ≤ |days|·(bins+2) rows, corpus-size-
    * independent, the raw orders touched exactly once. Read-out per
    * day is the standard cumulative walk; the oracle rebuilds every
    * window's counts from RAW rows (equal by sum associativity) and
    * must reach identical edges. */
  def rollingPriceQuantilesHist(spark: SparkSession, dir: String): DataFrame = {
    val lo = 0.0; val hi = 500000.0; val bins = 100
    val bw = (hi - lo) / bins // = 5000.0 exactly
    val daily = Tables(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr(
        s"hist_sketch(CAST(o_totalprice AS DOUBLE), ${lo}D, ${hi}D, $bins)")
        .as("h"))
      .withColumn("day_num",
        datediff(col("day"), lit("1992-01-01").cast("date")))
    val exploded = daily.select(col("day"), col("day_num"),
      posexplode(col("h")).as(Seq("bin", "cnt")))
    val wBin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bin")).orderBy(col("day_num")).rangeBetween(-27, 0)
    val wDay = org.apache.spark.sql.expressions.Window.partitionBy(col("day"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day")).orderBy(col("bin"))
    val edge = least(lit(lo) + col("bin") * bw, lit(hi))
    exploded
      .withColumn("rcnt", sum(col("cnt")).over(wBin))
      .withColumn("n", sum(col("rcnt")).over(wDay))
      .withColumn("cum", sum(col("rcnt")).over(wCum))
      .groupBy(col("day"))
      .agg(max(col("n")).as("n_orders"),
        roundN(min(when(col("cum") >= ceil(lit(0.5) * col("n")), edge)), 2)
          .as("p50_est"),
        roundN(min(when(col("cum") >= ceil(lit(0.95) * col("n")), edge)), 2)
          .as("p95_est"))
      .orderBy("day")
  }

  /** Unpivot (melt): the pivoted wide table back to long form —
    * round-trips pivot → unpivot so wide analytics exports stay
    * queryable. Explicit value-column list (stable schema). */
  def unpivotSegmentCounts(spark: SparkSession, dir: String): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    pivotSegmentCounts(spark, dir)
      .unpivot(Array(col("c_nationkey")), segs.map(col).toArray,
        "mktsegment", "n_customers")
      .filter(col("n_customers") > 0)
      .orderBy("c_nationkey", "mktsegment")
  }

  /** L3 per-group: top-3 orders per status via the BOUNDED-HEAP
    * aggregate [[graft.plans.TopKAgg]] — per-group top-k WITHOUT a
    * window sort: partials carry ≤ k pairs per (group, partition)
    * through the shuffle (the global-top-k `TakeOrderedAndProject`
    * move generalized to grouped data). The DuckDB oracle ranks with
    * the window form under the identical total order (price DESC,
    * key ASC), so hash equality proves select-k ≡ rank-k, ties
    * included. */
  def topOrdersPerStatus(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(expr("top_k_by(o_totalprice, o_orderkey, 3)").as("tk"))
      .select(col("o_orderstatus"),
        posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("o_orderstatus"),
        (col("pos") + 1).cast("bigint").as("rnk"),
        col("e.key").as("o_orderkey"),
        col("e.value").as("o_totalprice"))
      .orderBy("o_orderstatus", "rnk")
  }

  /** §2.7 elim: the defensive `SELECT DISTINCT` a BI view layers over
    * a dimension, deleted by [[graft.plans.DistinctElim]] because
    * c_custkey is a validated-unique key — whole rows are already
    * unique, so the distinct's full-table shuffle is a no-op. The
    * oracle RUNS the distinct; [[graft.JoinElimSpec]] asserts the
    * optimized plan keeps exactly ONE aggregate (the real one). */
  def customerDistinctElim(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.DistinctElim.declareUnique(spark,
      s"$dir/customer.parquet", "c_custkey")
    Tables(spark, dir, "customer").distinct()
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("total_acctbal"))
      .orderBy("c_mktsegment")
  }

  /** A7 sem: percentile_disc vs percentile_cont PINNED as data — the
    * other classic quantile trap beside interpolation ambiguity (the
    * reason [[medianAcctbal]] averages the middle pair explicitly).
    * Per order status over exact price cents: `percentile_disc(0.5)`
    * returns the smallest MEMBER value whose cumulative distribution
    * reaches 0.5; `percentile_cont(0.5)` interpolates BETWEEN members
    * at rank (n−1)/2 — on even-sized groups the two answers differ and
    * a report that swaps one for the other silently shifts. cont is
    * emitted ×2 (`p50_cont_x2_cents`): the only non-integer it can
    * produce on integer input is an exact .5 between two cents values,
    * so doubling keeps the whole grade in BIGINTs — no float compare
    * anywhere. Both engines implement the identical published
    * definitions (DuckDB `quantile_disc`/`quantile_cont`); the hash
    * match is the cross-engine proof. */
  def pricePercentileSemantics(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS p50_disc_cents,
        |  CAST(2 * percentile_cont(0.5) WITHIN GROUP (ORDER BY
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS p50_cont_x2_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** A7 listagg: DETERMINISTIC ordered string aggregation — the
    * LISTAGG/string_agg surface. Spark's `collect_list` gives no
    * intra-group order guarantee (it is partition-arrival order), so
    * the portable form materializes the sort key INTO the collected
    * struct and sorts the finished array: `sort_array(collect_list(
    * struct(rk, name)))` → transform → `array_join` — one ordinary
    * hash aggregate, order restored at read-out, deterministic under
    * ANY partitioning. Top-3 customers per nation by exact spend
    * (ties by name), graded against DuckDB's native
    * `string_agg(... ORDER BY ...)`. */
  def topCustomersListagg(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n_name")
      .orderBy(col("spend_cents").desc, col("c_name"))
    val spend = Tables(spark, dir, "orders")
      .join(Tables(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")).as("spend_cents"))
      .join(broadcast(Tables(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
    spend
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .groupBy(col("n_name"))
      .agg(expr("array_join(transform(sort_array(collect_list(" +
        "struct(rk, c_name))), s -> s.c_name), ',')").as("top_customers"))
      .orderBy("n_name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "price_percentile_semantics" -> (pricePercentileSemantics _),
    "top_customers_listagg" -> (topCustomersListagg _),
    "customer_distinct_elim" -> (customerDistinctElim _),
    "top_orders_per_status"  -> (topOrdersPerStatus _),
    "unpivot_segment_counts" -> (unpivotSegmentCounts _),
    "pivot_segment_counts"   -> (pivotSegmentCounts _),
    "median_acctbal"         -> (medianAcctbal _),
    "approx_median_acctbal"  -> (approxMedianAcctbal _),
    "hist_quantiles_acctbal" -> (histQuantilesAcctbal _),
    "rolling_price_quantiles_hist" -> (rollingPriceQuantilesHist _),
    "grouping_sets_stats"    -> (groupingSets _),
    "cube_priority_status"   -> (cubePriorityStatus _),
    "pricing_summary"        -> (pricingSummary _),
    "rollup_segment_nation"  -> (rollupSegmentNation _),
    "topk_orders"            -> (topkOrders _),
    "segment_intersect"      -> (segmentIntersect _),
    "segment_union"          -> (segmentUnion _),
    "segment_except"         -> (segmentExcept _),
    "segment_setops_all"     -> (segmentSetopsAll _))

  val oracles: Map[String, String] = Map(
    // same published disc/cont definitions; ×2 keeps cont integral
    "price_percentile_semantics" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  quantile_disc(
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT),
        |    0.5) AS p50_disc_cents,
        |  CAST(2 * quantile_cont(
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT),
        |    0.5) AS BIGINT) AS p50_cont_x2_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // native ordered string_agg vs the sorted-collect read-out
    "top_customers_listagg" ->
      """WITH spend AS (
        |  SELECT c.c_custkey, c.c_name, c.c_nationkey,
        |    CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS spend_cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT n.n_name, s.c_name,
        |    row_number() OVER (PARTITION BY n.n_name
        |      ORDER BY s.spend_cents DESC, s.c_name) AS rk
        |  FROM spend s JOIN nation n ON s.c_nationkey = n.n_nationkey)
        |SELECT n_name,
        |  string_agg(c_name, ',' ORDER BY rk) AS top_customers
        |FROM ranked WHERE rk <= 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // rebuilds the sketch's exactly-specified bucketing in plain SQL:
    // same bucket formula, same cumulative read-out, same edges
    "hist_quantiles_acctbal" ->
      s"""WITH b AS (
         |  SELECT c_mktsegment,
         |    CASE WHEN CAST(c_acctbal AS DOUBLE) < -1000.0 THEN 0
         |         WHEN CAST(c_acctbal AS DOUBLE) >= 10000.0 THEN 111
         |         ELSE least(1 + CAST(floor(
         |           (CAST(c_acctbal AS DOUBLE) - CAST(-1000.0 AS DOUBLE))
         |             / CAST(100.0 AS DOUBLE)) AS INT), 110)
         |    END AS bin
         |  FROM customer),
         |c AS (SELECT c_mktsegment, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
         |n AS (SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY 1),
         |cum AS (
         |  SELECT c_mktsegment, bin,
         |    sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY bin) AS cum
         |  FROM c),
         |e AS (
         |  SELECT c_mktsegment, bin, cum,
         |    least(CAST(-1000.0 AS DOUBLE) + bin * CAST(100.0 AS DOUBLE),
         |          CAST(10000.0 AS DOUBLE)) AS edge
         |  FROM cum)
         |SELECT n.c_mktsegment, n.n AS n_customers,
         |  ${graft.functions.ScalarFns.roundSql(
              "min(CASE WHEN e.cum >= ceil(0.5 * n.n) THEN e.edge END)", 2)} AS p50_est,
         |  ${graft.functions.ScalarFns.roundSql(
              "min(CASE WHEN e.cum >= ceil(0.95 * n.n) THEN e.edge END)", 2)} AS p95_est
         |FROM e JOIN n ON e.c_mktsegment = n.c_mktsegment
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // rolling-window rebuild from RAW rows ≡ merging stored per-day
    // blobs (elementwise-sum associativity); identical bucket formula
    "rolling_price_quantiles_hist" ->
      s"""WITH o AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(o_totalprice AS DOUBLE) AS v
         |  FROM orders),
         |days AS (SELECT DISTINCT day FROM o),
         |win AS (
         |  SELECT d.day, o2.v FROM days d
         |  JOIN o o2 ON o2.day >= d.day - 27 AND o2.day <= d.day),
         |b AS (
         |  SELECT day,
         |    CASE WHEN v < 0.0 THEN 0
         |         WHEN v >= 500000.0 THEN 101
         |         ELSE least(1 + CAST(floor(
         |           (v - CAST(0.0 AS DOUBLE)) / CAST(5000.0 AS DOUBLE))
         |           AS INT), 100)
         |    END AS bin
         |  FROM win),
         |c AS (SELECT day, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
         |n AS (SELECT day, count(*) AS n FROM win GROUP BY 1),
         |cum AS (
         |  SELECT day, bin,
         |    sum(cnt) OVER (PARTITION BY day ORDER BY bin) AS cum
         |  FROM c),
         |e AS (
         |  SELECT day, bin, cum,
         |    least(CAST(0.0 AS DOUBLE) + bin * CAST(5000.0 AS DOUBLE),
         |          CAST(500000.0 AS DOUBLE)) AS edge
         |  FROM cum)
         |SELECT n.day, n.n AS n_orders,
         |  ${graft.functions.ScalarFns.roundSql(
            "min(CASE WHEN e.cum >= ceil(0.5 * n.n) THEN e.edge END)", 2)}
         |    AS p50_est,
         |  ${graft.functions.ScalarFns.roundSql(
            "min(CASE WHEN e.cum >= ceil(0.95 * n.n) THEN e.edge END)", 2)}
         |    AS p95_est
         |FROM e JOIN n ON e.day = n.day
         |GROUP BY 1, 2 ORDER BY n.day""".stripMargin,
    // unpivot(pivot(x)) minus empty cells ≡ the plain group-by
    "unpivot_segment_counts" ->
      """SELECT c_nationkey, c_mktsegment AS mktsegment,
        |  count(*) AS n_customers
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pivot_segment_counts" -> {
      val cols = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        .map(s =>
          s"""CAST(sum(CASE WHEN c_mktsegment = '$s' THEN 1 ELSE 0 END) AS BIGINT) AS "$s"""")
        .mkString(",\n  ")
      s"""SELECT c_nationkey,
         |  $cols
         |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "median_acctbal" ->
      s"""WITH r AS (
         |  SELECT c_mktsegment, c_acctbal,
         |    row_number() OVER (PARTITION BY c_mktsegment
         |      ORDER BY c_acctbal, c_custkey) AS rn,
         |    count(*) OVER (PARTITION BY c_mktsegment) AS n
         |  FROM customer)
         |SELECT c_mktsegment,
         |  ${roundSql("CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)", 2)} AS median_acctbal
         |FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // quantile_disc(0.5) = the element at rank ceil(n/2): identical to
    // approx_percentile's pick when the sketch is exact (accuracy >> n)
    "approx_median_acctbal" ->
      """SELECT c_mktsegment,
        |  quantile_disc(c_acctbal, 0.5) AS approx_median_acctbal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "grouping_sets_stats" -> groupingSetsSql,
    "cube_priority_status" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY 1, 2""".stripMargin,
    "pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  ${roundSql("CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)", 2)} AS avg_qty,
        |  ${roundSql("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)", 2)} AS avg_price,
        |  ${roundSql("CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*)", 2)} AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "rollup_segment_nation" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
        |  coalesce(n_name, 'ALL') AS nation,
        |  count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY ROLLUP(c_mktsegment, n_name)
        |ORDER BY 1, 2""".stripMargin,
    "topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    // the oracle RUNS the distinct the rule deleted
    "customer_distinct_elim" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_acctbal
        |FROM (SELECT DISTINCT * FROM customer)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the window (rank-k) statement of the same total order — hash
    // equality proves the bounded-heap select-k exact, ties included
    "top_orders_per_status" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |SELECT o_orderstatus, rnk, o_orderkey, o_totalprice
        |FROM r WHERE rnk <= 3
        |ORDER BY o_orderstatus, rnk""".stripMargin,
    "segment_union" ->
      """SELECT DISTINCT o_custkey, o_orderpriority FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |ORDER BY 1, 2""".stripMargin,
    "segment_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        |ORDER BY o_custkey""".stripMargin,
    "segment_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        |ORDER BY o_custkey""".stripMargin,
    "segment_setops_all" ->
      """SELECT * FROM (
        |  SELECT 'except_all' AS op, count(*) AS n_rows,
        |    CAST(coalesce(sum(o_custkey), 0) AS BIGINT) AS sum_key
        |  FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    EXCEPT ALL
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
        |  UNION ALL
        |  SELECT 'intersect_all' AS op, count(*) AS n_rows,
        |    CAST(coalesce(sum(o_custkey), 0) AS BIGINT) AS sum_key
        |  FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    INTERSECT ALL
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'))
        |ORDER BY op""".stripMargin)
}
