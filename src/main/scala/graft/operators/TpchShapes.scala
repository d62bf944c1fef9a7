package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** The REST of the TPC-H shape matrix (SURVEY.md §2.3/§2.4) — with
  * [[Aggregates]] (Q1), [[Joins]] (Q5), and [[Subqueries]] (Q2, Q7,
  * Q15, Q17, Q18, Q19, Q21, Q22), this file closes all 22 query
  * SHAPES. "Shape" because the corpus is TPC-H-ish, not TPC-H: there
  * is no `partsupp`, no `l_shipmode`/`l_commitdate`, so the queries
  * keep each original's PLAN-DEFINING structure (the reason the query
  * is in the benchmark) and restate the business filter over the
  * columns that exist — exactly the adaptation discipline the earlier
  * shapes established (Q7's trade blocks, Q22's dormancy window).
  *
  * Per shape, what is being pinned:
  *  - Q3  top-k join aggregate (the LIMIT must ride a complete sort
  *    of the grouped result — never a per-partition head);
  *  - Q4  EXISTS over the fact decorrelated to ONE semi join;
  *  - Q6  pure scan-predicate aggregate — every filter pushed;
  *  - Q8  two-level share: CASE mass inside a year group, integer ppm;
  *  - Q9  multi-dim profit with the two price terms in ONE exact
  *    integer unit (10⁻⁴ $: cents·pct and cents·qty_cents align);
  *  - Q10 top-k over a 4-table join with a selective flag filter;
  *  - Q11 group HAVING vs a GLOBAL scalar (cross-multiplied — the
  *    scalar broadcasts, never re-aggregates per group);
  *  - Q12 conditional aggregation over a join (CASE counts);
  *  - Q13 the left-join count DISTRIBUTION (aggregate of an
  *    aggregate, preserved rows counted as zero);
  *  - Q14 promo share as exact integer ppm;
  *  - Q16 count(DISTINCT) census with a NOT-IN supplier exclusion;
  *  - Q20 the nested semi chain over two aggregate views.
  *
  * House arithmetic throughout: money/quantities become integer cents
  * BEFORE any aggregate; shares are cross-multiplied or integer-ppm
  * (`div` / `//` floor on positives); dates compare as DATE; the
  * lateness window is [[Subqueries]]' exact-µs constant. Oracles are
  * the same statements modulo engine spellings (`epoch_us`, `//`),
  * so hash equality pins the semantics, not a reimplementation.
  */
object TpchShapes extends graft.QueryModule {

  private def cents(colSql: String): String =
    s"CAST(CAST($colSql AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** Discount as an exact integer percent (0.07 → 7). */
  private def discPct(colSql: String): String =
    s"CAST(CAST($colSql AS DECIMAL(4,2)) * 100 AS BIGINT)"

  private val LateMicros = 5184000000000L // 60 days, exact µs

  // ---- Q3: shipping priority — top-10 unshipped revenue ----------
  /** Revenue is exact 10⁻⁴ $ (cents × residual-pct); the LIMIT sits
    * above a total order on (revenue DESC, orderkey) so the top-10 is
    * deterministic and engine-independent. */
  private val shippingPrioritySql =
    s"""SELECT l.l_orderkey,
       |  CAST(sum(${cents("l.l_extendedprice")}
       |    * (100 - ${discPct("l.l_discount")})) AS BIGINT) AS revenue_u,
       |  CAST(o.o_orderdate AS DATE) AS o_orderdate, o.o_orderpriority
       |FROM customer c
       |JOIN orders o ON o.o_custkey = c.c_custkey
       |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |WHERE c.c_mktsegment = 'BUILDING'
       |  AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
       |  AND CAST(l.l_shipdate AS DATE) > DATE '1998-01-01'
       |GROUP BY 1, 3, 4
       |ORDER BY revenue_u DESC, l_orderkey LIMIT 10""".stripMargin

  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(shippingPrioritySql)
  }

  // ---- Q4: order priority checking — EXISTS → semi join ----------
  /** The late-lineitem EXISTS must decorrelate to ONE semi join on
    * the order key (TpchShapesSpec asserts subquery-free); lateness
    * is the Q21 exact-µs rule. */
  private def priorityOrderCheckSql(usFn: String) =
    s"""SELECT o.o_orderpriority, count(*) AS n_orders
       |FROM orders o
       |WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
       |  AND CAST(o.o_orderdate AS DATE) < DATE '1997-07-01'
       |  AND EXISTS (SELECT 1 FROM lineitem l
       |    WHERE l.l_orderkey = o.o_orderkey
       |      AND $usFn(CAST(l.l_shipdate AS TIMESTAMP))
       |          - $usFn(CAST(o.o_orderdate AS TIMESTAMP)) > $LateMicros)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  def priorityOrderCheck(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(priorityOrderCheckSql("unix_micros"))
  }

  // ---- Q6: forecast revenue change — pure scan aggregate ----------
  /** No join at all: the whole query is predicates + one aggregate,
    * and every predicate must reach the parquet scan (the pushdown
    * pin — TpchShapesSpec asserts PushedFilters carries all three
    * columns). The predicates are deliberately stated on the RAW
    * columns (timestamp literals, double bounds) — a `CAST(l_shipdate
    * AS DATE)` spelling is semantically identical here but wraps the
    * column and forfeits the scan filter, i.e. reads the whole fact
    * at 100 TB. The double bounds are exact cross-engine: stored
    * discounts are hundredths, and both engines resolve `0.05` to the
    * same nearest-double before comparing. Revenue forgone =
    * Σ price_cents · disc_pct, exact 10⁻⁴ $. */
  private val forecastRevenueSql =
    s"""SELECT
       |  CAST(sum(${cents("l_extendedprice")}
       |    * ${discPct("l_discount")}) AS BIGINT) AS discount_revenue_u,
       |  count(*) AS n_items
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount >= 0.05 AND l_discount <= 0.07
       |  AND l_quantity < 24""".stripMargin

  def forecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(forecastRevenueSql)
  }

  // ---- Q8: national market share ----------------------------------
  /** WEST-block suppliers' share of ECONOMY-part revenue sold to
    * AMERICA-region customers, per order year — the CASE-mass-inside-
    * group shape, share as exact integer ppm of exact cents. */
  private def marketShareSql(intDiv: String, wide: String = "DECIMAL(38,0)") =
    s"""WITH sales AS (
       |  SELECT year(CAST(o.o_orderdate AS DATE)) AS o_year,
       |    ${cents("l.l_extendedprice")}
       |      * (100 - ${discPct("l.l_discount")}) AS volume_u,
       |    CASE WHEN n1.n_nationkey < 12 THEN 1 ELSE 0 END AS is_west
       |  FROM lineitem l
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN customer c ON c.c_custkey = o.o_custkey
       |  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
       |  JOIN region r ON r.r_regionkey = n2.n_regionkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
       |  JOIN part p ON p.p_partkey = l.l_partkey
       |  WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY')
       |SELECT CAST(o_year AS INT) AS o_year,
       |  CAST(sum(CASE WHEN is_west = 1 THEN volume_u ELSE 0 END)
       |    AS BIGINT) AS west_revenue_u,
       |  CAST(sum(volume_u) AS BIGINT) AS total_revenue_u,
       |  CAST((sum(CAST(CASE WHEN is_west = 1 THEN volume_u ELSE 0 END
       |      AS $wide))
       |    * 1000000) $intDiv sum(CAST(volume_u AS $wide))
       |    AS BIGINT) AS west_share_ppm
       |FROM sales GROUP BY 1 ORDER BY 1""".stripMargin

  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(marketShareSql("div"))
  }

  // ---- Q9: product type profit ------------------------------------
  /** Profit per (supplier nation, order year) for widget parts.
    * BOTH terms land in ONE exact integer unit, 10⁻⁴ $:
    * price_cents·(100−disc_pct) = price·(1−disc)·10⁴ and
    * retail_cents·qty_cents = retail·qty·10⁴ (quantities are integral
    * in this corpus; the corpus-wide check is the cents cast). */
  private val productProfitSql =
    s"""SELECT n.n_name,
       |  CAST(year(CAST(o.o_orderdate AS DATE)) AS INT) AS o_year,
       |  CAST(sum(${cents("l.l_extendedprice")}
       |      * (100 - ${discPct("l.l_discount")})
       |    - ${cents("p.p_retailprice")} * ${cents("l.l_quantity")})
       |    AS BIGINT) AS profit_u
       |FROM lineitem l
       |JOIN orders o ON o.o_orderkey = l.l_orderkey
       |JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |JOIN nation n ON n.n_nationkey = s.s_nationkey
       |JOIN part p ON p.p_partkey = l.l_partkey
       |WHERE p.p_name LIKE '%widget%'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def productProfit(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(productProfitSql)
  }

  // ---- Q10: returned item reporting --------------------------------
  /** Top-20 customers by returned revenue in a half-year window —
    * the selective-flag top-k over the 4-table join. */
  private val returnedItemSql =
    s"""SELECT c.c_custkey, c.c_name, n.n_name, c.c_mktsegment,
       |  CAST(sum(${cents("l.l_extendedprice")}
       |    * (100 - ${discPct("l.l_discount")})) AS BIGINT)
       |    AS lost_revenue_u,
       |  count(*) AS n_items
       |FROM customer c
       |JOIN orders o ON o.o_custkey = c.c_custkey
       |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |JOIN nation n ON n.n_nationkey = c.c_nationkey
       |WHERE l.l_returnflag = 'R'
       |  AND CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
       |  AND CAST(o.o_orderdate AS DATE) < DATE '1997-07-01'
       |GROUP BY 1, 2, 3, 4
       |ORDER BY lost_revenue_u DESC, c_custkey LIMIT 20""".stripMargin

  def returnedItems(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(returnedItemSql)
  }

  // ---- Q11: important part value -----------------------------------
  /** Parts carrying an outsized share of WEST-block shipped value —
    * group totals HAVING above a GLOBAL scalar fraction, stated
    * cross-multiplied (value·10⁴ > total·5 ⇔ value > 0.05 % of
    * total): the scalar subquery broadcasts as one row and never
    * re-aggregates per group (TpchShapesSpec asserts zero correlated
    * subqueries and exactly one fact scan per arm, plus a brute
    * recount of the cross-multiplied HAVING). */
  private val importantPartsSql =
    s"""WITH west_value AS (
       |  SELECT l.l_partkey,
       |    CAST(sum(${cents("l.l_extendedprice")}) AS BIGINT) AS value_cents
       |  FROM lineitem l
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  WHERE s.s_nationkey < 12
       |  GROUP BY 1)
       |SELECT l_partkey, value_cents
       |FROM west_value
       |WHERE value_cents * 10000 >
       |  (SELECT sum(value_cents) * 5 FROM west_value)
       |ORDER BY value_cents DESC, l_partkey""".stripMargin

  def importantParts(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(importantPartsSql)
  }

  // ---- Q12: shipping buckets — conditional aggregation -------------
  /** Q12's CASE-count shape with the missing `l_shipmode` replaced by
    * the lateness bucket (the column that exists carries the same
    * two-way split): per bucket, how many high- vs low-priority
    * orders shipped in 1997. */
  private def shipBucketSql(usFn: String) =
    s"""SELECT
       |  CASE WHEN $usFn(CAST(l.l_shipdate AS TIMESTAMP))
       |         - $usFn(CAST(o.o_orderdate AS TIMESTAMP)) > $LateMicros
       |       THEN 'LATE' ELSE 'ONTIME' END AS ship_bucket,
       |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_items,
       |  CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_items
       |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
       |  AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  def shipBuckets(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(shipBucketSql("unix_micros"))
  }

  // ---- Q13: customer order-count distribution -----------------------
  /** The aggregate-of-an-aggregate over a preserved left join:
    * count(o_orderkey) skips the NULLs of order-less customers, so
    * zero-order customers form the c_count = 0 bucket — the preserved-
    * row semantics `left_join_filter_semantics` pins, here consumed by
    * a second aggregation. */
  private val orderCountDistSql =
    s"""WITH c_orders AS (
       |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
       |  FROM customer c
       |  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
       |    AND o.o_orderpriority <> '5-LOW'
       |  GROUP BY 1)
       |SELECT c_count, count(*) AS custdist
       |FROM c_orders GROUP BY 1
       |ORDER BY custdist DESC, c_count DESC""".stripMargin

  def orderCountDistribution(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(orderCountDistSql)
  }

  // ---- Q14: promo revenue share -------------------------------------
  /** Promo parts' share of one month's revenue, as exact ppm. */
  private def promoShareSql(intDiv: String, wide: String = "DECIMAL(38,0)") =
    s"""WITH m AS (
       |  SELECT ${cents("l.l_extendedprice")}
       |      * (100 - ${discPct("l.l_discount")}) AS volume_u,
       |    CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo
       |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       |  WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-03-01'
       |    AND CAST(l.l_shipdate AS DATE) < DATE '1997-04-01')
       |SELECT
       |  CAST(sum(CASE WHEN is_promo = 1 THEN volume_u ELSE 0 END)
       |    AS BIGINT) AS promo_revenue_u,
       |  CAST(sum(volume_u) AS BIGINT) AS total_revenue_u,
       |  CAST((sum(CAST(CASE WHEN is_promo = 1 THEN volume_u ELSE 0 END
       |      AS $wide))
       |    * 1000000) $intDiv sum(CAST(volume_u AS $wide))
       |    AS BIGINT) AS promo_share_ppm
       |FROM m""".stripMargin

  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(promoShareSql("div"))
  }

  // ---- Q16: supplier census with NOT-IN exclusion --------------------
  /** count(DISTINCT supplier) per (brand, size) over the shipped
    * part-supplier pairs (the corpus's partsupp stand-in), minus the
    * excluded supplier class — the NOT IN must plan as ONE anti join,
    * never a per-row probe. */
  private val supplierCensusSql =
    s"""SELECT p.p_brand, p.p_size,
       |  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
       |FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
       |WHERE p.p_brand <> 'Brand#13'
       |  AND p.p_type NOT IN ('PROMO', 'ECONOMY')
       |  AND p.p_size IN (1, 5, 9, 14, 20, 28, 36, 45)
       |  AND l.l_suppkey NOT IN
       |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000)
       |GROUP BY 1, 2
       |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin

  def supplierCensus(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(supplierCensusSql)
  }

  // ---- Q20: the nested semi chain -------------------------------------
  /** Suppliers who shipped MORE than double the promo-part volume in
    * 1997 than in 1996 (the availqty-vs-half-shipped correlation
    * restated over the two year windows that exist): an IN over a
    * join of two aggregate views, consumed by a plain supplier
    * projection — each view aggregates the fact ONCE. */
  private val growthSuppliersSql =
    s"""WITH shipped97 AS (
       |  SELECT l.l_suppkey, l.l_partkey,
       |    CAST(sum(${cents("l.l_quantity")}) AS BIGINT) AS q
       |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       |  WHERE p.p_type = 'PROMO'
       |    AND CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
       |    AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
       |  GROUP BY 1, 2),
       |shipped96 AS (
       |  SELECT l.l_suppkey, l.l_partkey,
       |    CAST(sum(${cents("l.l_quantity")}) AS BIGINT) AS q
       |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       |  WHERE p.p_type = 'PROMO'
       |    AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
       |    AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
       |  GROUP BY 1, 2)
       |SELECT s.s_suppkey, s.s_name
       |FROM supplier s
       |WHERE s.s_suppkey IN (
       |  SELECT a.l_suppkey FROM shipped97 a
       |  JOIN shipped96 b
       |    ON b.l_suppkey = a.l_suppkey AND b.l_partkey = a.l_partkey
       |  WHERE a.q > 2 * b.q)
       |ORDER BY s_suppkey""".stripMargin

  def growthSuppliers(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(growthSuppliersSql)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "shipping_priority" -> (shippingPriority _),
    "priority_order_check" -> (priorityOrderCheck _),
    "forecast_revenue" -> (forecastRevenue _),
    "market_share" -> (marketShare _),
    "product_profit" -> (productProfit _),
    "returned_items" -> (returnedItems _),
    "important_parts" -> (importantParts _),
    "ship_buckets" -> (shipBuckets _),
    "order_count_distribution" -> (orderCountDistribution _),
    "promo_share" -> (promoShare _),
    "supplier_census" -> (supplierCensus _),
    "growth_suppliers" -> (growthSuppliers _))

  // r10: where an INDEPENDENT formulation exists (per the r9 advice),
  // the oracle states it instead of echoing the Spark statement —
  // hash equality then proves the query's semantics, not just that
  // two engines agree on one spelling. Each swap was value-checked
  // against the echoed form in DuckDB before landing.
  val oracles: Map[String, String] = Map(
    "shipping_priority" -> shippingPrioritySql,
    // Q4 independent: join + DISTINCT late-order set, no EXISTS
    "priority_order_check" ->
      s"""WITH late AS (
         |  SELECT DISTINCT l.l_orderkey
         |  FROM lineitem l JOIN orders o2 ON o2.o_orderkey = l.l_orderkey
         |  WHERE epoch_us(CAST(l.l_shipdate AS TIMESTAMP))
         |      - epoch_us(CAST(o2.o_orderdate AS TIMESTAMP)) > $LateMicros)
         |SELECT o.o_orderpriority, count(*) AS n_orders
         |FROM orders o JOIN late ON late.l_orderkey = o.o_orderkey
         |WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
         |  AND CAST(o.o_orderdate AS DATE) < DATE '1997-07-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "forecast_revenue" -> forecastRevenueSql,
    // HUGEINT, not DECIMAL(38,0): DuckDB's `//` over DECIMAL operands
    // degenerates to DOUBLE true division (probed r10 — 59//30 gives
    // 1.9666…), while HUGEINT `//` floors exactly like Spark's
    // decimal `div`
    "market_share" -> marketShareSql("//", wide = "HUGEINT"),
    "product_profit" -> productProfitSql,
    "returned_items" -> returnedItemSql,
    // Q11 independent: the global total via a window over the view,
    // no scalar subquery
    "important_parts" ->
      s"""WITH west_value AS (
         |  SELECT l.l_partkey,
         |    CAST(sum(${cents("l.l_extendedprice")}) AS BIGINT) AS value_cents
         |  FROM lineitem l
         |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
         |  WHERE s.s_nationkey < 12
         |  GROUP BY 1)
         |SELECT l_partkey, value_cents FROM (
         |  SELECT l_partkey, value_cents,
         |    sum(value_cents) OVER () AS tot
         |  FROM west_value)
         |WHERE value_cents * 10000 > tot * 5
         |ORDER BY value_cents DESC, l_partkey""".stripMargin,
    "ship_buckets" -> shipBucketSql("epoch_us"),
    // Q13 independent: per-customer order count as a correlated
    // scalar, no LEFT JOIN + re-aggregate
    "order_count_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT (SELECT count(*) FROM orders o
        |          WHERE o.o_custkey = c.c_custkey
        |            AND o.o_orderpriority <> '5-LOW') AS c_count
        |  FROM customer c)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "promo_share" -> promoShareSql("//", wide = "HUGEINT"),
    // Q16 independent: the exclusion as LEFT JOIN ... IS NULL, no
    // NOT IN
    "supplier_census" ->
      s"""SELECT p.p_brand, p.p_size,
         |  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
         |FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
         |LEFT JOIN (SELECT s_suppkey FROM supplier
         |           WHERE s_acctbal < 2000) ex
         |  ON ex.s_suppkey = l.l_suppkey
         |WHERE p.p_brand <> 'Brand#13'
         |  AND p.p_type NOT IN ('PROMO', 'ECONOMY')
         |  AND p.p_size IN (1, 5, 9, 14, 20, 28, 36, 45)
         |  AND ex.s_suppkey IS NULL
         |GROUP BY 1, 2
         |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,
    "growth_suppliers" -> growthSuppliersSql)
}
