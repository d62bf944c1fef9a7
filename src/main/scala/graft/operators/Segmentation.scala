package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ScalarFns._
import graft.plans.Extensions

/** The reference's relational core — `query_crm` (`backend/tools.py:38-81`)
  * — generalized to the driver's star schema (FIXTURES.md §3 transposition:
  * fan → customer, total_spent → sum(o_totalprice), last_purchase_date →
  * max(o_orderdate), genre → c_mktsegment).
  *
  * Semantics preserved exactly (SURVEY.md §2.2):
  *  - P1 optional-predicate conjunction: absent predicate ⇒ true; empty
  *    list/string disables (falsiness), numeric None-vs-0 distinction kept
  *    via Option.
  *  - P3/P4 recency bounds in float months, divisor 30.44, against a FIXED
  *    as-of date (determinism; reference used `date.today()`).
  *  - P5 spend threshold, P6 case-insensitive substring, P7 preview
  *    projection, P8 empty-segment zero-struct.
  *  - A1/A2/A3/A8 one-pass count + rounded averages; F10 deterministic
  *    content-hash segment id replacing `uuid4().hex[:8]`.
  *
  * Scale notes (100 TB): the per-customer activity rollup is a partial+final
  * hash aggregate on `o_custkey` (map-side combine shrinks the shuffle to
  * one row per customer); the customer⋈activity join co-partitions on the
  * same key so AQE can plan a single exchange; `nation` is broadcast. No
  * driver-side collection anywhere.
  */
object Segmentation extends graft.QueryModule {

  /** Fixed as-of date: the day after the max o_orderdate in the testdata,
    * so "months since last order" is always non-negative. */
  val DefaultAsOf = "2001-08-01"

  /** The 5-optional-predicate filter of `query_crm` (`tools.py:38-44`),
    * transposed. Falsiness semantics per `tools.py:60-67`: empty
    * `segments`/`nameContains` disable those predicates; numeric
    * thresholds use Option so 0 is a valid active threshold.
    */
  final case class SegmentFilter(
      segments: Seq[String] = Nil,
      minMonthsSinceLast: Option[Double] = None,
      maxMonthsSinceLast: Option[Double] = None,
      minTotalSpent: Option[Double] = None,
      nameContains: String = "",
      asOf: String = DefaultAsOf) {

    /** Deterministic descriptor — feeds the content-hash segment id. */
    def descriptor: String = Seq(
      s"segments=${segments.map(_.toLowerCase).sorted.mkString(",")}",
      s"min_months=${minMonthsSinceLast.getOrElse("")}",
      s"max_months=${maxMonthsSinceLast.getOrElse("")}",
      s"min_spent=${minTotalSpent.getOrElse("")}",
      s"name_contains=${nameContains.toLowerCase}",
      s"asof=$asOf").mkString("|")

    /** Conjunction of the present predicates (P1): None ⇒ no filtering. */
    def predicate: Option[Column] = {
      val ps = Seq(
        Option.when(segments.nonEmpty)(
          lower(col("c_mktsegment")).isin(segments.map(_.toLowerCase): _*)),
        minMonthsSinceLast.map(k => col("months_since_last") >= k),
        maxMonthsSinceLast.map(k => col("months_since_last") <= k),
        minTotalSpent.map(k => col("total_spent") >= k),
        Option.when(nameContains.nonEmpty)(
          containsIgnoreCase(col("c_name"), nameContains)))
      ps.flatten.reduceOption(_ && _)
    }
  }

  /** Customer activity rollup (J5 max-per-key + spend): one row per
    * customer with `last_order_date`, `total_spent` (exact decimal) and
    * `months_since_last` (F1). Left join keeps order-less customers
    * (their recency/spend are null ⇒ excluded by any recency/spend
    * predicate, same as SQL WHERE semantics).
    */
  def activity(customer: DataFrame, orders: DataFrame, asOf: String): DataFrame = {
    val perCust = orders.groupBy(col("o_custkey")).agg(
      max(to_date(col("o_orderdate"))).as("last_order_date"),
      sum(col("o_totalprice").cast("decimal(18,2)")).as("total_spent"))
    customer
      .join(perCust, customer("c_custkey") === perCust("o_custkey"), "left")
      .drop("o_custkey")
      .withColumn("months_since_last", monthsSince(col("last_order_date"), asOf))
  }

  private def filtered(act: DataFrame, f: SegmentFilter): DataFrame =
    f.predicate.map(act.filter).getOrElse(act)

  /** A1/A2/A3/A8 + P8 + F10: one-pass segment stats with zero-struct on
    * empty match (global aggregate always yields exactly one row; nulls
    * coalesced to 0 like `tools.py:69-70`).
    */
  def stats(act: DataFrame, f: SegmentFilter): DataFrame =
    filtered(act, f).agg(
      count(lit(1)).as("fan_count"),
      coalesce(moneyAvg(col("total_spent")), lit(0.0)).as("avg_spent"),
      coalesce(rateAvg(col("c_acctbal")), lit(0.0)).as("avg_acctbal"))
    .withColumn("segment_id", contentId("seg_", lit(f.descriptor)))

  /** P7 + L1: 9-column preview of the first 5 members under a TOTAL order
    * (the reference's "file order" head-5 does not survive partitioning —
    * SURVEY.md §7.4 pt 2).
    */
  def preview(act: DataFrame, nation: DataFrame, f: SegmentFilter, k: Int = 5): DataFrame =
    filtered(act, f)
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_nationkey"), col("n_name"), col("c_acctbal"),
        col("last_order_date"),
        col("total_spent").cast("double").as("total_spent"),
        roundN(col("months_since_last"), 2).as("months_since_last"))
      .orderBy(col("c_custkey"))
      .limit(k)

  // ---- Graded query entries (SparkEntry wiring) ----

  /** The canonical demo filter ("jazz fans who haven't bought tickets in
    * the last 3 months", README.md:72) transposed per FIXTURES.md §3. */
  val canonical: SegmentFilter = SegmentFilter(
    segments = Seq("building"),
    minMonthsSinceLast = Some(3.0),
    minTotalSpent = Some(1000.0))

  def statsQuery(spark: SparkSession, sfDir: String): DataFrame =
    stats(
      activity(Tables(spark, sfDir, "customer"), Tables(spark, sfDir, "orders"),
        canonical.asOf),
      canonical)

  def previewQuery(spark: SparkSession, sfDir: String): DataFrame =
    preview(
      activity(Tables(spark, sfDir, "customer"), Tables(spark, sfDir, "orders"),
        canonical.asOf),
      Tables(spark, sfDir, "nation"),
      canonical)

  /** P2 faithful form: case-insensitive ARRAY overlap (`tools.py:62` —
    * any requested genre equals any of the fan's genres after
    * lowercasing; equality, NOT substring). The array column is the
    * customer's set of order priorities (collect_set), the normalized
    * analog of the fan's genre list. Counted per segment so the graded
    * output has no array columns. */
  def genreOverlapQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val wanted = Seq("1-Urgent", "2-HIGH") // mixed case on purpose
    val c = Tables(spark, sfDir, "customer")
    val genres = Tables(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(collect_set(col("o_orderpriority")).as("genres"))
    c.join(genres, c("c_custkey") === genres("o_custkey"))
      .filter(overlapsIgnoreCase(col("genres"), wanted))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  val genreOverlapOracle: String =
    """SELECT c.c_mktsegment AS c_mktsegment, count(*) AS n_customers
      |FROM customer c
      |JOIN (SELECT o_custkey, list(DISTINCT o_orderpriority) AS genres
      |      FROM orders GROUP BY 1) g
      |  ON c.c_custkey = g.o_custkey
      |WHERE list_has_any(list_transform(g.genres, x -> lower(x)),
      |                   ['1-urgent', '2-high'])
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB WHERE clause mirroring [[SegmentFilter.predicate]] — the
    * oracle twin of the Column builder, so ANY filter combination is
    * oracle-checkable. Keep the two in lockstep. */
  /** Escape a value for a single-quoted SQL literal (doubles quotes —
    * an O'Brien name filter must not break the generated oracle). */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  def oracleWhere(f: SegmentFilter): String = {
    val months = s"date_diff('day', a.last_order_date, DATE '${f.asOf}') / 30.44"
    val conds = Seq(
      Option.when(f.segments.nonEmpty)(
        s"lower(c.c_mktsegment) IN (${f.segments.map(s => sqlLit(s.toLowerCase)).mkString(", ")})"),
      f.minMonthsSinceLast.map(k => s"$months >= $k"),
      f.maxMonthsSinceLast.map(k => s"$months <= $k"),
      f.minTotalSpent.map(k => s"a.total_spent >= $k"),
      Option.when(f.nameContains.nonEmpty)(
        s"contains(lower(c.c_name), ${sqlLit(f.nameContains.toLowerCase)})")
    ).flatten
    if (conds.isEmpty) "TRUE" else conds.mkString("\n    AND ")
  }

  /** Shared oracle CTE prefix (DuckDB) — mirrors `activity` + filter. */
  private def actCte(f: SegmentFilter): String =
    s"""WITH act AS (
       |  SELECT o_custkey,
       |         max(CAST(o_orderdate AS DATE)) AS last_order_date,
       |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spent
       |  FROM orders GROUP BY 1
       |), seg AS (
       |  SELECT c.*, a.last_order_date, a.total_spent,
       |         date_diff('day', a.last_order_date, DATE '${f.asOf}') / 30.44
       |           AS months_since_last
       |  FROM customer c LEFT JOIN act a ON c.c_custkey = a.o_custkey
       |  WHERE ${oracleWhere(f)}
       |)""".stripMargin

  def statsOracleFor(f: SegmentFilter): String =
    s"""${actCte(f)}
       |SELECT count(*) AS fan_count,
       |  coalesce(${roundSql("CAST(sum(CAST(total_spent AS DECIMAL(18,2))) AS DOUBLE) / count(*)", 2)}, 0.0) AS avg_spent,
       |  coalesce(${roundSql("CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)", 2)}, 0.0) AS avg_acctbal,
       |  'seg_' || substr(md5(${sqlLit(f.descriptor)}), 1, 8) AS segment_id
       |FROM seg""".stripMargin

  def previewOracleFor(f: SegmentFilter): String =
    s"""${actCte(f)}
       |SELECT s.c_custkey, s.c_name, s.c_mktsegment, s.c_nationkey, n.n_name,
       |  s.c_acctbal, s.last_order_date,
       |  CAST(s.total_spent AS DOUBLE) AS total_spent,
       |  ${roundSql("s.months_since_last", 2)} AS months_since_last
       |FROM seg s JOIN nation n ON s.c_nationkey = n.n_nationkey
       |ORDER BY s.c_custkey LIMIT 5""".stripMargin

  val statsOracle: String = statsOracleFor(canonical)
  val previewOracle: String = previewOracleFor(canonical)

  /** A second graded filter exercising P4 (max-months upper bound) and
    * P6 (case-insensitive name substring) — "active big-spender" slice. */
  val activeFilter: SegmentFilter = SegmentFilter(
    maxMonthsSinceLast = Some(6.0),
    nameContains = "Customer#00000")

  def activeStatsQuery(spark: SparkSession, sfDir: String): DataFrame =
    stats(
      activity(Tables(spark, sfDir, "customer"), Tables(spark, sfDir, "orders"),
        activeFilter.asOf),
      activeFilter)

  val activeStatsOracle: String = statsOracleFor(activeFilter)

  /** A filter that matches ZERO rows — grades the P8 zero-struct path
    * (`tools.py:69-70`: empty segment still returns one row of zeros):
    * the global aggregate + coalesce must emit exactly one
    * {0, 0.0, 0.0, seg_…} row, identically on both engines. */
  val impossibleFilter: SegmentFilter = SegmentFilter(
    segments = Seq("building"),
    nameContains = "no-such-customer-zzz")

  def emptyStatsQuery(spark: SparkSession, sfDir: String): DataFrame =
    stats(
      activity(Tables(spark, sfDir, "customer"), Tables(spark, sfDir, "orders"),
        impossibleFilter.asOf),
      impossibleFilter)

  val emptyStatsOracle: String = statsOracleFor(impossibleFilter)

  // ----------------------------------------------------------------
  // OBSERVABILITY AS DATA (r8) — the reference logs per-node row
  // counts (`fan_count`, SCALING.md:139-146) as its operational
  // surface; the Spark-native analog is the SQL metrics every
  // physical operator already maintains. This query executes a
  // segment filter and emits the executed plan's OWN numOutputRows
  // per node — graded against semantic SQL counts, so the metric
  // plumbing itself is pinned: a scan that stops reporting rows, or
  // a filter whose metric drifts from its semantics, fails the hash.
  // Parquet predicate pushdown is disabled on a session CLONE for
  // this one query: with pushdown, the scan's output count is
  // row-group-layout-dependent (pages survive wholesale), which no
  // SQL oracle can model — without it, scan = table count and
  // filter = predicate count, both oracle-expressible.
  // ----------------------------------------------------------------

  def segmentMetricsObserved(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = Extensions.newSession(spark,
      "spark.sql.parquet.filterPushdown" -> "false")
    val df = Tables(ss, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING" &&
        col("c_acctbal") >= 1000.0)
    df.collect() // execute: metrics populate on the executed plan
    val plan = df.queryExecution.executedPlan
    val scanRows = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value
    }.sum
    val filterRows = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.metrics("numOutputRows").value
    }.sum
    import ss.implicits._
    Seq(("filter", filterRows), ("scan", scanRows))
      .toDF("node", "n_rows").orderBy("node")
  }

  val segmentMetricsOracle: String =
    """SELECT 'filter' AS node,
      |  (SELECT count(*) FROM customer
      |   WHERE c_mktsegment = 'BUILDING' AND c_acctbal >= 1000.0)
      |    AS n_rows
      |UNION ALL
      |SELECT 'scan', (SELECT count(*) FROM customer)
      |ORDER BY node""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "segment_stats"   -> (statsQuery _),
    "segment_preview" -> (previewQuery _),
    "genre_overlap"   -> (genreOverlapQuery _),
    "segment_active_stats" -> (activeStatsQuery _),
    "segment_stats_empty"  -> (emptyStatsQuery _),
    // S6: same stats routed through the TTL result cache — the key
    // captures session, directory and the full filter descriptor, so a
    // hit can never serve another scale factor's (or session's) result
    "segment_stats_cached" -> ((s: SparkSession, dir: String) =>
      graft.sources.ResultCache.getOrCompute(
        s"${graft.sources.ResultCache.sessionId(s)}|segment_stats|$dir|${canonical.descriptor}",
        ttlSeconds = 300)(statsQuery(s, dir))),
    // observability-as-data: executed-plan numOutputRows per node
    // graded vs semantic SQL counts (the reference's fan_count logs)
    "segment_metrics_observed" -> (segmentMetricsObserved _),
  )

  val oracles: Map[String, String] = Map(
    "segment_stats"   -> statsOracle,
    "segment_preview" -> previewOracle,
    "genre_overlap"   -> genreOverlapOracle,
    "segment_active_stats" -> activeStatsOracle,
    "segment_stats_empty"  -> emptyStatsOracle,
    "segment_stats_cached" -> statsOracle,
    "segment_metrics_observed" -> segmentMetricsOracle,
  )
}
