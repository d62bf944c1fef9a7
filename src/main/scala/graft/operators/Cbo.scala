package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.plans.Extensions

/** COST-BASED OPTIMIZATION made to DO something (r8 verdict #5):
  * `join_card_estimate` ([[Stats]]) sanity-checks the estimator;
  * here ANALYZE-collected statistics actually CHANGE a plan. The
  * query states a deliberately bad join order — fact ⋈ fact first
  * (`lineitem ⋈ orders`), the selective dimension
  * (`part`, p_size ≤ 2: ~4 % of rows) last. A syntactic planner
  * executes left-to-right and pays the full fact×fact join before the
  * dim filter shrinks anything; with `spark.sql.cbo.enabled` +
  * `spark.sql.cbo.joinReorder.enabled` and table/column stats in the
  * catalog, Catalyst's `CostBasedJoinReorder` (the DP join-order
  * search over the join graph, Selinger-style) rewrites the tree so
  * the filtered dim joins the fact FIRST. `CboSpec` asserts the two
  * session clones (stats+CBO vs stats-free) produce DIFFERENT join
  * orders and IDENTICAL results; the oracle grades the values.
  *
  * Mechanics worth pinning:
  *  - stats live in the CATALOG, so the tables are `saveAsTable`
  *    catalog tables (the [[Tables]] bucketed-pair idiom), analyzed
  *    once per (JVM, corpus): `ANALYZE TABLE ... COMPUTE STATISTICS`
  *    (rowCount) + `FOR COLUMNS` on the join keys and the filter
  *    column (NDV/min/max → selectivity);
  *  - CBO is a SESSION conf read at plan time: the graded query runs
  *    on a session CLONE with it enabled — the caller's session is
  *    never touched (the house clone discipline);
  *  - at 100 TB this is the difference between shuffling the full
  *    fact×fact intermediate (≈|lineitem| rows) and shuffling the
  *    ~4 % that survives the dim — the reorder is worth more than any
  *    physical tuning below it.
  */
object Cbo extends graft.QueryModule {

  /** Catalog tables (lineitem/orders/part) + stats, once per
    * (JVM, corpus); returns the table names. */
  private val tablesMemo =
    new ConcurrentHashMap[String, (String, String, String)]()
  private[graft] def analyzedTables(spark: SparkSession,
      dir: String): (String, String, String) =
    tablesMemo.computeIfAbsent(dir, { _ =>
      val root = Tables.scratchDir("graft_cbo_").getAbsolutePath
      val tag = graft.sources.ResultCache.key(dir).take(8)
      val (lT, oT, pT) =
        (s"graft_cbo_lineitem_$tag", s"graft_cbo_orders_$tag",
          s"graft_cbo_part_$tag")
      Tables(spark, dir, "lineitem").write
        .option("path", s"$root/lineitem").saveAsTable(lT)
      Tables(spark, dir, "orders").write
        .option("path", s"$root/orders").saveAsTable(oT)
      Tables(spark, dir, "part").write
        .option("path", s"$root/part").saveAsTable(pT)
      spark.sql(s"ANALYZE TABLE $lT COMPUTE STATISTICS")
      spark.sql(s"ANALYZE TABLE $lT COMPUTE STATISTICS FOR COLUMNS " +
        "l_orderkey, l_partkey")
      spark.sql(s"ANALYZE TABLE $oT COMPUTE STATISTICS")
      spark.sql(s"ANALYZE TABLE $oT COMPUTE STATISTICS FOR COLUMNS " +
        "o_orderkey, o_orderstatus")
      spark.sql(s"ANALYZE TABLE $pT COMPUTE STATISTICS")
      spark.sql(s"ANALYZE TABLE $pT COMPUTE STATISTICS FOR COLUMNS " +
        "p_partkey, p_size")
      (lT, oT, pT)
    })

  // one CBO clone and one stats-free clone per parent session (shared
  // catalog — stats visibility is gated by cbo.enabled, which is a
  // per-session plan-time conf)
  private val cboClones = new ConcurrentHashMap[SparkSession, SparkSession]()
  private[graft] def cboClone(spark: SparkSession): SparkSession =
    cboClones.computeIfAbsent(spark, { s =>
      Extensions.newSession(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true")
    })
  private val plainClones = new ConcurrentHashMap[SparkSession, SparkSession]()
  private[graft] def plainClone(spark: SparkSession): SparkSession =
    plainClones.computeIfAbsent(spark, { s => Extensions.newSession(s) })

  /** The deliberately-misordered statement (fact ⋈ fact first). */
  private[graft] def statement(l: String, o: String, p: String): String =
    s"""SELECT p.p_brand, count(*) AS n_items,
       |  CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
       |    AS BIGINT)) AS BIGINT) AS revenue_cents
       |FROM $l l
       |JOIN $o o ON l.l_orderkey = o.o_orderkey
       |JOIN $p p ON p.p_partkey = l.l_partkey
       |WHERE p.p_size <= 2 AND o.o_orderstatus = 'F'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The statement planned under a given session clone. */
  private[graft] def planned(spark: SparkSession, dir: String,
      cbo: Boolean): DataFrame = {
    val (lT, oT, pT) = analyzedTables(spark, dir)
    val ss = if (cbo) cboClone(spark) else plainClone(spark)
    ss.sql(statement(lT, oT, pT))
  }

  /** GRADED: the census under the CBO-reordered plan — values must be
    * order-invariant (the whole point: the reorder is pure cost). */
  def revenueCboReordered(spark: SparkSession, dir: String): DataFrame =
    planned(spark, dir, cbo = true)

  // ----------------------------------------------------------------
  // The SECOND classic stats win (r10, r9 verdict #8): the
  // BROADCAST-THRESHOLD flip. The dim's post-filter size estimate
  // decides the physical join: stats-free, a Filter passes the
  // relation's FULL size through (selectivity 1 — Spark's
  // size-only visitor), which sits ABOVE the threshold → the dim
  // shuffles; with column stats, FilterEstimation prices
  // `p_size <= 2` off min/max/NDV (~4 % of rows), the estimate drops
  // BELOW the threshold → BroadcastHashJoin. Same threshold both
  // arms — the flip is caused by statistics alone.
  //
  // Two deliberate knobs, both scale-honest:
  //  - the threshold is set to 1/6 of the dim's on-disk size (a
  //    catalog lookup, exactly how an operator tunes a cluster), so
  //    the contract holds at every SF instead of only where a magic
  //    constant lands. Why 1/6: the stats-free estimate is NOT the
  //    raw file size — column pruning's width scaling already cuts it
  //    to ~0.30× disk (probed r10: 2018/8999/57549 B vs
  //    7.6/26/180 KB files), while the stats estimate lands at
  //    0.02–0.08× disk — 1/6 sits between the two bands with ≥1.6×
  //    margin each way at sf0.001/0.01/0.1;
  //  - AQE is off in BOTH arms: its runtime SMJ→BHJ rescue would
  //    convert the stats-free arm anyway at bench sizes and mask the
  //    PLAN-TIME flip this operator pins (the runtime path is graded
  //    by the AQE/skew family).
  // ----------------------------------------------------------------

  private def dimSizeBytes(spark: SparkSession, table: String): Long = {
    val loc = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    def walk(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles).getOrElse(Array.empty).map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length
      else 0L
    walk(loc)
  }

  /** The single-dim statement of the broadcast arm (no second fact —
    * the reorder is the OTHER query's job). */
  private[graft] def broadcastStatement(l: String, p: String): String =
    s"""SELECT p.p_brand, count(*) AS n_items,
       |  CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
       |    AS BIGINT)) AS BIGINT) AS revenue_cents
       |FROM $l l
       |JOIN $p p ON p.p_partkey = l.l_partkey
       |WHERE p.p_size <= 2
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private val bcClones =
    new ConcurrentHashMap[(SparkSession, String, Boolean), SparkSession]()
  private[graft] def broadcastArm(spark: SparkSession, dir: String,
      cbo: Boolean): DataFrame = {
    val (lT, _, pT) = analyzedTables(spark, dir)
    val ss = bcClones.computeIfAbsent((spark, dir, cbo), { _ =>
      Extensions.newSession(spark,
        "spark.sql.cbo.enabled" -> cbo.toString,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" ->
          math.max(1L, dimSizeBytes(spark, pT) / 6).toString)
    })
    ss.sql(broadcastStatement(lT, pT))
  }

  /** GRADED: the census under the stats-driven BROADCAST plan —
    * values must be physical-strategy-invariant. */
  def revenueCboBroadcast(spark: SparkSession, dir: String): DataFrame =
    broadcastArm(spark, dir, cbo = true)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "revenue_cbo_reordered" -> (revenueCboReordered(_, _)),
    "revenue_cbo_broadcast" -> (revenueCboBroadcast(_, _)))

  val oracles: Map[String, String] = Map(
    "revenue_cbo_reordered" ->
      s"""SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
         |    AS BIGINT)) AS BIGINT) AS revenue_cents
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN part p ON p.p_partkey = l.l_partkey
         |WHERE p.p_size <= 2 AND o.o_orderstatus = 'F'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "revenue_cbo_broadcast" ->
      s"""SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
         |    AS BIGINT)) AS BIGINT) AS revenue_cents
         |FROM lineitem l
         |JOIN part p ON p.p_partkey = l.l_partkey
         |WHERE p.p_size <= 2
         |GROUP BY 1 ORDER BY 1""".stripMargin)
}
