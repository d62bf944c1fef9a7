package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ScalarFns

/** Slowly-changing-dimension type-2 merge — the warehouse MERGE INTO
  * shape (close the old version, open a new one) expressed as pure
  * relational algebra, extending the reference's idempotent-write
  * discipline (S5, reference ENGINEERING.md's replay-safe scheduling)
  * to versioned dimensions: applying the same change batch twice
  * yields the same versioned table, because versions are keyed by
  * (key, valid_from) and the change detector only fires on attribute
  * drift.
  *
  * The change batch is derived DETERMINISTICALLY from the corpus (no
  * synthesized inputs, per TESTDATA.md discipline): a fixed residue
  * class of customers updates its tracked attributes (segment
  * migration for key ≡ 0 mod 3, balance credit for even keys), and a
  * second residue class arrives as brand-new keys — so the merge
  * exercises all four MERGE INTO arms: close+reopen (changed), insert
  * (new key), no-op (batch row equal to the current version), and
  * carry-through (key absent from the batch).
  *
  * At 100 TB: the merge is ONE equi-join of the dimension's current
  * slice against the change batch on the key (CDC batches are tiny
  * next to the dimension → broadcast; here both derive from
  * `customer` so the plan is a plain shuffled hash join and AQE picks
  * the build side). Untouched versions move through an anti join —
  * map-side after the same shuffle, no second scan. This is the
  * copy-on-write lakehouse merge; a merge-on-read variant would write
  * only `closed ∪ newv` as a delta file and resolve on scan, which is
  * the [[graft.streaming.StreamReplay]] upsert-log idiom.
  */
object Scd extends graft.QueryModule {
  /** Merge effective date — every closed version ends here and every
    * new version starts here. */
  private val EffDate = "1998-06-01"
  /** Open-interval sentinel (avoids NULL-compare hazards in both
    * engines; `is_current` is still materialized for readability). */
  private val OpenEnd = "9999-12-31"
  private val BaseDate = "1992-01-01"

  /** The dimension's pre-merge state: one open version per customer. */
  private def baseDim(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"), col("c_acctbal"),
        to_date(lit(BaseDate)).as("valid_from"),
        to_date(lit(OpenEnd)).as("valid_to"),
        lit(true).as("is_current"))

  /** The deterministic change batch: updates for key % 10 < 4 (segment
    * migrated when key % 3 = 0, balance +100 when key even — keys odd,
    * non-multiple-of-3 are deliberate NO-OP rows), inserts as key +
    * 10,000,000 for key % 25 = 0. */
  private def changeBatch(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val updates = c.filter(col("c_custkey") % 10 < 4)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        when(col("c_custkey") % 3 === 0, lit("MIGRATED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        when(col("c_custkey") % 2 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"))
    val inserts = c.filter(col("c_custkey") % 25 === 0)
      .select((col("c_custkey") + 10000000L).as("c_custkey"),
        concat(lit("New Account "), col("c_custkey")).as("c_name"),
        col("c_nationkey"),
        lit("NEWSEG").as("c_mktsegment"),
        lit(0.0).as("c_acctbal"))
    updates.unionByName(inserts)
  }

  /** The post-merge versioned dimension. Tracked attributes:
    * c_mktsegment, c_acctbal (name/nationkey carry through). */
  def scd2Dim(spark: SparkSession, dir: String): DataFrame = {
    val dim = baseDim(spark, dir)
    val batch = changeBatch(spark, dir)
    // change detection: batch row joined to its current version, kept
    // only when a tracked attribute actually drifted
    val chg = batch.as("u")
      .join(dim.as("d"), col("u.c_custkey") === col("d.c_custkey"))
      .filter(col("u.c_mktsegment") =!= col("d.c_mktsegment") ||
        col("u.c_acctbal") =!= col("d.c_acctbal"))
      .select(col("u.c_custkey"), col("u.c_name"), col("u.c_nationkey"),
        col("u.c_mktsegment"), col("u.c_acctbal"))
    val ins = batch.join(dim, Seq("c_custkey"), "left_anti")
    val closed = dim.join(chg.select("c_custkey"), Seq("c_custkey"), "left_semi")
      .withColumn("valid_to", to_date(lit(EffDate)))
      .withColumn("is_current", lit(false))
    val carried = dim.join(chg.select("c_custkey"), Seq("c_custkey"), "left_anti")
    val newv = chg.unionByName(ins)
      .withColumn("valid_from", to_date(lit(EffDate)))
      .withColumn("valid_to", to_date(lit(OpenEnd)))
      .withColumn("is_current", lit(true))
    carried.unionByName(closed).unionByName(newv)
      .orderBy("c_custkey", "valid_from")
  }

  /** Point-in-time reads of the versioned dimension at one pre-merge
    * and one post-merge date — the temporal predicate
    * (valid_from ≤ asof < valid_to) aggregated per date, so the grade
    * pins both the closed and the open interval ends. */
  def scd2AsofCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dates = Seq("1995-06-01", "1999-01-01").toDF("asof_s")
      .select(to_date(col("asof_s")).as("asof"))
    scd2Dim(spark, dir)
      .crossJoin(broadcast(dates))
      .filter(col("valid_from") <= col("asof") && col("asof") < col("valid_to"))
      .groupBy(col("asof"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("c_mktsegment") === "MIGRATED", 1L).otherwise(0L))
          .as("n_migrated"),
        ScalarFns.roundN(
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
          .as("total_acctbal"))
      .orderBy("asof")
  }

  /** POINT-IN-TIME join — the feature-store / leakage-safe warehouse
    * join: every fact row joined to the dimension version that was
    * CURRENT AT THE FACT'S OWN TIME (valid_from ≤ order date <
    * valid_to), not today's version. Joining facts to the current
    * dimension slice is the classic training-data LEAKAGE bug — a
    * post-merge attribute bleeds into pre-merge examples; the PIT join
    * is the fix, and the graded split below makes the difference
    * visible: the MIGRATED segment can only appear under post-merge
    * orders, so the hash pins temporal correctness, not just join
    * cardinality.
    *
    * Scale shape: an EQUI join on the customer key carries the whole
    * thing — the validity predicate rides as a post-join filter, and
    * because an SCD2 key holds few versions (≤2 here; bounded by
    * change frequency in general) the pre-filter fan-out is a small
    * constant × facts, never a range-join blowup. This is why
    * warehouses store dimensions as SCD2 instead of snapshots: the
    * PIT join stays hash-partitionable on the key at any scale. */
  def pitRevenueBySegment(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2Dim(spark, dir)
    val o = Tables(spark, dir, "orders")
    val od = to_date(col("o_orderdate"))
    o.join(dim, o("o_custkey") === dim("c_custkey") &&
        dim("valid_from") <= od && od < dim("valid_to"))
      .groupBy(col("c_mktsegment"),
        (od >= to_date(lit(EffDate))).as("post_merge"))
      .agg(count(lit(1)).as("n_orders"),
        ScalarFns.roundN(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("revenue"))
      .orderBy("c_mktsegment", "post_merge")
  }

  /** BITEMPORAL dimension (valid time × TRANSACTION time, Snodgrass):
    * every version row carries both intervals. Transaction 1 is the
    * initial load, transaction 2 the SCD2 merge. Derived purely from
    * [[scd2Dim]]: rows untouched by the merge span tx [1, ∞); rows the
    * merge WROTE (amended originals, new versions, inserts) span
    * [2, ∞); and each amended key's PRE-merge belief — the original
    * open-ended row — is reconstructed with tx [1, 2) (the merge
    * changed only valid_to/is_current, so the superseded row is the
    * amended row with those two fields restored). */
  private def bitemporalDim(spark: SparkSession, dir: String): DataFrame = {
    val scd = scd2Dim(spark, dir)
    val current = scd
      .withColumn("tx_from",
        when(col("valid_from") === to_date(lit(BaseDate)) &&
          col("valid_to") === to_date(lit(OpenEnd)), lit(1L))
          .otherwise(lit(2L)))
      .withColumn("tx_to", lit(1000000L))
    val superseded = scd.filter(col("valid_to") === to_date(lit(EffDate)))
      .withColumn("valid_to", to_date(lit(OpenEnd)))
      .withColumn("is_current", lit(true))
      .withColumn("tx_from", lit(1L))
      .withColumn("tx_to", lit(2L))
    current.unionByName(superseded)
  }

  /** BITEMPORAL read: "what did the warehouse BELIEVE at transaction T
    * about the dimension state VALID at each fact's own date" — the
    * audit/backtest question a PIT join alone cannot answer (PIT fixes
    * valid time only; reproducing a model trained before the merge
    * needs belief-as-of-then too). Facts join on the equi key with
    * BOTH temporal predicates riding as filters; the tx axis adds a
    * broadcast 2-row cross, so the plan stays hash-partitioned on the
    * customer key exactly like [[pitRevenueBySegment]]. As-of tx 1 no
    * MIGRATED segment can exist (the merge hadn't happened) — the
    * grade pins that the amended history is invisible to the earlier
    * transaction, not merely that counts line up. */
  def bitemporalRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = bitemporalDim(spark, dir)
    val txs = Seq(1L, 2L).toDF("tx")
    val o = Tables(spark, dir, "orders").crossJoin(broadcast(txs))
    val od = to_date(col("o_orderdate"))
    o.join(dim, o("o_custkey") === dim("c_custkey") &&
        dim("valid_from") <= od && od < dim("valid_to") &&
        dim("tx_from") <= col("tx") && col("tx") < dim("tx_to"))
      .groupBy(col("tx"), col("c_mktsegment"),
        (od >= to_date(lit(EffDate))).as("post_merge"))
      .agg(count(lit(1)).as("n_orders"),
        ScalarFns.roundN(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("revenue"))
      .orderBy("tx", "c_mktsegment", "post_merge")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scd2_dim"         -> (scd2Dim(_, _)),
    "scd2_asof_counts" -> (scd2AsofCounts(_, _)),
    "pit_revenue_by_segment" -> (pitRevenueBySegment(_, _)),
    "bitemporal_revenue" -> (bitemporalRevenue(_, _)))

  /** Shared oracle CTE chain — ends at the versioned table `scd`. */
  private def scdCtes: String =
    s"""WITH dim AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
       |    DATE '$BaseDate' AS valid_from, DATE '$OpenEnd' AS valid_to,
       |    TRUE AS is_current
       |  FROM customer),
       |batch AS (
       |  SELECT c_custkey, c_name, c_nationkey,
       |    CASE WHEN c_custkey % 3 = 0 THEN 'MIGRATED' ELSE c_mktsegment END
       |      AS c_mktsegment,
       |    CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END
       |      AS c_acctbal
       |  FROM customer WHERE c_custkey % 10 < 4
       |  UNION ALL
       |  SELECT c_custkey + 10000000, 'New Account ' || c_custkey,
       |    c_nationkey, 'NEWSEG', 0.0
       |  FROM customer WHERE c_custkey % 25 = 0),
       |chg AS (
       |  SELECT u.c_custkey, u.c_name, u.c_nationkey, u.c_mktsegment,
       |    u.c_acctbal
       |  FROM batch u JOIN dim d ON u.c_custkey = d.c_custkey
       |  WHERE u.c_mktsegment <> d.c_mktsegment
       |     OR u.c_acctbal <> d.c_acctbal),
       |ins AS (
       |  SELECT u.* FROM batch u LEFT JOIN dim d ON u.c_custkey = d.c_custkey
       |  WHERE d.c_custkey IS NULL),
       |scd AS (
       |  SELECT d.* FROM dim d LEFT JOIN chg c ON d.c_custkey = c.c_custkey
       |  WHERE c.c_custkey IS NULL
       |  UNION ALL
       |  SELECT d.c_custkey, d.c_name, d.c_nationkey, d.c_mktsegment,
       |    d.c_acctbal, d.valid_from, DATE '$EffDate', FALSE
       |  FROM dim d JOIN chg c ON d.c_custkey = c.c_custkey
       |  UNION ALL
       |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
       |    DATE '$EffDate', DATE '$OpenEnd', TRUE
       |  FROM (SELECT * FROM chg UNION ALL SELECT * FROM ins))""".stripMargin

  val oracles: Map[String, String] = Map(
    "scd2_dim" ->
      s"""$scdCtes
         |SELECT * FROM scd ORDER BY c_custkey, valid_from""".stripMargin,
    "pit_revenue_by_segment" ->
      s"""$scdCtes
         |SELECT s.c_mktsegment,
         |  CAST(o.o_orderdate AS DATE) >= DATE '$EffDate' AS post_merge,
         |  count(*) AS n_orders,
         |  ${ScalarFns.roundSql(
              "CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)",
              2)} AS revenue
         |FROM orders o JOIN scd s ON o.o_custkey = s.c_custkey
         |  AND s.valid_from <= CAST(o.o_orderdate AS DATE)
         |  AND CAST(o.o_orderdate AS DATE) < s.valid_to
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "bitemporal_revenue" ->
      s"""$scdCtes,
         |bi AS (
         |  SELECT c_custkey, c_mktsegment, valid_from, valid_to,
         |    CASE WHEN valid_from = DATE '$BaseDate'
         |          AND valid_to = DATE '$OpenEnd'
         |         THEN 1 ELSE 2 END AS tx_from,
         |    1000000 AS tx_to
         |  FROM scd
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment, valid_from, DATE '$OpenEnd', 1, 2
         |  FROM scd WHERE valid_to = DATE '$EffDate'),
         |txs AS (SELECT unnest([CAST(1 AS BIGINT), CAST(2 AS BIGINT)])
         |        AS tx)
         |SELECT t.tx, s.c_mktsegment,
         |  CAST(o.o_orderdate AS DATE) >= DATE '$EffDate' AS post_merge,
         |  count(*) AS n_orders,
         |  ${ScalarFns.roundSql(
              "CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)",
              2)} AS revenue
         |FROM orders o CROSS JOIN txs t
         |JOIN bi s ON o.o_custkey = s.c_custkey
         |  AND s.valid_from <= CAST(o.o_orderdate AS DATE)
         |  AND CAST(o.o_orderdate AS DATE) < s.valid_to
         |  AND s.tx_from <= t.tx AND t.tx < s.tx_to
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "scd2_asof_counts" ->
      s"""$scdCtes,
         |dates AS (SELECT unnest([DATE '1995-06-01', DATE '1999-01-01'])
         |          AS asof)
         |SELECT dates.asof, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN c_mktsegment = 'MIGRATED' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_migrated,
         |  ${ScalarFns.roundSql(
               "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)", 2)}
         |    AS total_acctbal
         |FROM scd, dates
         |WHERE valid_from <= dates.asof AND dates.asof < valid_to
         |GROUP BY 1 ORDER BY 1""".stripMargin)
}
