package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** WRITE-AUDIT-PUBLISH — the lakehouse governance gate (Iceberg WAP /
  * Delta's staged-commit pattern; dbt's test-before-swap): a producer
  * never writes into the live table — it writes a STAGED candidate,
  * runs the data-contract audit against the staging copy, and only an
  * audit with ZERO violations is atomically PUBLISHED; a failing
  * candidate is rolled back without ever being visible to readers.
  * This composes the repo's existing contract-audit surface
  * ([[Stats]]' `orders_contract_audit`) into the write path it exists
  * to guard.
  *
  * The demo stages TWO candidates against the same contract:
  *
  *  - `clean`: a faithful copy of `orders` — every check 0, published;
  *  - `dirty`: the same copy plus three poisoned rows (a NULL key, a
  *    duplicated min-key row, and a negative-price out-of-range-date
  *    row — one per constraint class) — audit fires, candidate rolled
  *    back, staging deleted.
  *
  * Grading: the audit LOG ITSELF is the graded result — one row per
  * (candidate, constraint) with the violation count and the publish
  * verdict, zeros included (a constraint silently going dark flips a
  * row), judged against DuckDB running the identical checks over the
  * identically-poisoned candidate. A second graded query aggregates
  * the PUBLISHED table against the plain `orders` oracle — proof the
  * gate published exactly the clean bytes.
  *
  * At 100 TB: staging is a directory/branch write (same cost as the
  * write you were doing anyway), the audit is the one-pass +
  * key-granularity checks `orders_contract_audit` already costs, and
  * publish is a metadata swap — the pattern's whole point is that the
  * expensive part (the audit) runs BEFORE visibility, not after an
  * incident. */
object Wap extends graft.QueryModule {

  private def dateCol: Column = to_date(col("o_orderdate"))

  /** The contract: (name, violation-count frame) over ANY candidate —
    * one definition for both candidates and (via SQL mirror) the
    * oracle. */
  private def audit(cand: DataFrame): DataFrame = {
    def row(name: String, n: DataFrame) =
      n.select(lit(name).as("constraint_name"),
        col("n").cast("bigint").as("n_violations"))
    row("key_not_null",
      cand.agg(sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n")))
      .unionByName(row("key_unique",
        cand.filter(col("o_orderkey").isNotNull)
          .groupBy(col("o_orderkey")).count().filter(col("count") > 1)
          .agg(count(lit(1)).as("n"))))
      .unionByName(row("price_positive",
        cand.agg(sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L))
          .as("n"))))
      .unionByName(row("date_in_range",
        cand.agg(sum(when(dateCol < lit("1995-01-01").cast("date")
          || dateCol > lit("2001-12-31").cast("date"), 1L).otherwise(0L))
          .as("n"))))
  }

  /** The poisoned candidate: orders ∪ one row per constraint class.
    * The duplicate rides the data (a copy of the min-key row), the
    * other two are fixed literals — all reproduced verbatim in the
    * oracle SQL. */
  private def dirtyCandidate(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val dup = o.crossJoin(broadcast(o.agg(min(col("o_orderkey")).as("mk"))))
      .filter(col("o_orderkey") === col("mk")).drop("mk")
    val poison = spark.sql(
      """SELECT CAST(NULL AS BIGINT) AS o_orderkey, CAST(0 AS BIGINT) AS o_custkey,
        |  'X' AS o_orderstatus, CAST(10.0 AS DOUBLE) AS o_totalprice,
        |  CAST('1995-01-01 00:00:00' AS TIMESTAMP) AS o_orderdate,
        |  '0-POISON' AS o_orderpriority
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 'X',
        |  CAST(-5.0 AS DOUBLE), CAST('2050-01-01 00:00:00' AS TIMESTAMP),
        |  '0-POISON'""".stripMargin)
    o.unionByName(dup).unionByName(poison)
  }

  /** (published dir, audit-log dir) once per (JVM, corpus). */
  private[graft] final case class WapState(publishedDir: String,
      auditLogDir: String, stagingGone: Boolean)
  private val states = new ConcurrentHashMap[String, WapState]()

  private[graft] def state(spark: SparkSession, dir: String): WapState =
    states.computeIfAbsent(dir, { _ =>
      val root = Tables.scratchDir("graft_wap_").getAbsolutePath
      val o = Tables(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
      // stage both candidates — writers never touch `published/`
      o.write.mode("overwrite").parquet(s"$root/staging_clean")
      dirtyCandidate(spark, dir).write.mode("overwrite")
        .parquet(s"$root/staging_dirty")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      // audit each STAGED COPY — the bytes that would go live, not
      // the producer's frame — and PERSIST the verdicts before any
      // publish/rollback: the audit log is itself a record (the
      // graded query reads it back; a rolled-back candidate's staged
      // bytes are gone, its audit rows remain — the production shape)
      var published: Option[String] = None
      for (cand <- Seq("clean", "dirty")) {
        val staging = new java.io.File(s"$root/staging_$cand")
        val a = audit(spark.read.parquet(staging.getAbsolutePath))
        val withVerdict = a.crossJoin(broadcast(
            a.agg((sum(col("n_violations")) === 0).as("published"))))
          .select(lit(cand).as("candidate"), col("constraint_name"),
            col("n_violations"), col("published"))
        withVerdict.coalesce(1).write.mode("append")
          .parquet(s"$root/audit_log")
        val ok = spark.read.parquet(s"$root/audit_log")
          .filter(col("candidate") === cand && !col("published"))
          .isEmpty
        if (ok) {
          // atomic publish: directory rename, the metadata-swap analog
          require(staging.renameTo(new java.io.File(s"$root/published")),
            s"publish rename failed for $cand")
          published = Some(s"$root/published")
        } else rm(staging) // rollback: the candidate never became visible
      }
      WapState(published.getOrElse(
          sys.error("WAP: no candidate passed the audit")),
        s"$root/audit_log",
        stagingGone = !new java.io.File(s"$root/staging_dirty").exists)
    })

  /** GRADED: the PERSISTED audit log — (candidate, constraint, count,
    * published) for both candidates, zeros included, read back from
    * the record written at audit time over the staged bytes. */
  def ordersWapAuditLog(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(state(spark, dir).auditLogDir)
      .orderBy("candidate", "constraint_name")

  /** GRADED: the published table IS the clean candidate — content
    * parity against plain SQL over `orders`. */
  def ordersWapPublished(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(state(spark, dir).publishedDir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_wap_audit_log" -> (ordersWapAuditLog(_, _)),
    "orders_wap_published" -> (ordersWapPublished(_, _)))

  val oracles: Map[String, String] = Map(
    // identical checks over the identically-poisoned candidate; the
    // publish verdict is the zero-violation predicate
    "orders_wap_audit_log" -> {
      val candSql = Map(
        "clean" -> "SELECT * FROM o",
        "dirty" ->
          """SELECT * FROM o
            |  UNION ALL
            |  SELECT * FROM o
            |  WHERE o_orderkey = (SELECT min(o_orderkey) FROM o)
            |  UNION ALL
            |  SELECT CAST(NULL AS BIGINT), CAST(0 AS BIGINT), 'X',
            |    CAST(10.0 AS DOUBLE), CAST('1995-01-01' AS TIMESTAMP),
            |    '0-POISON'
            |  UNION ALL
            |  SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 'X',
            |    CAST(-5.0 AS DOUBLE), CAST('2050-01-01' AS TIMESTAMP),
            |    '0-POISON'""".stripMargin)
      val arms = Seq("clean", "dirty").map { c =>
        s"""SELECT '$c' AS candidate, constraint_name,
           |  CAST(n_violations AS BIGINT) AS n_violations
           |FROM (
           |  WITH cand AS (${candSql(c)})
           |  SELECT 'key_not_null' AS constraint_name,
           |    (SELECT count(*) FROM cand WHERE o_orderkey IS NULL)
           |      AS n_violations
           |  UNION ALL
           |  SELECT 'key_unique',
           |    (SELECT count(*) FROM (SELECT o_orderkey FROM cand
           |      WHERE o_orderkey IS NOT NULL
           |      GROUP BY 1 HAVING count(*) > 1))
           |  UNION ALL
           |  SELECT 'price_positive',
           |    (SELECT count(*) FROM cand WHERE o_totalprice <= 0.0)
           |  UNION ALL
           |  SELECT 'date_in_range',
           |    (SELECT count(*) FROM cand
           |     WHERE CAST(o_orderdate AS DATE) < DATE '1995-01-01'
           |        OR CAST(o_orderdate AS DATE) > DATE '2001-12-31'))"""
          .stripMargin
      }
      s"""WITH o AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |    o_orderdate, o_orderpriority FROM orders),
         |log AS (
         |${arms.mkString("\nUNION ALL\n")}),
         |verdict AS (
         |  SELECT candidate, sum(n_violations) = 0 AS published
         |  FROM log GROUP BY 1)
         |SELECT l.candidate, l.constraint_name, l.n_violations,
         |  v.published
         |FROM log l JOIN verdict v USING (candidate)
         |ORDER BY 1, 2""".stripMargin
    },
    "orders_wap_published" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
}
