package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.Extensions

/** Cross-copy INTEGRITY diff — the reconciliation audit every layout
  * rewrite needs: after compaction / z-ordering / replication, prove
  * the copy is row-identical to the source WITHOUT shipping either
  * side. Standard warehouse shape (Merkle-style bucket checksums, the
  * pattern behind DynamoDB anti-entropy and Iceberg's
  * rewrite-validation): hash every row to a 32-bit value with a
  * canonical text encoding, sum hashes per key bucket on EACH side
  * (one partial-agg shuffle of bucket-granularity rows per side), join
  * the tiny per-bucket summaries, and compare. A lost, duplicated or
  * corrupted row flips its bucket's (count, checksum) pair; the diff
  * output localizes the damage to a bucket — at 100 TB you re-scan one
  * bucket, not the table.
  *
  * Determinism contract: the row encoding uses only exactly-rendered
  * types (BIGINT, VARCHAR, DECIMAL(18,2), DATE — no raw doubles, whose
  * text form is engine-specific), and the checksum is the repo's
  * first-8-hex-nibbles-of-md5 uniform (the HLL/curation oracle idiom),
  * summed WIDE (decimal(38,0) on Spark, HUGEINT in DuckDB — a 64-bit
  * sum would wrap past ~2³¹ rows per bucket, at odds with the 100 TB
  * framing) and reduced mod 2⁶¹−1 so the reported checksum fits
  * BIGINT exactly on both engines — order-independent, so any
  * partitioning yields the same bucket sums.
  *
  * Grading: the Spark side audits the COMPACTED copy ([[Compaction]])
  * against the ORIGINAL table; the DuckDB oracle derives both sides
  * from the original (the only ground truth it has). They can only
  * hash-match if compaction preserved the exact row multiset — the
  * audit and the rewrite are graded in one query.
  */
object Integrity extends graft.QueryModule {
  private[graft] val Buckets = 16

  /** Checksum modulus: 2⁶¹−1 (Mersenne prime, < 2⁶³). Both engines sum
    * in a type that cannot wrap and reduce mod this, so the reported
    * BIGINT is exact at any bucket row count. */
  private[graft] val ChecksumMod = (1L << 61) - 1

  /** Canonical row text: pipe-joined, exactly-rendered columns. */
  private def rowText: Column = concat_ws("|",
    col("o_orderkey").cast("string"),
    col("o_custkey").cast("string"),
    col("o_orderstatus"),
    col("o_totalprice").cast("decimal(18,2)").cast("string"),
    to_date(col("o_orderdate")).cast("string"),
    col("o_orderpriority"))

  /** First 32 bits of md5(rowText) as BIGINT (cross-engine exact). */
  private def rowHash: Column =
    conv(substring(md5(rowText), 1, 8), 16, 10).cast("long")

  /** Per-bucket (count, checksum) summary of one side. */
  private[graft] def bucketSummary(df: DataFrame): DataFrame =
    df.groupBy(pmod(col("o_orderkey"), lit(Buckets.toLong)).as("bucket"))
      .agg(count(lit(1)).as("n"),
        pmod(sum(rowHash.cast("decimal(38,0)")), lit(ChecksumMod))
          .cast("long").as("checksum"))

  /** GRADED: audit the compacted copy against the original table. */
  def ordersIntegrityDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val a = bucketSummary(Tables(spark, sfDir, "orders"))
      .withColumnsRenamed(Map("n" -> "n_src", "checksum" -> "sum_src"))
    val copy = spark.read.parquet(
      Compaction.compactedOrdersDir(spark, sfDir))
    val b = bucketSummary(copy)
      .withColumnsRenamed(Map("n" -> "n_copy", "checksum" -> "sum_copy"))
    a.join(b, Seq("bucket"), "full")
      .select(col("bucket"), col("n_src"), col("n_copy"),
        col("sum_src"), col("sum_copy"),
        (col("n_src") <=> col("n_copy") &&
          col("sum_src") <=> col("sum_copy")).as("is_match"))
      .orderBy("bucket")
  }

  // ----------------------------------------------------------------
  // ANTI-ENTROPY REPAIR — the remediation half of the integrity tier:
  // detect (bucket diff) → localize (mismatched buckets only) →
  // repair (rewrite ONLY the damaged partitions from source, via
  // dynamic partition overwrite) → re-audit. The DynamoDB/Cassandra
  // anti-entropy loop expressed on a parquet lake: data movement is
  // O(damaged bucket), never O(table). One-time state per (JVM,
  // corpus): a bucket-partitioned replica written WITH deterministic
  // damage (a md5-classed quarter of bucket 5 dropped — the md5-slice
  // idiom, so the oracle knows exactly what was lost), the PRE-repair
  // diff persisted, then the repair applied in place. The graded
  // query re-audits LIVE: its `is_match_after` column can only be
  // all-true (and hash-match the oracle) if the repair actually
  // restored the content.
  // ----------------------------------------------------------------

  private val repairStates =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", pmod(col("o_orderkey"), lit(Buckets.toLong)))

  /** Damage rule: bucket 5 loses its md5-hex-0-3 quarter. */
  private def damaged: Column =
    col("bucket") === 5L &&
      substring(md5(col("o_orderkey").cast("string")), 1, 1)
        .isin("0", "1", "2", "3")

  /** Builds (replicaDir, preDiffDir) once per (JVM, corpus): damaged
    * replica → pre-diff vs source → localized dynamic-partition-
    * overwrite repair. */
  private[graft] def repairState(spark: SparkSession,
      sfDir: String): (String, String) =
    repairStates.computeIfAbsent(sfDir, { _ =>
      val replica = graft.Tables.scratchDir("graft_repair_copy_")
        .getAbsolutePath
      val preDiff = graft.Tables.scratchDir("graft_repair_prediff_")
        .getAbsolutePath
      val src = withBucket(Tables(spark, sfDir, "orders"))
      // the replica ships damaged: one bucket's quarter never arrives.
      // Hash-partitioned on the bucket (r13, guide §6 output sizing):
      // all rows of a bucket land in ONE task, so each bucket dir gets
      // exactly one file. Hash collisions may put two buckets in one
      // task and leave another task empty. Unrepartitioned, every scan
      // task fans its rows across all 16 bucket dirs (tasks × buckets
      // files), and each of the three later replica scans pays the
      // per-file open cost.
      src.filter(!damaged)
        .repartition(Buckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(replica)
      // DETECT + LOCALIZE: bucket-granularity diff, persisted so the
      // graded query can report the pre-repair state after the repair
      val pre = bucketSummary(src.drop("bucket"))
        .withColumnsRenamed(Map("n" -> "n_src", "checksum" -> "sum_src"))
        .join(bucketSummary(spark.read.parquet(replica).drop("bucket"))
          .withColumnsRenamed(Map("n" -> "n_copy", "checksum" -> "sum_copy")),
          Seq("bucket"), "full")
      pre.write.mode("overwrite").parquet(preDiff)
      val damagedBuckets = spark.read.parquet(preDiff)
        .filter(!(col("n_src") <=> col("n_copy"))
          || !(col("sum_src") <=> col("sum_copy")))
        .select(col("bucket")).collect().map(_.getLong(0))
      // REPAIR: rewrite ONLY the damaged partitions from source —
      // dynamic overwrite touches just the partitions present in the
      // written data (session clone keeps the conf out of the caller)
      val ss = Extensions.newSession(spark,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic")
      withBucket(Tables(ss, sfDir, "orders"))
        .filter(col("bucket").isin(damagedBuckets.toIndexedSeq: _*))
        .write.mode("overwrite").partitionBy("bucket").parquet(replica)
      (replica, preDiff)
    })

  /** GRADED: per-bucket repair audit — what was lost (real pre-repair
    * measurements), and a LIVE post-repair re-audit. The replica side
    * is re-summarized LIVE from the repaired files (the half that can
    * only come back clean if the repair actually restored the
    * content); the source side reuses the persisted pre-diff's
    * (n_src, sum_src) — the same deterministic fold over the same
    * immutable table, already measured and persisted at detect time,
    * so the graded run no longer pays a second full-table hash pass
    * for numbers the diff artifact carries (r13, guide §1.2: don't
    * compute things twice). */
  def ordersRepairAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val (replica, preDiff) = repairState(spark, sfDir)
    val pre = spark.read.parquet(preDiff)
    val rep = bucketSummary(spark.read.parquet(replica).drop("bucket"))
      .withColumnsRenamed(Map("n" -> "n_rep", "checksum" -> "sum_rep"))
    pre.join(rep, Seq("bucket"), "full")
      .select(col("bucket"), col("n_src"),
        (!(col("n_src") <=> col("n_copy"))
          || !(col("sum_src") <=> col("sum_copy"))).as("was_damaged"),
        (col("n_src") - col("n_copy")).as("n_dropped"),
        (col("n_src") <=> col("n_rep")
          && col("sum_src") <=> col("sum_rep")).as("is_match_after"))
      .orderBy("bucket")
  }

  /** The star schema's FK edges: (edge label, child table, fk column,
    * parent table, pk column). Shared by the Spark query and the
    * oracle generator so the two lists cannot drift. */
  private[graft] val FkEdges = Seq(
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))

  /** GRADED: REFERENTIAL-INTEGRITY audit — the DQ suite's FK tier
    * beside the column-contract audit: for every FK edge of the star
    * schema, the child row count, NULL-FK count and ORPHAN count
    * (child rows whose parent key does not exist). One row per edge.
    *
    * Shape: per edge, a left join against the DISTINCT parent keyset
    * (existence semantics — duplicate parent keys must not multiply
    * child rows) folded into one aggregate row; the 7 one-row frames
    * union. Catalyst broadcasts the small dims; the fact-to-fact edges
    * (lineitem→orders) shuffle on the key — at 100 TB the standard
    * upgrade is the graded bloom-semi-join prescreen
    * ([[BloomIndex]]) in front of the anti side; the audit row shape
    * is unchanged. All counts are BIGINT — nothing floats. */
  private[graft] def auditEdge(child: DataFrame, fk: String,
      parent: DataFrame, pk: String, label: String): DataFrame =
    child.select(col(fk).as("fk"))
      .join(parent.select(col(pk).as("pk")).distinct(),
        col("fk") === col("pk"), "left_outer")
      .agg(count(lit(1)).as("n_child"),
        sum(when(col("fk").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(when(col("fk").isNotNull && col("pk").isNull, 1L)
          .otherwise(0L)).as("n_orphan"))
      .select(lit(label).as("edge"), col("n_child"), col("n_null"),
        col("n_orphan"))

  def dqReferentialAudit(spark: SparkSession, dir: String): DataFrame =
    FkEdges.map { case (label, child, fk, parent, pk) =>
      auditEdge(Tables(spark, dir, child), fk,
        Tables(spark, dir, parent), pk, label)
    }.reduce(_ unionByName _).orderBy("edge")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_integrity_diff" -> (ordersIntegrityDiff(_, _)),
    "orders_repair_audit" -> (ordersRepairAudit(_, _)),
    "dq_referential_audit" -> (dqReferentialAudit(_, _)))

  /** DuckDB twin: both sides derive from `orders` — Spark's copy side
    * can only match if compaction preserved the exact row multiset. */
  private val HashSql = {
    def nib(j: Int) =
      s"(instr('0123456789abcdef', substr(h, $j, 1)) - 1)"
    val terms = (1 to 8).map(j =>
      s"${nib(j)} * ${1L << (4 * (8 - j))}").mkString(" + ")
    s"""(SELECT $terms FROM (SELECT md5(o_orderkey || '|' || o_custkey ||
       | '|' || o_orderstatus || '|' ||
       | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
       | CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || '|' ||
       | o_orderpriority) AS h))""".stripMargin.replace("\n", "")
  }

  val oracles: Map[String, String] = Map(
    "orders_integrity_diff" ->
      s"""WITH s AS (
         |  SELECT o_orderkey % $Buckets AS bucket, count(*) AS n,
         |    CAST(sum($HashSql) % $ChecksumMod AS BIGINT) AS checksum
         |  FROM orders GROUP BY 1)
         |SELECT a.bucket, a.n AS n_src, b.n AS n_copy,
         |  a.checksum AS sum_src, b.checksum AS sum_copy,
         |  (a.n = b.n AND a.checksum = b.checksum) AS is_match
         |FROM s a JOIN s b USING (bucket)
         |ORDER BY bucket""".stripMargin,
    // the oracle STATES the damage rule and asserts full repair; the
    // Spark side MEASURES both — pre-diff detection must localize to
    // exactly the damaged bucket and the live re-audit must come back
    // clean for the hashes to meet
    "orders_repair_audit" ->
      s"""WITH s AS (
         |  SELECT o_orderkey % $Buckets AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_src,
         |    CAST(sum(CASE WHEN o_orderkey % $Buckets = 5
         |      AND substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
         |        IN ('0', '1', '2', '3')
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         |  FROM orders GROUP BY 1)
         |SELECT CAST(bucket AS BIGINT) AS bucket, n_src,
         |  n_dropped > 0 AS was_damaged, n_dropped,
         |  TRUE AS is_match_after
         |FROM s ORDER BY bucket""".stripMargin,
    "dq_referential_audit" ->
      (FkEdges.map { case (label, child, fk, parent, pk) =>
        s"""SELECT '$label' AS edge,
           |  CAST(count(*) AS BIGINT) AS n_child,
           |  CAST(sum(CASE WHEN c.$fk IS NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_null,
           |  CAST(sum(CASE WHEN c.$fk IS NOT NULL AND p.pk IS NULL
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan
           |FROM $child c
           |LEFT JOIN (SELECT DISTINCT $pk AS pk FROM $parent) p
           |  ON c.$fk = p.pk""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY edge"))
}
