package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Interchange-format sources on the GRADED path — the engine must
  * read more than its native parquet: ORC (the other columnar
  * warehouse standard) and CSV (the lowest common denominator every
  * ingest eventually meets). Each graded query routes `orders` through
  * a format round-trip written once per (JVM, corpus) and aggregates
  * the COPY, judged against DuckDB on the ORIGINAL parquet — any
  * type-fidelity loss in the writer or reader (timestamp formatting,
  * double text round-trip, nullability) diverges the hash.
  *
  * Production discipline the queries demonstrate:
  *  - CSV is read with an EXPLICIT schema — `inferSchema` costs a full
  *    extra pass at 100 TB and can mistype columns batch-to-batch;
  *    the timestamp format is pinned on both writer and reader so the
  *    round trip never depends on JVM/locale defaults.
  *  - ORC reads vectorize like parquet (the scan shows the same
  *    ColumnarToRow shape) and keep predicate pushdown, so switching
  *    warehouse formats does not change the plan discipline.
  */
object Formats extends graft.QueryModule {
  private val csvDirs = new ConcurrentHashMap[String, String]()
  private val orcDirs = new ConcurrentHashMap[String, String]()
  private val jsonDirs = new ConcurrentHashMap[String, String]()

  private[graft] val TsFmt = "yyyy-MM-dd HH:mm:ss"

  private[graft] val OrdersCsvSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  /** The orders slice written to text formats — columns selected
    * EXPLICITLY in [[OrdersCsvSchema]] order: the read side binds an
    * explicit schema positionally (header names are ignored), so the
    * writer must pin the position ↔ field mapping rather than inherit
    * whatever order the source table evolves to. */
  private def ordersTextSource(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .select(OrdersCsvSchema.fieldNames.map(col).toIndexedSeq: _*)
      // the parquet source column is TIMESTAMP_NTZ (unadjusted µs) and
      // the text writers format NTZ with timestampNTZFormat, not
      // timestampFormat — normalize to LTZ (identity under the fixed
      // UTC session) so ONE pinned format governs write and read
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))

  private[graft] def csvOrdersDir(spark: SparkSession, sfDir: String): String =
    csvDirs.computeIfAbsent(sfDir, { _ =>
      val f = Tables.scratchDir("graft_csv_orders_")
      ordersTextSource(spark, sfDir)
        .write.mode("overwrite")
        .option("header", "true").option("timestampFormat", TsFmt)
        .csv(f.getAbsolutePath)
      f.getAbsolutePath
    })

  private[graft] def orcOrdersDir(spark: SparkSession, sfDir: String): String =
    orcDirs.computeIfAbsent(sfDir, { _ =>
      val f = Tables.scratchDir("graft_orc_orders_")
      Tables(spark, sfDir, "orders")
        .write.mode("overwrite").orc(f.getAbsolutePath)
      f.getAbsolutePath
    })

  private[graft] def agg(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        max(to_date(col("o_orderdate"))).as("last_date"))
      .orderBy("o_orderpriority")

  private[graft] def jsonOrdersDir(spark: SparkSession, sfDir: String): String =
    jsonDirs.computeIfAbsent(sfDir, { _ =>
      val f = Tables.scratchDir("graft_json_orders_")
      ordersTextSource(spark, sfDir)
        .write.mode("overwrite")
        .option("timestampFormat", TsFmt)
        .json(f.getAbsolutePath)
      f.getAbsolutePath
    })

  /** GRADED: aggregate over the JSONL round-trip (explicit schema —
    * same no-infer discipline as CSV; JSONL is the de-facto LLM
    * training-data interchange format, so the engine reading it with
    * exact type fidelity is first-class, not a curiosity). */
  def ordersJsonAgg(spark: SparkSession, sfDir: String): DataFrame =
    agg(spark.read.schema(OrdersCsvSchema)
      .option("timestampFormat", TsFmt)
      .json(jsonOrdersDir(spark, sfDir)))

  // ----------------------------------------------------------------
  // DEAD-LETTER ingest (r8) — the malformed-record containment every
  // production JSONL loader runs: a poisoned feed (the round-trip
  // JSONL plus three syntactically-broken lines) is parsed ONCE in
  // PERMISSIVE mode with a corrupt-record column; clean rows land in
  // the table, broken lines land VERBATIM in the dead-letter queue —
  // the load never aborts (FAILFAST), never silently drops (the DLQ
  // is inspectable), and the graded aggregate over the landed table
  // must equal plain SQL over the original orders: three bad lines
  // cost zero good rows. At 100 TB this is the ingest topology:
  // parse → split by corrupt marker → two sinks, one pass.
  // ----------------------------------------------------------------

  private[graft] val PoisonLines = Seq(
    """{"o_orderkey": this is not json""",
    """}{""",
    """["not", "an", "object"]""")

  private[graft] final case class DlqState(goodDir: String,
      dlqDir: String)
  private val dlqStates = new ConcurrentHashMap[String, DlqState]()

  // the poisoned feed (round-trip JSONL + a bad-lines file, as text),
  // shared by the batch split and the streamed replay twin
  private val poisonFeeds = new ConcurrentHashMap[String, String]()
  private[graft] def poisonedFeedDir(spark: SparkSession,
      sfDir: String): String =
    poisonFeeds.computeIfAbsent(sfDir, { _ =>
      import spark.implicits._
      val feed = Tables.scratchDir("graft_dlq_feed_").getAbsolutePath
      spark.read.text(jsonOrdersDir(spark, sfDir))
        .write.mode("overwrite").text(feed)
      PoisonLines.toDF("value").coalesce(1)
        .write.mode("append").text(feed)
      feed
    })

  private[graft] def dlqState(spark: SparkSession, sfDir: String): DlqState =
    dlqStates.computeIfAbsent(sfDir, { _ =>
      val root = Tables.scratchDir("graft_dlq_").getAbsolutePath
      val feedDir = poisonedFeedDir(spark, sfDir)
      // ONE permissive parse, split by the corrupt marker
      val schema = OrdersCsvSchema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType)
      // cached: Spark disallows projecting ONLY the corrupt-record
      // column straight off a raw JSON scan (the parser would have
      // nothing to fail on) — the documented recipe is to materialize
      // the parse once, then split
      val parsed = spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("timestampFormat", TsFmt)
        .json(feedDir)
        .cache()
      try {
        parsed.filter(col("_corrupt_record").isNull)
          .drop("_corrupt_record")
          .write.mode("overwrite").parquet(s"$root/good")
        parsed.filter(col("_corrupt_record").isNotNull)
          .select(col("_corrupt_record").as("raw_line"))
          .write.mode("overwrite").parquet(s"$root/dlq")
      } finally { parsed.unpersist(blocking = false); () }
      DlqState(s"$root/good", s"$root/dlq")
    })

  /** GRADED: the landed table after dead-letter splitting — the same
    * aggregate and ORACLE as the clean round-trip: poisoned lines
    * must cost zero good rows. */
  def ordersJsonDlqAgg(spark: SparkSession, sfDir: String): DataFrame =
    agg(spark.read.parquet(dlqState(spark, sfDir).goodDir))

  /** GRADED: aggregate over the CSV round-trip (explicit schema). */
  def ordersCsvAgg(spark: SparkSession, sfDir: String): DataFrame =
    agg(spark.read.schema(OrdersCsvSchema)
      .option("header", "true").option("timestampFormat", TsFmt)
      .csv(csvOrdersDir(spark, sfDir)))

  /** GRADED: aggregate over the ORC round-trip. */
  def ordersOrcAgg(spark: SparkSession, sfDir: String): DataFrame =
    agg(spark.read.orc(orcOrdersDir(spark, sfDir)))

  // ----------------------------------------------------------------
  // SCHEMA EVOLUTION on read: a table whose later ingest generations
  // carry a column the earlier ones lack — the normal life of any
  // long-lived 100 TB table. The copy-on-write answer (rewrite every
  // old file to add the column) is a non-plan at scale; the schema-on-
  // read answer is parquet mergeSchema: each file keeps its own
  // schema, the read unions them, missing columns surface as NULL.
  // ----------------------------------------------------------------

  private val evoDirs = new ConcurrentHashMap[String, String]()

  /** Two-generation orders copy: generation 1 (keys with md5 hex 0-7)
    * written with the original 6 columns; generation 2 (hex 8-f)
    * APPENDED with an added `o_channel` column (deterministic key % 3
    * mapping) — a real mixed-schema parquet directory, no rewrite of
    * generation 1. */
  private[graft] def evolvedOrdersDir(spark: SparkSession,
      sfDir: String): String =
    evoDirs.computeIfAbsent(sfDir, { _ =>
      val f = Tables.scratchDir("graft_evo_orders_")
      val o = Tables(spark, sfDir, "orders")
      val hx = substring(md5(col("o_orderkey").cast("string")), 1, 1)
      o.filter(hx < "8")
        .write.mode("overwrite").parquet(f.getAbsolutePath)
      o.filter(hx >= "8")
        .withColumn("o_channel",
          when(col("o_orderkey") % 3 === 0, "web")
            .when(col("o_orderkey") % 3 === 1, "store")
            .otherwise("phone"))
        .write.mode("append").parquet(f.getAbsolutePath)
      f.getAbsolutePath
    })

  /** GRADED: aggregate over the mergeSchema read — generation-1 rows
    * surface `o_channel` as NULL (reported as 'legacy'), generation-2
    * rows carry their written values; the hash pins that the merged
    * read lost neither generation's rows NOR the new column's values.
    * `mergeSchema` costs a footer read per file at plan time —
    * metadata-scale; production pins the evolved schema in the catalog
    * instead of re-merging per query, which is exactly what passing an
    * explicit schema here would do. */
  def ordersEvolvedAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(evolvedOrdersDir(spark, sfDir))
      .groupBy(coalesce(col("o_channel"), lit("legacy")).as("channel"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("channel")

  // ----------------------------------------------------------------
  // PARTITION-SPEC EVOLUTION — the Iceberg move the schema-evolution
  // dir above does for COLUMNS, applied to the PARTITIONING: a table
  // laid out early in its life by one key (o_orderpriority) is later
  // repartitioned by another (order month) — and the old files are
  // NEVER rewritten (at 100 TB a re-layout of history is exactly the
  // rewrite a lake cannot afford). Each generation keeps ITS OWN
  // spec's pruning: a priority predicate becomes a PartitionFilter on
  // generation 1 and a row filter on generation 2; a month predicate
  // the reverse — which is precisely Iceberg's per-spec partition
  // transform evaluation. The union is a plan-level concat.
  // ----------------------------------------------------------------

  private val specEvoDirs = new ConcurrentHashMap[String, (String, String)]()

  /** The two generations (hex 0-7 → priority-partitioned, hex 8-f →
    * month-partitioned), built once per (JVM, corpus). */
  private[graft] def specEvolutionDirs(spark: SparkSession,
      sfDir: String): (String, String) =
    specEvoDirs.computeIfAbsent(sfDir, { _ =>
      val d1 = Tables.scratchDir("graft_psevo_g1_").getAbsolutePath
      val d2 = Tables.scratchDir("graft_psevo_g2_").getAbsolutePath
      val o = Tables(spark, sfDir, "orders")
      val hx = substring(md5(col("o_orderkey").cast("string")), 1, 1)
      o.filter(hx < "8")
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(d1)
      o.filter(hx >= "8")
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("o_month").parquet(d2)
      (d1, d2)
    })

  /** The spec-evolved read: each generation scanned under its own
    * layout, generation 1's month derived at read (it was never a
    * physical column there), unioned by name. */
  private[graft] def specEvolvedOrders(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (d1, d2) = specEvolutionDirs(spark, sfDir)
    val g1 = spark.read.parquet(d1)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    val g2 = spark.read.parquet(d2)
    g1.unionByName(g2.select(g1.columns.map(col).toIndexedSeq: _*))
  }

  /** GRADED: a query predicated on BOTH specs' keys — priority prunes
    * generation 1's directories, month prunes generation 2's
    * ([[graft.DataSkippingSpec]] asserts each scan's PartitionFilters
    * and file counts); the plain-SQL oracle over the original table
    * proves the two-generation split disjoint and complete. */
  def ordersSpecEvolvedAgg(spark: SparkSession, sfDir: String): DataFrame =
    specEvolvedOrders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_month").between("1996-01", "1996-06"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")

  /** FEDERATED heterogeneous-format table — the mid-migration reality
    * of any long-lived lake: one LOGICAL table whose rows live in
    * three physical formats at once (parquet hex 0-4, CSV 5-9,
    * ORC a-f — disjoint md5 slices of the key). The read normalizes
    * each leg to one schema (explicit column order, timestamps
    * normalized to LTZ — the text legs' pinned-format discipline) and
    * unions by name; the aggregate is judged against plain SQL over
    * the ORIGINAL table, so the hash match proves the federation
    * DISJOINT AND COMPLETE: a row duplicated across legs or dropped
    * between them flips the count. At 100 TB each leg prunes and scans
    * independently (the union is a plan-level concat, not a shuffle);
    * this is how a format migration serves queries mid-flight. */
  def ordersFederatedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val hx = substring(md5(col("o_orderkey").cast("string")), 1, 1)
    val cols = OrdersCsvSchema.fieldNames.map(col).toIndexedSeq
    val pq = Tables(spark, sfDir, "orders")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .select(cols: _*)
      .filter(hx.isin("0", "1", "2", "3", "4"))
    val cs = spark.read.schema(OrdersCsvSchema)
      .option("header", "true").option("timestampFormat", TsFmt)
      .csv(csvOrdersDir(spark, sfDir))
      .select(cols: _*)
      .filter(hx.isin("5", "6", "7", "8", "9"))
    val oc = spark.read.orc(orcOrdersDir(spark, sfDir))
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .select(cols: _*)
      .filter(hx.isin("a", "b", "c", "d", "e", "f"))
    agg(pq.unionByName(cs).unionByName(oc))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_csv_agg" -> (ordersCsvAgg(_, _)),
    "orders_orc_agg" -> (ordersOrcAgg(_, _)),
    "orders_json_agg" -> (ordersJsonAgg(_, _)),
    "orders_json_dlq_agg" -> (ordersJsonDlqAgg(_, _)),
    "orders_federated_agg" -> (ordersFederatedAgg(_, _)),
    "orders_evolved_agg" -> (ordersEvolvedAgg(_, _)),
    "orders_spec_evolved_agg" -> (ordersSpecEvolvedAgg(_, _)))

  private[graft] val AggSql =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      |  max(CAST(o_orderdate AS DATE)) AS last_date
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB twin of the evolved read: channel derived from the same
    * generation split + key % 3 mapping over the original table. */
  private val EvolvedSql = {
    val hx = "substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)"
    s"""SELECT CASE WHEN $hx >= '8'
       |         THEN CASE o_orderkey % 3 WHEN 0 THEN 'web'
       |              WHEN 1 THEN 'store' ELSE 'phone' END
       |         ELSE 'legacy' END AS channel,
       |  count(*) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS total_price,
       |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "orders_csv_agg" -> AggSql,
    "orders_orc_agg" -> AggSql,
    "orders_json_agg" -> AggSql,
    // the dead-letter split must cost zero good rows — same oracle as
    // the clean round-trip
    "orders_json_dlq_agg" -> AggSql,
    // same oracle on purpose: the three-format federation must be
    // disjoint and complete w.r.t. the original table to hash-match
    "orders_federated_agg" -> AggSql,
    "orders_evolved_agg" -> EvolvedSql,
    // plain SQL over the ORIGINAL table with both predicates: hash
    // equality proves the two-generation partition split disjoint and
    // complete, and both specs' pruning semantics row-exact
    "orders_spec_evolved_agg" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |  AND strftime(o_orderdate, '%Y-%m') BETWEEN '1996-01' AND '1996-06'
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
