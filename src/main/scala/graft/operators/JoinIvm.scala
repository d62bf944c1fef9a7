package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.Extensions

/** JOIN-VIEW incremental maintenance (r8 verdict #2) — the OTHER half
  * of classical IVM next to [[Ivm]]'s aggregate view: a stored
  * DENORMALIZED serving table `orders ⋈ customer` kept in sync with
  * changes on BOTH sides by the delta-join rule
  * Δ(O⋈C) = ΔO⋈C ∪ O⋈ΔC (∪ ΔO⋈ΔC, folded in by applying the dim
  * patch after the fact step), never by re-joining the base fact
  * table. This is what an operational serving layer actually
  * maintains — the wide table a point-lookup API reads — where the
  * reference recomputes its denormalized CRM payloads per request
  * (`tools.py` join-per-call; `SCALING.md:93-98` caches them with a
  * TTL, i.e. the recompute IS its maintenance plan).
  *
  *  - FACT DELTA (ΔO⋈C): [[MergeOnRead]]'s streamed CDC log supplies
  *    ΔO; latest-per-key is a window over the LOG alone (O(changes)),
  *    retire = stored-view anti join on the touched keys, add = the
  *    surviving latest versions joined to the BROADCAST dim — the
  *    fact side of the maintenance reads the LOG WINDOW and the
  *    STORED VIEW only; `JoinIvmSpec` asserts the maintenance plan
  *    never scans the base orders parquet.
  *  - DIM DELTA (O⋈ΔC): a re-segmentation batch (md5-nibble 'b'
  *    customers move to segment 'RESEGMENTED' — the marketing-refresh
  *    shape). Rows of affected customers get their dim attributes
  *    rewritten via a broadcast left join + coalesce — retract/add at
  *    row granularity collapsed to an in-place patch (exactly the
  *    O⋈ΔC term: O(view rows of touched customers) changes, dim-keyed,
  *    no fact involvement). Applying it AFTER the fact step also
  *    covers ΔO⋈ΔC.
  *
  * At 100 TB: the stored view bucket-clusters on o_orderkey (retire =
  * per-bucket anti join against broadcast touched keys) with a
  * secondary zone map on c_custkey for the dim-delta patch; both
  * maintenance terms are O(changes) row edits against a
  * partition-pruned store, the base fact is never rescanned — the
  * whole point of paying for the materialization.
  *
  * GRADE: per-segment census of the maintained store — row count,
  * exact cents mass, and the [[Integrity]]-discipline key checksum
  * (pins WHICH rows, not just how many) — against a DuckDB oracle
  * that derives the final joined state from scratch (MOR final table
  * ⋈ patched dim) with no knowledge of the delta machinery.
  */
object JoinIvm extends graft.QueryModule {

  /** Dim-delta class: customers with md5 first nibble 'b' (~1/16). */
  private[graft] val DimHex = "b"

  private def dimHit =
    substring(md5(col("c_custkey").cast("string")), 1, 1) === DimHex

  private val NewSegment = "RESEGMENTED"

  private def dimProj(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))

  /** The stored serving view BEFORE any change: orders ⋈ customer,
    * materialized once per (JVM, corpus) — the only place the base
    * fact is ever scanned. */
  private val viewDirs = new ConcurrentHashMap[String, String]()
  private[graft] def storedViewDir(spark: SparkSession, dir: String): String =
    viewDirs.computeIfAbsent(dir, { _ =>
      val out = Tables.scratchDir("graft_joinivm_v0_").getAbsolutePath
      Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
        .join(broadcast(dimProj(spark, dir)),
          col("o_custkey") === col("c_custkey"))
        .drop("c_custkey")
        .write.mode("overwrite").parquet(out)
      out
    })

  /** The MAINTENANCE plan: stored view + log window + broadcast dim —
    * no base-fact scan (spec-asserted on exactly this frame). */
  private[graft] def maintainedFrame(spark: SparkSession,
      dir: String): DataFrame = {
    val v0 = spark.read.parquet(storedViewDir(spark, dir))
    // ΔO: latest version per touched key — window over the LOG alone
    val log = spark.read.parquet(MergeOnRead.deltaLogDir(spark, dir))
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("_seq").desc)
    val latest = log.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
    val touched = latest.select(col("o_orderkey"))
    // retire: the stored view loses every touched key's row
    val kept = v0.join(broadcast(touched), Seq("o_orderkey"), "left_anti")
    // add: surviving latest versions join the BROADCAST dim (ΔO⋈C)
    val added = latest.filter(!col("_deleted"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      .join(broadcast(dimProj(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .drop("c_custkey")
    // O⋈ΔC (+ ΔO⋈ΔC, since it runs after the fact step): the dim
    // patch rewrites affected rows' segment in place
    val dimDelta = dimProj(spark, dir).filter(dimHit)
      .select(col("c_custkey").as("dk"), lit(NewSegment).as("new_seg"))
    kept.unionByName(added)
      .join(broadcast(dimDelta), col("o_custkey") === col("dk"), "left")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        coalesce(col("new_seg"), col("c_mktsegment")).as("c_mktsegment"))
  }

  /** The maintained STORE (the artifact a serving layer reads),
    * written once per (JVM, corpus). */
  private val maintDirs = new ConcurrentHashMap[String, String]()
  private[graft] def maintainedDir(spark: SparkSession, dir: String): String =
    maintDirs.computeIfAbsent(dir, { _ =>
      val out = Tables.scratchDir("graft_joinivm_v1_").getAbsolutePath
      maintainedFrame(spark, dir)
        .write.mode("overwrite").parquet(out)
      out
    })

  private def censusOf(view: DataFrame): DataFrame =
    view
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("price_cents"),
        pmod(sum(col("o_orderkey").cast("decimal(38,0)")),
          lit(Integrity.ChecksumMod)).cast("long").as("key_checksum"))
      .orderBy("c_mktsegment")

  /** GRADED: per-segment census of the maintained serving view. */
  def ordersJoinIvm(spark: SparkSession, dir: String): DataFrame =
    censusOf(spark.read.parquet(maintainedDir(spark, dir)))

  /** GRADED: the census AFTER ERASURE (r10 — the GDPR sweep reaching
    * the SERVING layer): the denormalized store is derived personal
    * data keyed by customer, so right-to-erasure must retire every
    * erased customer's rows from it exactly like from the five index
    * families. Same [[IndexErasure]] position-delete mechanism: the
    * store's files stay frozen (spec: name+length set untouched), the
    * delete delta is one scan with the erase predicate on o_custkey,
    * the read path a broadcast anti join on (file, pos). The oracle
    * re-derives the final joined state from scratch over SURVIVING
    * customers only — retirement must reduce to predicate
    * semantics. */
  def ordersJoinIvmErased(spark: SparkSession, dir: String): DataFrame =
    censusOf(IndexErasure.erasedView(spark, maintainedDir(spark, dir),
      IndexErasure.erased(col("o_custkey"))))

  // ----------------------------------------------------------------
  // STREAMED twin (r10, r9 verdict #6): the SAME delta-join
  // maintenance run through a real micro-batch execution — the CDC
  // feed replayed with AvailableNow + foreachBatch, the stored view
  // rolled forward one version per micro-batch (retire touched keys,
  // add surviving latest ⋈ broadcast dim), the dim patch applied ONCE
  // after the stream drains (it is a batch re-segmentation event, not
  // CDC — the same order [[maintainedFrame]] applies it). The batch
  // oracle grades the result VERBATIM: micro-batch chopping must be
  // invisible in the final state (chop-invariance also spec-asserted
  // store ≡ store row-for-row). Cross-batch key resolution leans on
  // the same file-source mod-time ordering as the aggregate-MV
  // stream; within a batch the in-data _seq ranks defensively.
  // ----------------------------------------------------------------

  private[graft] val StreamFilesPerTrigger = 2

  private val streamedDirs = new ConcurrentHashMap[String, String]()
  private[graft] def streamedViewDir(spark: SparkSession,
      dir: String): String =
    streamedDirs.computeIfAbsent(dir, { _ =>
      val root = Tables.scratchDir("graft_joinivm_stream_").getAbsolutePath
      val ckpt = Tables.scratchDir("graft_joinivm_sckpt_").getAbsolutePath
      val feed = MergeOnRead.feedDir(spark, dir)
      // view-granularity frames; 2 partitions like the MV stream
      val ss = Extensions.newSession(spark,
        "spark.sql.shuffle.partitions" -> "2")
      ss.read.parquet(storedViewDir(ss, dir))
        .write.mode("overwrite").parquet(s"$root/view/v0_init")
      val stream = ss.readStream.schema(ss.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", StreamFilesPerTrigger.toString)
        .parquet(feed)
      val query = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              batchId: Long) =>
            val s = batch.sparkSession
            val prev =
              if (batchId == 0) s.read.parquet(s"$root/view/v0_init")
              else s.read.parquet(s"$root/view/v${batchId - 1}")
            val w = Window.partitionBy(col("o_orderkey"))
              .orderBy(col("_seq").desc)
            val latest = batch.toDF()
              .withColumn("_rn", row_number().over(w))
              .filter(col("_rn") === 1)
            val touched = latest.select(col("o_orderkey"))
            val kept = prev.join(broadcast(touched), Seq("o_orderkey"),
              "left_anti")
            val added = latest.filter(!col("_deleted"))
              .select(col("o_orderkey"), col("o_custkey"),
                col("o_orderstatus"), col("o_totalprice"))
              .join(broadcast(dimProj(s, dir)),
                col("o_custkey") === col("c_custkey"))
              .drop("c_custkey")
            // ONE single-file versioned write per batch (the Ivm
            // stream's two-write discipline, halved: no separate
            // current-state frame — the view IS the state)
            kept.unionByName(added).coalesce(1)
              .write.mode("overwrite").parquet(s"$root/view/v$batchId")
            ()
        }
        .start()
      query.awaitTermination()
      val lastV = new java.io.File(s"$root/view").listFiles
        .map(_.getName).filter(_.matches("v\\d+")).map(_.drop(1).toInt).max
      // the dim patch, once, after the fact stream drains
      val dimDelta = dimProj(ss, dir).filter(dimHit)
        .select(col("c_custkey").as("dk"), lit(NewSegment).as("new_seg"))
      ss.read.parquet(s"$root/view/v$lastV")
        .join(broadcast(dimDelta), col("o_custkey") === col("dk"), "left")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          coalesce(col("new_seg"), col("c_mktsegment")).as("c_mktsegment"))
        .write.mode("overwrite").parquet(s"$root/final")
      root
    })

  /** GRADED: the same census over the STREAM-maintained store — the
    * batch oracle verbatim. */
  def ordersJoinIvmStreamed(spark: SparkSession, dir: String): DataFrame =
    censusOf(spark.read.parquet(
      s"${streamedViewDir(spark, dir)}/final"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_join_ivm" -> (ordersJoinIvm(_, _)),
    "orders_join_ivm_erased" -> (ordersJoinIvmErased(_, _)),
    "orders_join_ivm_streamed" -> (ordersJoinIvmStreamed(_, _)))

  /** Oracle: the final joined state from scratch — MOR final table ⋈
    * the patched dim; knows nothing of stored views or delta joins. */
  val oracles: Map[String, String] = Map(
    "orders_join_ivm" ->
      s"""${MergeOnRead.MorFinalCte},
         |dim AS (
         |  SELECT c_custkey,
         |    CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1)
         |           = '$DimHex'
         |         THEN '$NewSegment' ELSE c_mktsegment END
         |      AS c_mktsegment
         |  FROM customer),
         |j AS (
         |  SELECT f.o_orderkey, f.o_totalprice, dim.c_mktsegment
         |  FROM f JOIN dim ON f.o_custkey = dim.c_custkey)
         |SELECT c_mktsegment, count(*) AS n_rows,
         |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |    AS BIGINT)) AS BIGINT) AS price_cents,
         |  CAST(sum(CAST(o_orderkey AS HUGEINT))
         |    % ${Integrity.ChecksumMod} AS BIGINT) AS key_checksum
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // streamed twin: the BATCH oracle verbatim — micro-batch chopping
    // must be invisible in the final state
    "orders_join_ivm_streamed" ->
      s"""${MergeOnRead.MorFinalCte},
         |dim AS (
         |  SELECT c_custkey,
         |    CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1)
         |           = '$DimHex'
         |         THEN '$NewSegment' ELSE c_mktsegment END
         |      AS c_mktsegment
         |  FROM customer),
         |j AS (
         |  SELECT f.o_orderkey, f.o_totalprice, dim.c_mktsegment
         |  FROM f JOIN dim ON f.o_custkey = dim.c_custkey)
         |SELECT c_mktsegment, count(*) AS n_rows,
         |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |    AS BIGINT)) AS BIGINT) AS price_cents,
         |  CAST(sum(CAST(o_orderkey AS HUGEINT))
         |    % ${Integrity.ChecksumMod} AS BIGINT) AS key_checksum
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // the erased twin: same from-scratch derivation restricted to
    // SURVIVING customers — no knowledge of stored views, delta joins
    // or delete deltas
    "orders_join_ivm_erased" ->
      s"""${MergeOnRead.MorFinalCte},
         |dim AS (
         |  SELECT c_custkey,
         |    CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1)
         |           = '$DimHex'
         |         THEN '$NewSegment' ELSE c_mktsegment END
         |      AS c_mktsegment
         |  FROM customer),
         |j AS (
         |  SELECT f.o_orderkey, f.o_totalprice, dim.c_mktsegment
         |  FROM f JOIN dim ON f.o_custkey = dim.c_custkey
         |  WHERE ${IndexErasure.survivorSql("f.o_custkey")})
         |SELECT c_mktsegment, count(*) AS n_rows,
         |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |    AS BIGINT)) AS BIGINT) AS price_cents,
         |  CAST(sum(CAST(o_orderkey AS HUGEINT))
         |    % ${Integrity.ChecksumMod} AS BIGINT) AS key_checksum
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)
}
