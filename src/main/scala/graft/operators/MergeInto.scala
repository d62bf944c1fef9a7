package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.Extensions
import graft.sources.Substrate
import graft.streaming.Replay

/** MERGE INTO semantics pinned as data (r8 verdict #3) — the
  * multi-arm writer contract every lakehouse ships (Delta/Iceberg
  * MERGE, ANSI SQL:2003 MERGE): one source batch, four arms:
  *
  *   WHEN MATCHED AND _op = 'D'  THEN DELETE
  *   WHEN MATCHED AND _op = 'U'  THEN UPDATE SET status, price
  *   WHEN NOT MATCHED AND _op = 'I' THEN INSERT
  *   + the CARDINALITY contract: if two source rows match ONE target
  *     row the statement must ERROR (ANSI: "MERGE cannot update the
  *     same row twice"; Delta raises
  *     DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW) — proven by
  *     `MergeIntoSpec`'s dup-source negative arm, never silently
  *     last-writer-wins.
  *
  * [[MergeOnRead]] covers upsert-by-log (the storage mechanism); this
  * pins the STATEMENT-level semantics a writer API promises,
  * independent of layout. The source batch is deterministic from the
  * corpus (md5-nibble classes of o_orderkey — the house split): '2'/'3'
  * update, 'c' delete, and the insert arm carries NEGATED keys (keys
  * that cannot exist in the target) so matched/not-matched partition
  * the source exactly.
  *
  * Spark-first shape: Spark 4's `DataFrame.mergeInto` writer needs a
  * v2 table with row-level-operation support; over immutable parquet
  * the same contract is the three-way set algebra below — kept =
  * target ∖ U/D source keys (broadcast anti join), matched arms = inner
  * join + per-arm projection, inserts = source ∖ target-keys — all
  * O(|target| map work + |source| broadcast), no shuffle of the
  * target. The cardinality gate is one aggregate over the SOURCE
  * (group by key) semi-joined to the target — O(|source|), the same
  * pre-check real MERGE implementations run — and throws before any
  * output is produced.
  *
  * Oracle: DuckDB has no MERGE — the oracle derives the post-state
  * set-theoretically (the CTE algebra of the spec text), so the grade
  * pins that the operator IS that algebra.
  */
object MergeInto extends graft.QueryModule {

  private[graft] val UpdHex = Seq("2", "3")
  private[graft] val DelHex = Seq("c")
  private[graft] val InsHex = Seq("d")
  private val UpdStatus = "MU"
  private val InsStatus = "MI"
  private val UpdBump = 5.0

  private def keyHex(c: Column): Column =
    substring(md5(c.cast("string")), 1, 1)

  /** The deterministic four-arm source batch: (_op, k, s, v). */
  private[graft] def sourceBatch(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val upd = o.filter(keyHex(col("o_orderkey")).isin(UpdHex: _*))
      .select(lit("U").as("_op"), col("o_orderkey").as("k"),
        lit(UpdStatus).as("s"),
        (col("o_totalprice") + lit(UpdBump)).as("v"))
    val del = o.filter(keyHex(col("o_orderkey")).isin(DelHex: _*))
      .select(lit("D").as("_op"), col("o_orderkey").as("k"),
        lit(null).cast("string").as("s"),
        lit(null).cast("double").as("v"))
    val ins = o.filter(keyHex(col("o_orderkey")).isin(InsHex: _*))
      .select(lit("I").as("_op"), (-col("o_orderkey")).as("k"),
        lit(InsStatus).as("s"), col("o_totalprice").as("v"))
    upd.unionByName(del).unionByName(ins)
  }

  /** Error type of the cardinality contract (spec-matched). */
  final class MergeCardinalityException(msg: String)
    extends RuntimeException(msg)

  /** The MERGE statement as set algebra over an immutable target —
    * throws [[MergeCardinalityException]] if any target row is matched
    * by more than one source row. */
  private[graft] def merge(target: DataFrame, source: DataFrame): DataFrame = {
    // cardinality gate: duplicate source keys that MATCH the target —
    // one O(|source|) aggregate + semi join, evaluated before any
    // output (real MERGE implementations run exactly this pre-check)
    val dupMatched = source.groupBy(col("k"))
      .agg(count(lit(1)).as("n_src"))
      .filter(col("n_src") > 1)
      .join(target.select(col("o_orderkey").as("k")), Seq("k"), "left_semi")
    if (dupMatched.head(1).nonEmpty)
      throw new MergeCardinalityException(
        "MERGE: multiple source rows match the same target row — the " +
          "statement is ambiguous and must fail, not last-writer-win")
    // only the UPDATE and DELETE arms retire a matched target row: a
    // matched row whose _op fires no arm (a matched 'I') is kept
    val srcKeys = source.filter(col("_op").isin("U", "D")).select(col("k"))
    val kept = target.join(broadcast(srcKeys),
      target("o_orderkey") === srcKeys("k"), "left_anti")
    // matched arms: DELETE emits nothing; UPDATE projects the new row
    val updated = target.as("t")
      .join(broadcast(source.filter(col("_op") === "U")).as("s"),
        col("t.o_orderkey") === col("s.k"))
      .select(col("t.o_orderkey"), col("t.o_custkey"),
        col("s.s").as("o_orderstatus"), col("s.v").as("o_totalprice"))
    // not-matched INSERT arm (guarded: only _op = 'I' rows insert)
    val inserted = source.filter(col("_op") === "I")
      .join(target.select(col("o_orderkey").as("k")), Seq("k"), "left_anti")
      .select(col("k").as("o_orderkey"),
        lit(null).cast("long").as("o_custkey"),
        col("s").as("o_orderstatus"), col("v").as("o_totalprice"))
    kept.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      .unionByName(updated).unionByName(inserted)
  }

  private def censusOf(t: DataFrame): DataFrame =
    t.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("price_cents"),
        pmod(sum(col("o_orderkey").cast("decimal(38,0)")),
          lit(Integrity.ChecksumMod)).cast("long").as("key_checksum"))
      .orderBy("o_orderstatus")

  /** GRADED: per-status census of the post-MERGE table. */
  def ordersMergeInto(spark: SparkSession, dir: String): DataFrame =
    censusOf(merge(
      Tables(spark, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice")),
      sourceBatch(spark, dir)))

  /** The post-MERGE table MATERIALIZED (once per JVM, corpus) — the
    * stored artifact the statement writer actually produces, and the
    * thing a later GDPR sweep must reach. */
  private[graft] def mergedDir(spark: SparkSession, dir: String): String =
    Substrate.dir("graft_merged_", dir) { out =>
      merge(
        Tables(spark, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice")),
        sourceBatch(spark, dir))
        .write.mode("overwrite").parquet(out)
    }

  /** GRADED: the census AFTER ERASURE (r10) — the GDPR sweep reaching
    * the MERGE writer's OUTPUT: erased customers' rows retire from
    * the stored post-MERGE table via [[IndexErasure]]'s
    * position-delete read path (files frozen, delete delta additive).
    * The 'I'-arm inserts carry NULL custkeys and exercise the
    * NULL-key contract: an erasure request names identified ids, so
    * NULL-keyed rows are never retired — the oracle keeps them
    * explicitly. */
  def ordersMergeIntoErased(spark: SparkSession, dir: String): DataFrame =
    censusOf(IndexErasure.erasedView(spark, mergedDir(spark, dir),
      IndexErasure.erased(col("o_custkey"))))

  // ----------------------------------------------------------------
  // STREAMED twin (r10, r9 verdict #6): ONE logical MERGE statement
  // whose source arrives chopped into micro-batches (the CDC-fed
  // upsert shape real lakehouse writers run). Each micro-batch
  // applies the same statement algebra to the rolling target; the
  // final state must equal the single-statement result — sound here
  // because merge(merge(T,S₁),S₂) = merge(T,S₁∪S₂) exactly when
  // S₁,S₂ touch disjoint keys, which is the SAME condition the
  // cardinality contract enforces. The contract therefore gains a
  // CROSS-BATCH half: a key consumed by an earlier chunk of the
  // statement re-arriving in a later chunk is "two source rows match
  // one target row" even though the rows never share a micro-batch —
  // caught against the statement's cumulative key log, thrown before
  // any output. Batch oracle verbatim; chop-invariance spec-asserted
  // store ≡ batch merge row-for-row.
  // ----------------------------------------------------------------

  /** One micro-batch MERGE step: the statement algebra plus the
    * cross-batch cardinality gate. */
  private[graft] def mergeStep(prev: DataFrame, chunk: DataFrame,
      mergedKeys: Option[DataFrame]): DataFrame = {
    mergedKeys.foreach { mk =>
      if (chunk.select(col("k")).join(mk, Seq("k"), "left_semi")
          .head(1).nonEmpty)
        throw new MergeCardinalityException(
          "MERGE (streamed): a source key arrived in two micro-batches " +
            "of one statement — ambiguous, must fail")
    }
    merge(prev, chunk)
  }

  /** The source batch as a 3-file feed (one file per arm class — a
    * key-disjoint chop by construction), one micro-batch per file. */
  private def mergeFeedDir(spark: SparkSession, dir: String): String =
    Replay.feed("graft_merge_feed_", dir) {
      val src = sourceBatch(spark, dir)
      Seq("U", "D", "I").map(op => src.filter(col("_op") === op))
    }

  /** The statement replayed through a real streaming execution; the
    * rolling target versioned per micro-batch, the statement's key
    * log appended per micro-batch (the cross-batch gate's state).
    * Returns the FINAL target's dir. At 100 TB each step rewrites
    * only touched files of a clustered target (or logs deltas MOR-
    * style — [[MergeOnRead]] grades that mechanism); the full-table
    * version files here keep the bench artifact inspectable. */
  private[graft] def streamedMergedDir(spark: SparkSession,
      dir: String): String =
    Substrate.state("graft_merge_stream_", dir) { root =>
      val feed = mergeFeedDir(spark, dir)
      val ss = Extensions.newSession(spark,
        "spark.sql.shuffle.partitions" -> "2")
      Tables(ss, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$root/t/v0_init")
      Replay.run(Replay.read(ss, feed, 1).writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          val s = batch.sparkSession
          val prev =
            if (batchId == 0) s.read.parquet(s"$root/t/v0_init")
            else s.read.parquet(s"$root/t/v${batchId - 1}")
          // the statement's key log is VERSIONED (one overwrite dir
          // per batch, like the target versions) so a replayed
          // micro-batch is idempotent — an append log would
          // duplicate keys on replay and falsely trip the gate
          val priorKeyDirs = Option(new java.io.File(s"$root/keys")
            .listFiles).getOrElse(Array.empty)
            .filter(f => f.isDirectory && f.getName.matches("v\\d+") &&
              f.getName.drop(1).toLong < batchId)
            .map(_.getAbsolutePath)
          val mk =
            if (priorKeyDirs.isEmpty) None
            else Some(s.read.parquet(priorKeyDirs.toIndexedSeq: _*))
          mergeStep(prev, batch.toDF(), mk).coalesce(1)
            .write.mode("overwrite").parquet(s"$root/t/v$batchId")
          batch.toDF().select(col("k")).coalesce(1)
            .write.mode("overwrite").parquet(s"$root/keys/v$batchId")
          ()
      }, "graft_merge_sckpt_")
      Replay.latest(s"$root/t")
    }

  /** GRADED: the same census over the STREAM-applied statement — the
    * batch oracle verbatim. */
  def ordersMergeIntoStreamed(spark: SparkSession, dir: String): DataFrame =
    censusOf(spark.read.parquet(streamedMergedDir(spark, dir)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_merge_into" -> (ordersMergeInto(_, _)),
    "orders_merge_into_erased" -> (ordersMergeIntoErased(_, _)),
    "orders_merge_into_streamed" -> (ordersMergeIntoStreamed(_, _)))

  private def hexIn(ref: String, hexes: Seq[String]): String =
    s"substr(md5(CAST($ref AS VARCHAR)), 1, 1) IN (" +
      hexes.map(c => s"'$c'").mkString(", ") + ")"

  /** The post-state derived set-theoretically (no MERGE in DuckDB):
    * kept = target whose key no 'U' or 'D' row names; updated = the 'U'
    * class with the arm's SET applied; deletes vanish; inserts = the
    * 'I' class under its negated key. The insert group's key sum is
    * NEGATIVE (all negated keys): Spark's pmod is always in [0, M)
    * while DuckDB's % keeps the sign, so the oracle normalizes with
    * ((x % M) + M) % M. */
  val oracles: Map[String, String] = Map(
    "orders_merge_into" ->
      s"""WITH merged AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice
         |  FROM orders
         |  WHERE NOT ${hexIn("o_orderkey", UpdHex ++ DelHex)}
         |  UNION ALL
         |  SELECT o_orderkey, '$UpdStatus', o_totalprice + $UpdBump
         |  FROM orders WHERE ${hexIn("o_orderkey", UpdHex)}
         |  UNION ALL
         |  SELECT -o_orderkey, '$InsStatus', o_totalprice
         |  FROM orders WHERE ${hexIn("o_orderkey", InsHex)})
         |SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |    AS BIGINT)) AS BIGINT) AS price_cents,
         |  CAST(((sum(CAST(o_orderkey AS HUGEINT))
         |    % ${Integrity.ChecksumMod}) + ${Integrity.ChecksumMod})
         |    % ${Integrity.ChecksumMod} AS BIGINT) AS key_checksum
         |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // streamed twin: the BATCH oracle verbatim — the chopped
    // statement's final state must be indistinguishable
    "orders_merge_into_streamed" ->
      s"""WITH merged AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice
         |  FROM orders
         |  WHERE NOT ${hexIn("o_orderkey", UpdHex ++ DelHex)}
         |  UNION ALL
         |  SELECT o_orderkey, '$UpdStatus', o_totalprice + $UpdBump
         |  FROM orders WHERE ${hexIn("o_orderkey", UpdHex)}
         |  UNION ALL
         |  SELECT -o_orderkey, '$InsStatus', o_totalprice
         |  FROM orders WHERE ${hexIn("o_orderkey", InsHex)})
         |SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |    AS BIGINT)) AS BIGINT) AS price_cents,
         |  CAST(((sum(CAST(o_orderkey AS HUGEINT))
         |    % ${Integrity.ChecksumMod}) + ${Integrity.ChecksumMod})
         |    % ${Integrity.ChecksumMod} AS BIGINT) AS key_checksum
         |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // the erased twin: same set algebra, then the survivor predicate
    // on the customer key — NULL-keyed insert rows are kept explicitly
    // (an erasure request names identified ids)
    "orders_merge_into_erased" ->
      s"""WITH merged AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         |  FROM orders
         |  WHERE NOT ${hexIn("o_orderkey", UpdHex ++ DelHex)}
         |  UNION ALL
         |  SELECT o_orderkey, o_custkey, '$UpdStatus',
         |    o_totalprice + $UpdBump
         |  FROM orders WHERE ${hexIn("o_orderkey", UpdHex)}
         |  UNION ALL
         |  SELECT -o_orderkey, NULL, '$InsStatus', o_totalprice
         |  FROM orders WHERE ${hexIn("o_orderkey", InsHex)}),
         |s AS (
         |  SELECT * FROM merged
         |  WHERE o_custkey IS NULL
         |     OR ${IndexErasure.survivorSql("o_custkey")})
         |SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |    AS BIGINT)) AS BIGINT) AS price_cents,
         |  CAST(((sum(CAST(o_orderkey AS HUGEINT))
         |    % ${Integrity.ChecksumMod}) + ${Integrity.ChecksumMod})
         |    % ${Integrity.ChecksumMod} AS BIGINT) AS key_checksum
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)
}
