package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Tables
import graft.plans.Extensions

/** MERGE-ON-READ — the lakehouse read path that resolves a base table
  * ∪ a CDC delta log AT READ TIME, without ever rewriting base (the
  * variant [[Scd]]'s scaladoc names, closing the loop between the
  * [[graft.streaming.StreamReplay]] foreachBatch upsert log, SCD-style
  * versioning, and [[Compaction]]; r6 verdict #3).
  *
  * The pieces:
  *  - BASE: the original `orders` parquet — read in place, never
  *    copied, never rewritten. That is the point of merge-on-read: an
  *    upsert to a 100 TB table must cost O(changes), not O(table).
  *  - DELTA LOG: produced by a REAL streaming execution — a 3-file
  *    update feed replayed `maxFilesPerTrigger=1`, each micro-batch
  *    appended to the log parquet by `foreachBatch` stamped with its
  *    batch id (the StreamReplay upsert-log pattern, one atomic append
  *    per batch). Rows carry `_seq` (the CDC sequence number assigned
  *    at the SOURCE) and `_deleted` (tombstones) — a real log resolves
  *    on the source's LSN, not the sink's batch id, so replays and
  *    out-of-order file pickup cannot reorder versions (the S5
  *    idempotent-write discipline applied to CDC).
  *  - READ-TIME RESOLVE: latest-version-wins. NOT a window over
  *    base ∪ log — that would shuffle the ENTIRE base by key to rank
  *    versions, O(table) at read. Instead: rank versions within the
  *    LOG alone (window over O(changes) rows), anti-join base against
  *    the broadcast log-key set (map-only pass over base), and union
  *    the untouched base rows with the surviving latest versions,
  *    dropping tombstoned keys. `MergeOnReadSpec` proves this plan
  *    row-identical to the canonical row_number-over-union form.
  *  - COMPACTION FOLD: [[ordersMorCompacted]] rewrites the RESOLVED
  *    snapshot as range-sorted files (the [[Compaction]] layout) and
  *    is graded by the SAME oracle as the merge-on-read view — the
  *    fold is provably a pure layout change.
  *
  * Determinism: update membership is the md5-prefix-of-key idiom
  * (interpolated into both engines), updated values are exact double
  * adds of the ORIGINAL row's price (no accumulation across seqs), so
  * latest-wins is decided by `_seq` alone and the DuckDB oracle can
  * state the final table as one CASE over the original `orders`.
  *
  * Slices overlap by construction (hex 0-7 ⊃ 0-3 ⊃ 0-1) so
  * latest-version-wins is EXERCISED, not vacuous: keys in hex 0-1
  * carry three log versions; hex e-f keys are tombstoned.
  */
object MergeOnRead extends graft.QueryModule {

  /** (seq, slice hex chars, status label, price bump) — upsert feeds. */
  private[graft] val UpdSlices = Seq(
    (0, Seq("0", "1", "2", "3", "4", "5", "6", "7"), "U0", 10.0),
    (1, Seq("0", "1", "2", "3"), "U1", 20.0),
    (2, Seq("0", "1"), "U2", 30.0))

  /** Keys tombstoned by the last batch (seq 2). */
  private[graft] val DeleteHex = Seq("e", "f")

  private def keyHex: Column =
    substring(md5(col("o_orderkey").cast("string")), 1, 1)

  /** One update-feed batch: the slice's rows with status/price
    * rewritten (from the ORIGINAL row — no cross-seq accumulation),
    * plus, on the final batch, the tombstones. */
  private[graft] def updBatch(spark: SparkSession, dir: String,
      seq: Int): DataFrame = {
    val (s, hexes, label, bump) = UpdSlices(seq)
    val orders = Tables(spark, dir, "orders")
    val upd = orders.filter(keyHex.isin(hexes: _*))
      .withColumn("o_orderstatus", lit(label))
      .withColumn("o_totalprice", col("o_totalprice") + lit(bump))
      .withColumn("_seq", lit(s.toLong))
      .withColumn("_deleted", lit(false))
    if (seq != UpdSlices.length - 1) upd
    else upd.unionByName(orders.filter(keyHex.isin(DeleteHex: _*))
      .withColumn("_seq", lit(s.toLong))
      .withColumn("_deleted", lit(true)))
  }

  // update-feed dir (one file per batch) and the streamed delta log,
  // once per (JVM, corpus)
  private val feedDirs = new ConcurrentHashMap[String, String]()
  private val logDirs = new ConcurrentHashMap[String, String]()

  /** The 3-file update feed: each batch written as ONE parquet file so
    * `maxFilesPerTrigger=1` replays it as one micro-batch. */
  private[graft] def feedDir(spark: SparkSession, dir: String): String =
    feedDirs.computeIfAbsent(dir, { _ =>
      val in = Tables.scratchDir("graft_mor_feed_")
      UpdSlices.foreach { case (s, _, _, _) =>
        Tables.writeFeedFile(updBatch(spark, dir, s), in,
          f"upd$s%03d.parquet", s)
      }
      in.getAbsolutePath
    })

  /** The delta LOG: the feed replayed through a real streaming
    * execution, one atomic parquet append per micro-batch stamped with
    * the sink batch id ([[graft.streaming.StreamReplay]]'s
    * foreachBatch upsert-log shape). Resolution uses the in-data
    * `_seq`; `_batch_id` records sink provenance. */
  private[graft] def deltaLogDir(spark: SparkSession, dir: String): String =
    logDirs.computeIfAbsent(dir, { _ =>
      val feed = feedDir(spark, dir)
      // cloned session: streaming conf hygiene (8 shuffle partitions
      // for the bounded replay), caller's session untouched
      val ss = Extensions.newSession(spark,
        "spark.sql.shuffle.partitions" -> "8")
      val out = Tables.scratchDir("graft_mor_log_").getAbsolutePath
      val ckpt = Tables.scratchDir("graft_mor_ckpt_").getAbsolutePath
      val stream = ss.readStream.schema(ss.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
      val query = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          batch.withColumn("_batch_id", lit(batchId))
            .write.mode("append").parquet(out)
          ()
        }
        .start()
      try query.awaitTermination() finally query.stop()
      out
    })

  /** The merge-on-read snapshot AS OF a log sequence: base resolved
    * against the log restricted to `_seq` ≤ `asOfSeq` — TIME TRAVEL is
    * free on a merge-on-read table, because history lives in the log
    * (a copy-on-write table needs retained file versions for the same
    * read). Log-only window (O(changes)), broadcast anti-join over
    * base (map-only), union — base is never shuffled, never
    * rewritten. */
  private[graft] def snapshotAt(spark: SparkSession, dir: String,
      asOfSeq: Long): DataFrame = {
    val base = Tables(spark, dir, "orders")
    val log = spark.read.parquet(deltaLogDir(spark, dir))
      .filter(col("_seq") <= asOfSeq)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("_seq").desc)
    val latest = log.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
    val untouched = base.join(
      broadcast(latest.select(col("o_orderkey")).distinct()),
      Seq("o_orderkey"), "left_anti")
    untouched.unionByName(
      latest.filter(!col("_deleted"))
        .select(base.columns.map(col).toIndexedSeq: _*))
  }

  /** The CURRENT snapshot (everything the log holds). */
  private[graft] def snapshot(spark: SparkSession, dir: String): DataFrame =
    snapshotAt(spark, dir, Long.MaxValue)

  /** The canonical resolve — row_number over base ∪ log — used ONLY by
    * the spec to prove [[snapshot]]'s scalable plan equivalent; a
    * window over the union shuffles the whole base and is exactly what
    * merge-on-read at 100 TB must avoid. */
  private[graft] def snapshotViaUnionWindow(spark: SparkSession,
      dir: String): DataFrame = {
    val base = Tables(spark, dir, "orders")
      .withColumn("_seq", lit(-1L)).withColumn("_deleted", lit(false))
    val log = spark.read.parquet(deltaLogDir(spark, dir)).drop("_batch_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("_seq").desc)
    base.unionByName(log)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("_deleted"))
      .drop("_rn", "_seq", "_deleted")
  }

  private def agg(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")

  /** GRADED: aggregate over the merge-on-read view — the hash matches
    * only if resolve-at-read applied every upsert, dropped every
    * tombstone, and touched nothing else. */
  def ordersMergeOnRead(spark: SparkSession, dir: String): DataFrame =
    agg(snapshot(spark, dir))

  // compacted (log-folded) snapshot, once per (JVM, corpus)
  private val compactedDirs = new ConcurrentHashMap[String, String]()

  private[graft] def compactedDir(spark: SparkSession, dir: String): String =
    compactedDirs.computeIfAbsent(dir, { _ =>
      val f = Tables.scratchDir("graft_mor_compacted_").getAbsolutePath
      // fold the log in: rewrite the RESOLVED snapshot range-sorted on
      // the key ([[Compaction]]'s zone-map layout; fixed 4 files here —
      // the size-targeted count arithmetic lives in Compaction.compact)
      snapshot(spark, dir)
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(f)
      f
    })

  /** GRADED: the SAME aggregate over the compaction-folded copy, same
    * oracle — pre/post hash equality proves the fold is a pure layout
    * change (and retires the log for the compacted range). */
  def ordersMorCompacted(spark: SparkSession, dir: String): DataFrame =
    agg(spark.read.parquet(compactedDir(spark, dir)))

  /** GRADED: TIME TRAVEL — the table as of log sequence 1: the seq-0/1
    * upserts applied, the seq-2 upserts and tombstones NOT — so the
    * hash pins that version restriction reaches every tier (hex 0-3
    * read U1, 4-7 read U0, hex 0-1's seq-2 version is invisible, e-f
    * rows still alive). */
  def ordersMorAsof(spark: SparkSession, dir: String): DataFrame =
    agg(snapshotAt(spark, dir, 1L))

  // ----------------------------------------------------------------
  // LOG CHECKPOINT — Delta's `_last_checkpoint` / Iceberg's snapshot
  // manifest move: fold the log PREFIX (_seq ≤ CheckpointSeq) into one
  // per-key latest-version state file, so a reader resolves
  // base ⊎ CHECKPOINT ⊎ TAIL instead of replaying the whole log. On a
  // table taking continuous CDC the log grows without bound and every
  // reader pays a window over all of it; the checkpoint caps that at
  // O(touched keys at ckpt) + O(tail) rows forever. Tombstones are
  // KEPT in the checkpoint state (a reader must still know the key
  // died — exactly why Delta checkpoints carry remove actions); the
  // tail can resurrect or re-kill them, latest `_seq` wins as always.
  // ----------------------------------------------------------------

  /** The log prefix folded into the checkpoint ( _seq ≤ this). */
  private[graft] val CheckpointSeq = 1L

  private val checkpointDirs = new ConcurrentHashMap[String, String]()

  /** Per-key latest-version state of the log prefix — one window over
    * O(changes-at-ckpt) rows, written once; base is NOT consulted (the
    * checkpoint is log state, not a table snapshot — the base stays
    * unrewritten, which is the merge-on-read contract). */
  private[graft] def checkpointDir(spark: SparkSession, dir: String): String =
    checkpointDirs.computeIfAbsent(dir, { _ =>
      val f = Tables.scratchDir("graft_mor_ckpt_state_").getAbsolutePath
      val log = spark.read.parquet(deltaLogDir(spark, dir))
        .filter(col("_seq") <= CheckpointSeq)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderkey")).orderBy(col("_seq").desc)
      log.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn", "_batch_id")
        .coalesce(1).write.mode("overwrite").parquet(f)
      f
    })

  /** Resolve base ⊎ checkpoint ⊎ tail: the window ranks only
    * checkpoint-state ∪ tail rows (O(changes)), base stays a map-only
    * anti-join — same discipline as [[snapshotAt]], with the log
    * prefix never re-read. */
  private[graft] def snapshotViaCheckpoint(spark: SparkSession,
      dir: String): DataFrame = {
    val base = Tables(spark, dir, "orders")
    val ckpt = spark.read.parquet(checkpointDir(spark, dir))
    val tail = spark.read.parquet(deltaLogDir(spark, dir))
      .filter(col("_seq") > CheckpointSeq).drop("_batch_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("_seq").desc)
    val latest = ckpt.unionByName(tail)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
    val untouched = base.join(
      broadcast(latest.select(col("o_orderkey")).distinct()),
      Seq("o_orderkey"), "left_anti")
    untouched.unionByName(
      latest.filter(!col("_deleted"))
        .select(base.columns.map(col).toIndexedSeq: _*))
  }

  /** GRADED: the checkpoint+tail read — SAME oracle as the full-log
    * read, so the hash proves the fold lost no version and the tail
    * still wins where it must. */
  def ordersMorCheckpointed(spark: SparkSession, dir: String): DataFrame =
    agg(snapshotViaCheckpoint(spark, dir))

  /** GRADED: the checkpoint state read ALONE (no tail, no window) —
    * base anti-joined against the checkpoint keys ∪ its live versions.
    * Same oracle as [[ordersMorAsof]]: the checkpoint IS the as-of-
    * seq-1 snapshot, which is what makes it a valid time-travel
    * anchor, not just a read accelerator. */
  def ordersMorCkptAsof(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "orders")
    val ckpt = spark.read.parquet(checkpointDir(spark, dir))
    val untouched = base.join(
      broadcast(ckpt.select(col("o_orderkey")).distinct()),
      Seq("o_orderkey"), "left_anti")
    agg(untouched.unionByName(
      ckpt.filter(!col("_deleted"))
        .select(base.columns.map(col).toIndexedSeq: _*)))
  }

  // ----------------------------------------------------------------
  // LOG VACUUM (retention) — the physical half of the checkpoint move:
  // once the prefix (_seq ≤ CheckpointSeq) is folded into checkpoint
  // state, the prefix LOG FILES are dead weight — every byte of
  // version history they carry is superseded. Vacuum DELETES them
  // (bytes gone, not filtered), keeping only the tail; the documented
  // cost is the retention contract every lakehouse states: time travel
  // below the checkpoint floor is forfeited. Like the Erasure family,
  // the mutation runs on a COPY of the log so the shared full-history
  // log keeps serving the time-travel queries. File-level surgery:
  // each micro-batch append wrote files of a single `_seq`, so the
  // deletable set is exactly the files whose max(_seq) ≤ the floor —
  // identified via the `_metadata` file-path column (the Erasure
  // position-delete discipline), never by parsing file names.
  // ----------------------------------------------------------------

  private val vacuumedDirs = new ConcurrentHashMap[String, String]()

  /** Copy the log, then physically delete every file fully at/below
    * the checkpoint floor. Returns (vacuumedDir, nDeleted). */
  private[graft] def vacuumedLogDir(spark: SparkSession, dir: String): String =
    vacuumedDirs.computeIfAbsent(dir, { _ =>
      val src = new java.io.File(deltaLogDir(spark, dir))
      val dst = Tables.scratchDir("graft_mor_vacuum_")
      src.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(dst, f.getName).toPath)
      }
      // catalog-scale collect: one row per log FILE (planner metadata,
      // the ManifestFileIndex discipline), never per log row
      val dead = spark.read.parquet(dst.getAbsolutePath)
        .groupBy(col("_metadata.file_path").as("fp"))
        .agg(max(col("_seq")).as("mx"))
        .filter(col("mx") <= CheckpointSeq)
        .select("fp").collect().map(_.getString(0))
      dead.foreach { uri =>
        val p = new java.io.File(new java.net.URI(uri).getPath)
        require(p.delete(), s"vacuum failed to delete $p")
      }
      dst.getAbsolutePath
    })

  /** GRADED: the post-vacuum read — base ⊎ checkpoint ⊎ the SURVIVING
    * log files (no `_seq` filter: after vacuum the directory IS the
    * tail). Same oracle as the full-log read: the hash proves vacuum
    * deleted only superseded history. */
  def ordersMorVacuumed(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "orders")
    val ckpt = spark.read.parquet(checkpointDir(spark, dir))
    val tail = spark.read.parquet(vacuumedLogDir(spark, dir))
      .drop("_batch_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("_seq").desc)
    val latest = ckpt.unionByName(tail)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
    val untouched = base.join(
      broadcast(latest.select(col("o_orderkey")).distinct()),
      Seq("o_orderkey"), "left_anti")
    agg(untouched.unionByName(
      latest.filter(!col("_deleted"))
        .select(base.columns.map(col).toIndexedSeq: _*)))
  }

  /** CDC EXTRACT (snapshot diff) — the INVERSE of the read path above:
    * merge-on-read turns log → table; this turns a TABLE PAIR → change
    * feed, the move you need when two snapshots exist but no log does
    * (cross-system reconciliation, Delta-CDF-style change feeds off
    * systems that never emitted one). One co-partitioned full outer
    * join on the key classifies every row: after-side missing → D,
    * before-side missing → I, attribute drift → U, else no-op. At
    * 100 TB this is one key-shuffle of each snapshot and map work —
    * when a log IS available, read it instead (that is the whole
    * point of [[snapshot]]); the diff is for when it isn't.
    *
    * Generic classifier over (k, s, v) snapshots so the spec can
    * exercise the INSERT arm on the [[Scd]] as-of pair (the MOR feed
    * updates and deletes but never inserts — its graded I row is
    * structurally zero, pinned at zero like the contract audit's
    * clean constraints). */
  private[graft] def snapshotDiff(before: DataFrame,
      after: DataFrame): DataFrame = {
    // Row ABSENCE is detected by an explicit non-nullable presence
    // marker (a null attribute on a PRESENT row must not read as a
    // missing row), and the U test is NULL-SAFE (<=>): with plain =!=
    // a value transitioning NULL ↔ non-NULL would evaluate to SQL NULL
    // and silently fall through to the no-op arm — a dropped change.
    // The oracle uses the join-key null (k is a key, never null in a
    // present row) and IS DISTINCT FROM for the same two holes.
    val b = before.select(col("k"), col("s").as("bs"), col("v").as("bv"))
      .withColumn("in_b", lit(true))
    val a = after.select(col("k"), col("s").as("as_"), col("v").as("av"))
      .withColumn("in_a", lit(true))
    b.join(a, Seq("k"), "full_outer")
      .withColumn("op",
        when(col("in_a").isNull, lit("D"))
          .when(col("in_b").isNull, lit("I"))
          .when(!(col("bs") <=> col("as_")) || !(col("bv") <=> col("av")),
            lit("U"))
          .otherwise(lit("N")))
      .filter(col("op") =!= "N")
  }

  /** GRADED: the change feed between original `orders` and the
    * fully-resolved MOR snapshot, rolled up per (op, after-status):
    * row counts, a key-membership checksum (the [[Integrity]]
    * discipline — the hash pins WHICH rows changed, not just how
    * many), and the exact decimal price delta the feed carries. */
  def ordersCdcExtract(spark: SparkSession, dir: String): DataFrame = {
    def kv(df: DataFrame) = df.select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("s"), col("o_totalprice").as("v"))
    val d = snapshotDiff(kv(Tables(spark, dir, "orders")),
      kv(snapshot(spark, dir)))
    d.groupBy(col("op"), coalesce(col("as_"), lit("-")).as("status_after"))
      .agg(count(lit(1)).as("n_rows"),
        pmod(sum(col("k").cast("decimal(38,0)")),
          lit(Integrity.ChecksumMod)).cast("long").as("key_checksum"),
        sum(coalesce(col("av"), lit(0.0)).cast("decimal(18,2)") -
          coalesce(col("bv"), lit(0.0)).cast("decimal(18,2)"))
          .cast("double").as("price_delta"))
      .orderBy("op", "status_after")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_merge_on_read" -> (ordersMergeOnRead(_, _)),
    "orders_mor_compacted" -> (ordersMorCompacted(_, _)),
    "orders_mor_asof" -> (ordersMorAsof(_, _)),
    "orders_mor_checkpointed" -> (ordersMorCheckpointed(_, _)),
    "orders_mor_ckpt_asof" -> (ordersMorCkptAsof(_, _)),
    "orders_mor_vacuumed" -> (ordersMorVacuumed(_, _)),
    "orders_cdc_extract" -> (ordersCdcExtract(_, _)))

  /** The final (fully-resolved) table stated as one `WITH f AS` CTE —
    * a CASE over the original `orders`: hex 0-1 keys carry three
    * versions (latest `_seq` = 2 wins), 2-3 two, 4-7 one, e-f
    * tombstoned, rest untouched. Shared by [[MorSql]] and the
    * [[Ivm]] oracle (the maintained view must equal the aggregate over
    * exactly this table). */
  private[graft] val MorFinalCte: String = {
    val hx = "substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)"
    def inList(hexes: Seq[String]) = hexes.map(c => s"'$c'").mkString(", ")
    s"""WITH f AS (
       |  SELECT o_orderkey, o_custkey,
       |    CASE WHEN $hx IN (${inList(UpdSlices(2)._2)}) THEN 'U2'
       |         WHEN $hx IN (${inList(UpdSlices(1)._2)}) THEN 'U1'
       |         WHEN $hx IN (${inList(UpdSlices(0)._2)}) THEN 'U0'
       |         ELSE o_orderstatus END AS o_orderstatus,
       |    CASE WHEN $hx IN (${inList(UpdSlices(2)._2)})
       |           THEN o_totalprice + ${UpdSlices(2)._4}
       |         WHEN $hx IN (${inList(UpdSlices(1)._2)})
       |           THEN o_totalprice + ${UpdSlices(1)._4}
       |         WHEN $hx IN (${inList(UpdSlices(0)._2)})
       |           THEN o_totalprice + ${UpdSlices(0)._4}
       |         ELSE o_totalprice END AS o_totalprice
       |  FROM orders
       |  WHERE $hx NOT IN (${inList(DeleteHex)}))""".stripMargin
  }

  /** DuckDB twin of the merge-on-read aggregate over [[MorFinalCte]]. */
  private val MorSql =
    s"""$MorFinalCte
       |SELECT o_orderstatus, count(*) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS total_price,
       |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB twin of the as-of-seq-1 read: no tombstones yet, seq-1
    * wins over seq-0 where both exist. */
  private val MorAsofSql = {
    val hx = "substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)"
    def inList(hexes: Seq[String]) = hexes.map(c => s"'$c'").mkString(", ")
    s"""WITH f AS (
       |  SELECT o_orderkey,
       |    CASE WHEN $hx IN (${inList(UpdSlices(1)._2)}) THEN 'U1'
       |         WHEN $hx IN (${inList(UpdSlices(0)._2)}) THEN 'U0'
       |         ELSE o_orderstatus END AS o_orderstatus,
       |    CASE WHEN $hx IN (${inList(UpdSlices(1)._2)})
       |           THEN o_totalprice + ${UpdSlices(1)._4}
       |         WHEN $hx IN (${inList(UpdSlices(0)._2)})
       |           THEN o_totalprice + ${UpdSlices(0)._4}
       |         ELSE o_totalprice END AS o_totalprice
       |  FROM orders)
       |SELECT o_orderstatus, count(*) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS total_price,
       |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB twin of the snapshot diff: the after side IS
    * [[MorFinalCte]], the classifier the same CASE. */
  private val CdcExtractSql =
    s"""$MorFinalCte,
       |j AS (
       |  SELECT coalesce(o.o_orderkey, f.o_orderkey) AS k,
       |    o.o_orderkey AS ok, f.o_orderkey AS fk,
       |    o.o_orderstatus AS bs, o.o_totalprice AS bv,
       |    f.o_orderstatus AS as_, f.o_totalprice AS av
       |  FROM orders o FULL OUTER JOIN f ON o.o_orderkey = f.o_orderkey),
       |c AS (
       |  SELECT k, as_, av, bv,
       |    CASE WHEN fk IS NULL THEN 'D'
       |         WHEN ok IS NULL THEN 'I'
       |         WHEN bs IS DISTINCT FROM as_
       |           OR bv IS DISTINCT FROM av THEN 'U'
       |         ELSE 'N' END AS op
       |  FROM j)
       |SELECT op, coalesce(as_, '-') AS status_after,
       |  count(*) AS n_rows,
       |  CAST(sum(CAST(k AS HUGEINT)) % ${Integrity.ChecksumMod}
       |    AS BIGINT) AS key_checksum,
       |  CAST(sum(CAST(coalesce(av, 0) AS DECIMAL(18,2)) -
       |           CAST(coalesce(bv, 0) AS DECIMAL(18,2))) AS DOUBLE)
       |    AS price_delta
       |FROM c WHERE op <> 'N' GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val oracles: Map[String, String] = Map(
    "orders_merge_on_read" -> MorSql,
    // same oracle on purpose: the fold must be a pure layout change
    "orders_mor_compacted" -> MorSql,
    "orders_mor_asof" -> MorAsofSql,
    // same oracles on purpose: ckpt+tail ≡ full log; ckpt alone ≡ as-of
    "orders_mor_checkpointed" -> MorSql,
    "orders_mor_ckpt_asof" -> MorAsofSql,
    // same oracle as the full-log read: vacuum may delete ONLY
    // checkpoint-superseded history
    "orders_mor_vacuumed" -> MorSql,
    "orders_cdc_extract" -> CdcExtractSql)
}
