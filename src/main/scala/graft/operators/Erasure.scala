package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** POSITION-DELETE erasure (deletion vectors) — the modern lakehouse
  * answer to right-to-erasure on an immutable table (Iceberg v2
  * position deletes / Delta deletion vectors): deleting scattered rows
  * from parquet without rewriting data files. A copy-on-write delete
  * of rows spread across every file IS a full table rewrite — a
  * non-plan at 100 TB; tombstone logs ([[MergeOnRead]]) solve it for
  * KEYED upserts, but an erasure request targets ROWS matching a
  * predicate, and the position-delete file is the standard encoding:
  * a table of (data file, row position) pairs that the read path
  * anti-joins against.
  *
  * The physical row address comes from Spark's parquet metadata
  * columns: `_metadata.file_path` + `_metadata.row_index` (the row's
  * ordinal within its file — stable for immutable files, which is the
  * whole premise of the format). Build: one scan of the frozen copy
  * with the erasure predicate (here an md5 class of `user_id` — the
  * "all data for these users" GDPR shape) emits the delete file,
  * O(deleted rows). Read: scan ∪ anti join on (file, position) —
  * at scale the delete file is partitioned alongside the data files
  * so each task anti-joins only its own file's vector; here the
  * per-file vectors ride one broadcast.
  *
  * The GRADE pins the mechanism to predicate semantics: the erased
  * view's aggregate is judged against plain SQL with `NOT (predicate)`
  * — the position-addressed read must deliver exactly what the
  * logical erasure promises, at every SF. (Erasure here is LOGICAL
  * until a [[Compaction]]-style rewrite folds the vectors in —
  * physical erasure is the compaction pass's job, same as tombstone
  * retirement.)
  */
object Erasure extends graft.QueryModule {

  /** Erased class: users whose md5 first nibble is 'a' (~1/16). */
  private val EraseHex = "a"

  /** NULL-key contract, explicit on BOTH sides (r7 ADVICE): an erasure
    * request names identified users, so a row with a NULL user_id is
    * NEVER erased — the DV build coalesces the predicate to false
    * (rather than relying on filter's null-drops), and the oracle
    * keeps null-key rows with an explicit `OR user_id IS NULL`. The
    * mechanism ≡ semantics grade therefore holds on corpora with null
    * keys, not just the current null-free events table. */
  private def erasePred =
    coalesce(
      substring(md5(col("user_id").cast("string")), 1, 1) === EraseHex,
      lit(false))

  // frozen multi-file events copy + its position-delete file, once per
  // (JVM, corpus); the DV build must address the COPY's files, so both
  // live together
  private val states = new ConcurrentHashMap[String, (String, String)]()
  private[graft] def state(spark: SparkSession, dir: String): (String, String) =
    states.computeIfAbsent(dir, { _ =>
      val data = Tables.scratchDir("graft_dv_data_").getAbsolutePath
      Tables(spark, dir, "events")
        .repartition(4, col("event_id"))
        .write.mode("overwrite").parquet(data)
      val dv = Tables.scratchDir("graft_dv_del_").getAbsolutePath
      spark.read.parquet(data)
        .select(col("_metadata.file_path").as("file"),
          col("_metadata.row_index").as("pos"), col("user_id"))
        .filter(erasePred)
        .select(col("file"), col("pos"))
        .write.mode("overwrite").parquet(dv)
      (data, dv)
    })

  /** The erased VIEW: data files untouched, deletes applied at read
    * time by position. */
  private[graft] def erasedView(spark: SparkSession, dir: String): DataFrame = {
    val (data, dv) = state(spark, dir)
    spark.read.parquet(data)
      .withColumn("file", col("_metadata.file_path"))
      .withColumn("pos", col("_metadata.row_index"))
      .join(broadcast(spark.read.parquet(dv)), Seq("file", "pos"),
        "left_anti")
      .drop("file", "pos")
  }

  /** The graded per-type aggregate — ONE definition over whichever
    * read path (position-deleted view or folded copy) is under grade,
    * so the two queries cannot drift. */
  private def erasedAgg(view: DataFrame): DataFrame =
    view
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,4)")).cast("double")
          .as("total_value"))
      .orderBy("event_type")

  /** GRADED: per-type aggregate over the position-deleted view — must
    * equal the logical erasure predicate's answer exactly. */
  def eventsPositionDelete(spark: SparkSession, dir: String): DataFrame =
    erasedAgg(erasedView(spark, dir))

  // ----------------------------------------------------------------
  // PHYSICAL erasure (r7 verdict #1): the compaction fold the logical
  // view's scaladoc promises. The GDPR deliverable is bytes GONE, not
  // a view that hides them — so the fold rewrites the frozen copy
  // THROUGH the position-deleted read path into fresh range-sorted
  // files (the [[Compaction]] move: a pure layout change under the
  // same oracle) and RETIRES the delete files: the folded snapshot
  // references no delete file at all, its read path is a plain scan.
  // At 100 TB this is exactly Iceberg's rewrite_data_files /Delta's
  // PURGE: run per-partition on the partitions whose DV density
  // crossed a threshold, each an independent range-shuffle; the old
  // data+delete files age out via vacuum once no snapshot references
  // them.
  // ----------------------------------------------------------------

  /** Folded snapshot per (JVM, corpus): (data dir, delete-file dirs —
    * ALWAYS empty after a fold; the pair shape mirrors [[state]] so
    * specs can assert the retirement). */
  private val compactedStates =
    new ConcurrentHashMap[String, (String, Seq[String])]()
  private[graft] def compactedState(spark: SparkSession,
      dir: String): (String, Seq[String]) =
    compactedStates.computeIfAbsent(dir, { _ =>
      val out = Tables.scratchDir("graft_dv_folded_").getAbsolutePath
      // read THROUGH the deletion vectors, write a clean range-sorted
      // copy: erased rows' bytes never reach the new files
      erasedView(spark, dir)
        .repartitionByRange(4, col("event_id"))
        .sortWithinPartitions("event_id")
        .write.mode("overwrite").parquet(out)
      (out, Seq.empty)
    })

  /** GRADED: the same aggregate over the FOLDED copy — a plain scan,
    * no anti-join, no delete files — judged by the SAME NOT-predicate
    * oracle: the fold must be a pure layout change. `ErasureSpec`
    * asserts the erased rows are physically absent from the rewritten
    * files (a raw scan finds zero rows of the erased class) and that
    * the folded snapshot retires its delete files. */
  def eventsErasureCompacted(spark: SparkSession, dir: String): DataFrame = {
    val (data, deletes) = compactedState(spark, dir)
    require(deletes.isEmpty, "folded snapshot must carry no delete files")
    erasedAgg(spark.read.parquet(data))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_position_delete" -> (eventsPositionDelete(_, _)),
    "events_erasure_compacted" -> (eventsErasureCompacted(_, _)))

  /** Plain predicate SQL — deliberately knows nothing about files or
    * positions: the mechanism must reduce to the semantics. ONE
    * definition for both the logical view and the physical fold: the
    * fold is graded as a pure layout change. */
  private val ErasedSql =
    s"""SELECT event_type, count(*) AS n_events,
       |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
       |    AS total_value
       |FROM events
       |WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <> '$EraseHex'
       |   OR user_id IS NULL
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "events_position_delete" -> ErasedSql,
    "events_erasure_compacted" -> ErasedSql)
}
