package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Substrate

/** ERASURE PROPAGATION through derived indexes (r8 verdict #1) — the
  * composition the maintenance matrix and the DV machinery exist for.
  * [[Erasure]] proves right-to-erasure on the BASE table; but a real
  * GDPR sweep must also retire the erased documents' rows from every
  * DERIVED structure, or a phrase search / ANN probe / dedup probe can
  * still surface an erased doc's id out of the index long after the
  * base row is gone. This object is the shared mechanism; each index
  * family's graded `*_erased` query lives with its index
  * ([[TextOps]] postings, [[IvfMaintained]] IVF lists,
  * [[GraphOps]] kNN edges, [[IncrementalDedup]] signature index).
  *
  * Mechanism = [[Erasure]]'s position-delete machinery applied to the
  * INDEX layout (reference `SCALING.md` erasure notes cover only the
  * fact tables; the index-propagation story is this repo's):
  *  - the delete delta is a (file, pos) parquet built from ONE scan of
  *    the index with the erase predicate on the indexed doc/vec id —
  *    O(retired rows), and a pure FILE-SET ADDITION in a separate
  *    directory: no index file is opened for write, let alone
  *    rewritten (`IndexErasureSpec` pins the name+length set);
  *  - the erased read path = index scan ∪ broadcast anti join on
  *    (file, pos) — at 100 TB the delete files partition alongside
  *    the index partitions (term buckets, IVF lists) so each task
  *    anti-joins only its own vector, exactly the base-table DV
  *    argument;
  *  - consumers are graded against their OWN from-scratch oracles
  *    restated over the SURVIVING corpus: the retirement must reduce
  *    to predicate semantics, never to "mostly filtered".
  *
  * The erase class deliberately transposes `events_position_delete`'s
  * user rule to documents/embeddings: md5 first nibble 'a' (~1/16 of
  * ids). 'a' ≥ '2', so the erased rows live in the BASE (day-1) slice
  * of every maintained index — the delete delta composes with the
  * append delta: day-1 files carry retired rows, day-2 delta files by
  * construction carry none, and neither is touched.
  */
object IndexErasure {

  /** Erased class: ids whose md5 first nibble is 'a' (~1/16). */
  private[graft] val EraseHex = "a"

  /** NULL-key contract, same as [[Erasure]]: an erasure request names
    * identified ids, so a NULL-id index row is never retired. */
  private[graft] def erased(id: Column): Column =
    coalesce(
      substring(md5(id.cast("string")), 1, 1) === EraseHex, lit(false))

  /** DuckDB twin of [[erased]] (null-safe: NULL md5 → NULL = 'a' is
    * NULL, and the oracles use it under NOT(...) with an explicit
    * IS NULL escape where null ids are possible — the shipped corpora
    * have none). */
  private[graft] def erasedSql(ref: String): String =
    s"substr(md5(CAST($ref AS VARCHAR)), 1, 1) = '$EraseHex'"

  private[graft] def survivorSql(ref: String): String =
    s"substr(md5(CAST($ref AS VARCHAR)), 1, 1) <> '$EraseHex'"

  /** Build (once) and return the position-delete file set for the
    * index at `root`: all (file, pos) addresses of rows matching
    * `retire`. The build never writes under `root`. One build per
    * (JVM, index path, retire predicate): keyed on the index root
    * (index roots are unique scratch dirs per (JVM, corpus), so the
    * key carries the corpus) AND the predicate's canonical string —
    * two consumers erasing the same root by different columns must
    * never share a delta (r10 review finding: a root-only key would
    * hand the second caller the first caller's rows with no error). */
  private[graft] def deleteDelta(spark: SparkSession, root: String,
      retire: Column): String =
    Substrate.dir("graft_idx_dv_", s"$root|${retire.toString}") { dv =>
      spark.read.parquet(root)
        .select(col("_metadata.file_path").as("file"),
          col("_metadata.row_index").as("pos"),
          retire.as("retire"))
        .filter(col("retire"))
        .select(col("file"), col("pos"))
        .write.mode("overwrite").parquet(dv)
    }

  /** The erased VIEW of an index: files untouched, retired rows
    * removed at read time by position (broadcast anti join — delete
    * deltas are O(erased rows), catalog-small next to the index). */
  private[graft] def erasedView(spark: SparkSession, root: String,
      retire: Column): DataFrame = {
    val dv = deleteDelta(spark, root, retire)
    // join columns prefixed `_dv_` — index schemas own plain names
    // like `pos` (the positional postings), and the address columns
    // must never shadow them
    spark.read.parquet(root)
      .withColumn("_dv_file", col("_metadata.file_path"))
      .withColumn("_dv_pos", col("_metadata.row_index"))
      .join(broadcast(spark.read.parquet(dv)
          .select(col("file").as("_dv_file"), col("pos").as("_dv_pos"))),
        Seq("_dv_file", "_dv_pos"), "left_anti")
      .drop("_dv_file", "_dv_pos")
  }
}
