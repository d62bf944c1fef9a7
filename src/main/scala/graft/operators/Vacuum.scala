package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** VACUUM — the file-retirement pass that completes the storage
  * lifecycle this repo's maintenance operators open: [[Compaction]],
  * [[MergeOnRead]]'s log fold, [[Erasure]]'s physical fold and the
  * postings compaction all write NEW files and retire old ones from
  * the live snapshot — but the old bytes stay on disk until something
  * deletes them. That something is VACUUM (Delta `VACUUM`, Iceberg
  * `expire_snapshots` + `remove_orphan_files`): list the layout
  * directory, keep every file a LIVE snapshot's manifest references,
  * delete the rest.
  *
  * Demonstrated on a self-contained lakehouse-shaped layout (its own
  * scratch copy — vacuum DELETES, so it must own its files):
  *
  *  1. snapshot v1: an ingest-fragmented `orders` copy (8 round-robin
  *     files) written into `data/`;
  *  2. snapshot v2: the compaction fold — v1 read, range-sorted,
  *     written into the SAME `data/` directory as an added file set
  *     (the lakehouse shape: one directory, snapshots = manifests
  *     referencing subsets); v2's manifest is recorded;
  *  3. v1 expires; VACUUM deletes every `data/` file v2 does not
  *     reference — the v1 files, physically.
  *
  * Safety properties (spec-pinned): vacuum only ever deletes inside
  * the layout it owns; the referenced file set survives byte-for-byte
  * (name + length); and the graded aggregate over the post-vacuum
  * directory hash-matches plain SQL over the ORIGINAL table — the
  * deletion touched only dead bytes.
  *
  * At 100 TB: the directory listing and the manifest are both
  * O(files) catalog-scale metadata; the deletes are embarrassingly
  * parallel filesystem ops. The dangerous failure mode — deleting a
  * file a reader still needs — is exactly what the manifest-driven
  * keep set prevents, and why vacuum pairs with snapshot retention
  * (here: v1 explicitly expired) rather than mtime heuristics alone.
  */
object Vacuum extends graft.QueryModule {

  /** Post-vacuum state: (data dir, v2 manifest names, deleted names). */
  private[graft] final case class VacState(dataDir: String,
      live: Map[String, Long], deleted: Set[String])

  private def listParquet(dir: String): Map[String, Long] =
    Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length).toMap

  private val states = new ConcurrentHashMap[String, VacState]()

  private[graft] def state(spark: SparkSession, sfDir: String): VacState =
    states.computeIfAbsent(sfDir, { _ =>
      val root = Tables.scratchDir("graft_vacuum_").getAbsolutePath
      val data = s"$root/data"
      // v1: the ingest-fragmented copy
      Tables(spark, sfDir, "orders")
        .repartition(8)
        .write.mode("overwrite").parquet(data)
      val v1 = listParquet(data)
      // v2: the compaction fold, APPENDED into the same directory —
      // read pinned to the v1 file set (the fold's input snapshot),
      // not the directory, so the step is well-defined even mid-write
      spark.read.parquet(v1.keys.map(n => s"$data/$n").toSeq: _*)
        .repartitionByRange(2, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("append").parquet(data)
      val v2 = listParquet(data) -- v1.keys
      // v1 expires; vacuum: delete unreferenced files, keep-set driven
      val deleted = vacuum(data, live = v2.keySet)
      VacState(data, v2, deleted)
    })

  /** Delete every parquet file under `dataDir` not in `live`; returns
    * the deleted names. The keep set comes from live snapshot
    * manifests — never from timestamps. */
  private[graft] def vacuum(dataDir: String, live: Set[String]): Set[String] = {
    val doomed = listParquet(dataDir).keySet -- live
    doomed.foreach { n =>
      val f = new java.io.File(dataDir, n)
      require(f.getParentFile.getAbsolutePath ==
        new java.io.File(dataDir).getAbsolutePath,
        s"vacuum must not reach outside its layout: $f")
      require(f.delete(), s"vacuum failed to delete $f")
    }
    doomed
  }

  /** GRADED: content-parity aggregate over the post-vacuum directory —
    * judged against plain SQL over the ORIGINAL table: the deletes
    * removed only dead (v1) bytes, the live snapshot is intact. */
  def ordersVacuumedAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(state(spark, sfDir).dataDir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_vacuumed_agg" -> (ordersVacuumedAgg(_, _)))

  val oracles: Map[String, String] = Map(
    "orders_vacuumed_agg" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
}
