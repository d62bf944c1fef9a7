package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Small-file compaction — the OPTIMIZE/bin-packing maintenance
  * operator every 100 TB table needs: streaming ingest and per-batch
  * upserts (the [[graft.streaming.StreamReplay]] sinks) leave
  * thousands of KB-scale files whose per-file open/footer cost comes
  * to dominate scans. Compaction rewrites a table directory into
  * size-targeted, RANGE-SORTED files: `ceil(totalBytes/targetBytes)`
  * output files via `repartitionByRange` on the sort key +
  * `sortWithinPartitions`, so every output file owns a disjoint key
  * interval — the zone-map layout that lets min/max footer stats (and
  * any lakehouse manifest built on them) prune a key-range scan to
  * the one file that can contain it. Beyond-reference warehouse
  * surface (SURVEY.md §2.11 discipline), the write-side complement of
  * the bucketed layout in [[graft.Tables]].
  *
  * At 100 TB: the rewrite is one range-shuffle of the fragmented
  * partition set — embarrassingly parallel, no driver state, and
  * incremental in practice (compact only partitions whose small-file
  * count crossed a threshold). The planner arithmetic (size/target)
  * is the same `FilePartition` packing the scan side already uses.
  *
  * Grading: content parity. The graded aggregate runs over the
  * compacted copy and is judged against DuckDB on the ORIGINAL
  * `orders` file — compaction must be a pure layout change, so any
  * lost/duplicated row fails the hash. Layout properties (file-count
  * collapse, per-file disjoint key ranges, in-file sort) are asserted
  * in `CompactionSpec`.
  */
object Compaction extends graft.QueryModule {
  /** Production default target (the common lakehouse OPTIMIZE size).
    * Bench corpora compact to a single file under it — correct; the
    * spec exercises the multi-file path with a small explicit target. */
  private val DefaultTargetBytes = 128L * 1024 * 1024

  /** Number of small files the fragmentation step shatters into —
    * stands in for an ingest's worth of micro-batch commits. */
  private[graft] val FragmentFiles = 64

  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getLen).sum
  }

  /** Bin-pack `inDir` into `ceil(total/targetBytes)` files range-sorted
    * on `sortKey`, written to `outDir`. Returns the file count. */
  private[graft] def compact(spark: SparkSession, inDir: String,
      outDir: String, sortKey: String, targetBytes: Long): Int = {
    val n = math.max(1L, (dirBytes(spark, inDir) + targetBytes - 1)
      / targetBytes).toInt
    val df = spark.read.parquet(inDir)
    val packed =
      if (n == 1) df.coalesce(1).sortWithinPartitions(sortKey)
      else df.repartitionByRange(n, col(sortKey)).sortWithinPartitions(sortKey)
    packed.write.mode("overwrite").parquet(outDir)
    n
  }

  // fragmented + compacted `orders` copies, once per (JVM, corpus dir)
  private val fragmentedDirs = new ConcurrentHashMap[String, String]()
  private val compactedDirs = new ConcurrentHashMap[String, String]()

  /** An ingest-shattered `orders` copy: [[FragmentFiles]] round-robin
    * fragments, none key-clustered — the worst-case layout. */
  private[graft] def fragmentedOrdersDir(spark: SparkSession,
      sfDir: String): String =
    fragmentedDirs.computeIfAbsent(sfDir, { _ =>
      val f = Tables.scratchDir("graft_frag_orders_")
      Tables(spark, sfDir, "orders")
        .repartition(FragmentFiles)
        .write.mode("overwrite").parquet(f.getAbsolutePath)
      f.getAbsolutePath
    })

  /** The compacted copy (default production target). */
  private[graft] def compactedOrdersDir(spark: SparkSession,
      sfDir: String): String =
    compactedDirs.computeIfAbsent(sfDir, { _ =>
      val f = Tables.scratchDir("graft_compact_orders_")
      compact(spark, fragmentedOrdersDir(spark, sfDir),
        f.getAbsolutePath, "o_orderkey", DefaultTargetBytes)
      f.getAbsolutePath
    })

  /** GRADED content-parity aggregate over the compacted copy, judged
    * against the original table: per-status counts, money sum, and the
    * key-range extremes (min/max survive any row shuffle only if no
    * row was lost or duplicated at the range boundaries). */
  def ordersCompactedAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(compactedOrdersDir(spark, sfDir))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_compacted_agg" -> (ordersCompactedAgg(_, _)))

  val oracles: Map[String, String] = Map(
    "orders_compacted_agg" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
}
