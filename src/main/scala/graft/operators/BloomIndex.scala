package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Substrate

/** Per-file BLOOM-FILTER index — file skipping where zone maps can't.
  * The layout rows so far each prune a CLUSTERED key: range sort →
  * min/max footers ([[Compaction]]), Morton sort → per-file rectangles
  * ([[ZOrder]]), bucketing → hash-addressed files ([[graft.Tables]]).
  * None of them helps on the layout ingest actually leaves behind:
  * round-robin micro-batch files where every file spans the full key
  * range, so every min/max interval covers every probe and a point
  * lookup scans the whole table.
  *
  * The production answer (Parquet column bloom filters, Iceberg puffin
  * blobs, ClickHouse skip indexes) is a small per-file BLOOM sketch of
  * the lookup column: membership claims never false-negative, so
  * skipping a file whose filter rejects the key is lossless, and false
  * positives only cost extra reads, never wrong rows. This operator
  * builds that index with the repo's own [[graft.plans.BloomSketch]]
  * aggregate (8 KB constant state per file, exact md5 bit addressing)
  * over the ingest-fragmented `orders` copy, persists it as a manifest
  * table (files × 8 KB — planner metadata), and serves a graded point
  * lookup that reads ONLY the files whose filter claims the key.
  *
  * At 100 TB: the index build is one map-side-partial aggregation pass
  * (the per-file groupBy is aligned with the file partitioning, and
  * the 1024-long state merges by OR); the probe is driver-side bit
  * tests over the manifest — same metadata scale as listing the files.
  *
  * Grading: the lookup over bloom-selected files is judged against
  * DuckDB's plain `WHERE o_custkey = 1` over the original table — a
  * false NEGATIVE (wrongly skipped file) would drop rows and fail the
  * hash, which is exactly the property a Bloom index must guarantee.
  * `BloomIndexSpec` asserts the candidate set is a strict subset of
  * the fragment files and a superset of the files truly containing
  * the key.
  */
object BloomIndex extends graft.QueryModule {
  /** The graded probe key — same point lookup as `order_lookup_bucketed`
    * so the two mechanisms (hash layout vs secondary index) are
    * side-by-side on the board. */
  private[graft] val ProbeKey = 1L

  // manifest dir, once per (JVM, corpus)
  private[graft] def manifestDir(spark: SparkSession, sfDir: String): String =
    Substrate.dir("graft_bloom_manifest_", sfDir) { out =>
      val frag = Compaction.fragmentedOrdersDir(spark, sfDir)
      spark.read.parquet(frag)
        .groupBy(input_file_name().as("file"))
        .agg(expr("bloom_sketch(CAST(o_custkey AS STRING))").as("bits"))
        .write.mode("overwrite").parquet(out)
    }

  /** Bit positions for `key` — delegates to the sketch's OWN addressing
    * ([[graft.plans.BloomSketch.positions]]) so prober and builder can
    * never diverge (a divergence would be a false negative = wrongly
    * skipped file). */
  private[graft] def probePositions(key: String): Seq[Int] =
    graft.plans.BloomSketch.positions(key)

  /** Manifest-selected files: every probe bit set. Driver-side over
    * files-many rows — the planner step. */
  private[graft] def candidateFiles(spark: SparkSession,
      sfDir: String): Array[String] = {
    val claimed = probePositions(ProbeKey.toString).map { pos =>
      (element_at(col("bits"), pos / 64 + 1)
        .bitwiseAND(shiftleft(lit(1L), pos % 64))) =!= 0L
    }.reduce(_ && _)
    spark.read.parquet(manifestDir(spark, sfDir))
      .filter(claimed).select("file").collect().map(_.getString(0))
  }

  /** GRADED: point lookup reading only bloom-claimed files — the prune
    * applied INSIDE the scan via [[graft.sources.ManifestFileIndex]]
    * (r6 verdict #4; BloomIndexSpec asserts the scan's `numFiles`
    * metric equals the claimed-file count). */
  def orderLookupBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val keep = candidateFiles(spark, sfDir)
    val frag = Compaction.fragmentedOrdersDir(spark, sfDir)
    val scan = graft.sources.ManifestFileIndex.scan(
      spark, frag, keep.toIndexedSeq)
    scan
      .filter(col("o_custkey") === lit(ProbeKey))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .orderBy("o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "order_lookup_bloom" -> (orderLookupBloom(_, _)))

  val oracles: Map[String, String] = Map(
    "order_lookup_bloom" ->
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |  o_orderpriority
         |FROM orders WHERE o_custkey = $ProbeKey ORDER BY o_orderkey"""
        .stripMargin)
}
