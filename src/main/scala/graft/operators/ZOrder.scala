package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Z-ORDER (Morton-curve) multi-column layout + MANIFEST file skipping
  * — the multi-dimensional half of the layout story started by
  * [[Compaction]] (single-key range sort) and the bucketed tables in
  * [[graft.Tables]]. A range sort on one key gives zone-map pruning on
  * that key only; interleaving the bits of TWO normalized keys into one
  * Morton code and range-sorting on it gives every file a small
  * rectangle in (custkey × orderdate) space, so min/max footer stats
  * prune scans on EITHER dimension — the Delta/Iceberg `OPTIMIZE
  * ZORDER BY` layout expressed in plain Spark.
  *
  * The manifest is the second half: per-file min/max of the pruning
  * columns persisted as a tiny parquet table (the Iceberg manifest /
  * Delta add-file stats pattern). A box query plans by filtering the
  * manifest (driver-side, ≤ [[ZFiles]] rows — this is planner METADATA,
  * the same scale as a catalog listing, not data) and hands the
  * surviving file list to `spark.read.parquet(files:_*)`, so the scan
  * never opens a file whose rectangle misses the box.
  *
  * At 100 TB: the layout write is one range-shuffle on the Morton code
  * (same cost shape as compaction); normalization bounds come from
  * table stats (here computed once and memoized; a lakehouse keeps
  * them in the catalog). Skipping is O(files) metadata work at plan
  * time against a manifest that is ~10⁻⁶ the data size.
  *
  * Grading: content parity under pruning. The graded box aggregate
  * runs filter→agg over ONLY the manifest-selected files and is judged
  * against DuckDB running the same predicate over the ORIGINAL
  * `orders` — a file wrongly skipped (or a row lost in the layout
  * rewrite) fails the hash. Layout geometry (file count, rectangle
  * disjointness on the curve, fewer candidate files than a single-key
  * sort for a date predicate) is asserted in `ZOrderSpec`.
  */
object ZOrder extends graft.QueryModule {
  /** Output files for the z-layout copy — 4 Morton bits ≈ a 4×4 grid
    * over the two dimensions, enough for skipping to be observable at
    * every shipped SF. */
  private[graft] val ZFiles = 16

  /** Interleave the low 16 bits of `a` (even positions) and `b` (odd
    * positions) into a 32-bit Morton code. Pure integer shift/and/or —
    * stays inside whole-stage codegen. */
  private[graft] def interleaveBits(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      shiftleft(a.bitwiseAND(lit(1L << i)), i)
        .bitwiseOR(shiftleft(b.bitwiseAND(lit(1L << i)), i + 1))
    }.reduce(_.bitwiseOR(_))

  /** Driver-side reference for the spec's equivalence property. */
  private[graft] def interleaveRef(a: Int, b: Int): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((a.toLong >> i) & 1L) << (2 * i)
      z |= ((b.toLong >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Scale `v` into [0, 65535] given column bounds (clamped; constant
    * column maps to 0). */
  private def norm16(v: Column, lo: Double, hi: Double): Column =
    if (hi == lo) lit(0L)
    else least(lit(65535L), greatest(lit(0L),
      floor((v.cast("double") - lit(lo)) * 65535.0 / (hi - lo)).cast("long")))

  /** Normalization bounds: (custkey lo/hi, orderdate lo/hi in epoch
    * days). One 4-scalar action per (JVM, corpus) — the stats a
    * lakehouse catalog would already hold. */
  private[graft] case class Bounds(ckLo: Double, ckHi: Double,
      dtLo: Double, dtHi: Double)

  private val boundsCache = new ConcurrentHashMap[String, Bounds]()

  private[graft] def bounds(spark: SparkSession, sfDir: String): Bounds =
    boundsCache.computeIfAbsent(sfDir, { _ =>
      val r = Tables(spark, sfDir, "orders").agg(
        min(col("o_custkey")).cast("double"),
        max(col("o_custkey")).cast("double"),
        min(unix_date(to_date(col("o_orderdate")))).cast("double"),
        max(unix_date(to_date(col("o_orderdate")))).cast("double")).head()
      Bounds(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    })

  /** (layout dir, manifest dir), built once per (JVM, corpus). */
  private val zDirs = new ConcurrentHashMap[String, (String, String)]()

  private[graft] def zorderedOrders(spark: SparkSession,
      sfDir: String): (String, String) =
    zDirs.computeIfAbsent(sfDir, { _ =>
      val b = bounds(spark, sfDir)
      val data = Tables.scratchDir("graft_zorder_orders_").getAbsolutePath
      val z = interleaveBits(
        norm16(col("o_custkey"), b.ckLo, b.ckHi),
        norm16(unix_date(to_date(col("o_orderdate"))), b.dtLo, b.dtHi))
      Tables(spark, sfDir, "orders")
        .withColumn("z", z)
        .repartitionByRange(ZFiles, col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite").parquet(data)
      val mf = Tables.scratchDir("graft_zorder_manifest_").getAbsolutePath
      buildManifest(spark, data).write.mode("overwrite").parquet(mf)
      (data, mf)
    })

  /** Per-file zone maps of the pruning columns — the manifest rows. */
  private[graft] def buildManifest(spark: SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("o_custkey")).as("min_ck"), max(col("o_custkey")).as("max_ck"),
        min(to_date(col("o_orderdate"))).as("min_dt"),
        max(to_date(col("o_orderdate"))).as("max_dt"))

  /** The graded box: custkey in the bottom quarter of its range (the
    * SAME arithmetic the oracle's scalar subquery performs) × one year
    * of order dates. */
  private[graft] val DateLo = "1996-07-01"
  private[graft] val DateHi = "1997-07-01"

  private[graft] def custkeyHi(spark: SparkSession, sfDir: String): Double = {
    val b = bounds(spark, sfDir)
    b.ckLo + 0.25 * (b.ckHi - b.ckLo)
  }

  /** Manifest-selected files for the graded box — the planner step. */
  private[graft] def prunedFiles(spark: SparkSession,
      sfDir: String): Array[String] = {
    val (_, mf) = zorderedOrders(spark, sfDir)
    val b = bounds(spark, sfDir)
    spark.read.parquet(mf)
      .filter(col("min_ck") <= custkeyHi(spark, sfDir) &&
        col("max_ck") >= b.ckLo &&
        col("min_dt") < lit(DateHi).cast("date") &&
        col("max_dt") >= lit(DateLo).cast("date"))
      .select("file").collect().map(_.getString(0))
  }

  /** GRADED: the box aggregate over ONLY the manifest-selected files —
    * the prune applied INSIDE the scan via
    * [[graft.sources.ManifestFileIndex]] (r6 verdict #4: the scan node
    * itself reports the pruned file set; ZOrderSpec asserts its
    * `numFiles` metric) — judged against DuckDB over the original
    * table: skipping must be lossless. */
  def ordersZorderBox(spark: SparkSession, sfDir: String): DataFrame = {
    val keep = prunedFiles(spark, sfDir)
    val (data, _) = zorderedOrders(spark, sfDir)
    val scan = graft.sources.ManifestFileIndex.scan(
      spark, data, keep.toIndexedSeq)
    val b = bounds(spark, sfDir)
    scan
      .filter(col("o_custkey") >= b.ckLo &&
        col("o_custkey") <= custkeyHi(spark, sfDir) &&
        to_date(col("o_orderdate")) >= lit(DateLo).cast("date") &&
        to_date(col("o_orderdate")) < lit(DateHi).cast("date"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")
  }

  /** Manifest-selected files for the DATE-ONLY predicate — the second
    * dimension alone, where a custkey-sorted layout prunes nothing. */
  private[graft] def prunedFilesDate(spark: SparkSession,
      sfDir: String): Array[String] = {
    val (_, mf) = zorderedOrders(spark, sfDir)
    spark.read.parquet(mf)
      .filter(col("min_dt") < lit(DateHi).cast("date") &&
        col("max_dt") >= lit(DateLo).cast("date"))
      .select("file").collect().map(_.getString(0))
  }

  /** GRADED: date-only aggregate over manifest-selected files — proves
    * the Morton layout prunes on the SECOND dimension losslessly (the
    * property a single-key range sort cannot offer). */
  def ordersZorderDateRange(spark: SparkSession, sfDir: String): DataFrame = {
    val keep = prunedFilesDate(spark, sfDir)
    val (data, _) = zorderedOrders(spark, sfDir)
    val scan = graft.sources.ManifestFileIndex.scan(
      spark, data, keep.toIndexedSeq)
    scan
      .filter(to_date(col("o_orderdate")) >= lit(DateLo).cast("date") &&
        to_date(col("o_orderdate")) < lit(DateHi).cast("date"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")
  }

  /** GRADED skip-effectiveness audit (r6 verdict #7): the prune RATIO
    * itself as data, so layout effectiveness is regression-guarded
    * across SFs — not just losslessness. The zone map here is the
    * deterministic 16-cell MORTON-GRID model of the layout (cell =
    * z >> 28, the 4×4 quadrant grid the range-sorted files
    * approximate): unlike the real file boundaries — which
    * `repartitionByRange` picks by sampling and no oracle can
    * reproduce — the grid is a pure function of the data, so DuckDB
    * rebuilds the identical zone map (32-term bit-interleave SQL) and
    * the ratio is hash-graded. Everything is IN-PLAN: a 1-row bounds
    * aggregate broadcast into the normalization (no driver collect),
    * one partial-agg shuffle at cell granularity — the planner-side
    * cost-estimate a lakehouse would compute from its manifest, here
    * derived from the table itself. */
  def zorderPruneRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables(spark, sfDir, "orders")
    val b = o.agg(
      min(col("o_custkey")).cast("double").as("ck_lo"),
      max(col("o_custkey")).cast("double").as("ck_hi"),
      min(unix_date(to_date(col("o_orderdate")))).cast("double").as("dt_lo"),
      max(unix_date(to_date(col("o_orderdate")))).cast("double").as("dt_hi"))
    def norm(v: Column, lo: Column, hi: Column): Column =
      least(lit(65535L), greatest(lit(0L),
        floor((v - lo) * 65535.0 / (hi - lo)).cast("long")))
    val z = interleaveBits(
      norm(col("o_custkey").cast("double"), col("ck_lo"), col("ck_hi")),
      norm(unix_date(to_date(col("o_orderdate"))).cast("double"),
        col("dt_lo"), col("dt_hi")))
    val cells = o.crossJoin(broadcast(b))
      .withColumn("cell", shiftright(z, 28).bitwiseAND(lit(15L)))
      .groupBy(col("cell"))
      .agg(min(to_date(col("o_orderdate"))).as("min_dt"),
        max(to_date(col("o_orderdate"))).as("max_dt"))
    cells.agg(
        count(lit(1)).as("files_total"),
        sum(when(col("min_dt") < lit(DateHi).cast("date") &&
            col("max_dt") >= lit(DateLo).cast("date"), 1L)
          .otherwise(0L)).as("files_read"))
      .withColumn("pct_read",
        expr("100 * files_read div files_total"))
  }

  // ----------------------------------------------------------------
  // Zone-map MAINTENANCE lifecycle (r8) — the append move the dedup,
  // postings, and graph indexes grade, applied to the Z-order layout
  // + its manifest: day-2 rows (md5(o_orderkey) ~1/8) land as ADDED
  // z-sorted files inside the same layout, and their zone-map rows as
  // ADDED manifest rows — day-1 data files and manifest files are
  // never rewritten. The graded box query prunes through the GROWN
  // manifest (base ∪ delta rows) and is judged by the same plain-SQL
  // box oracle over the full table: growth must be invisible to the
  // query's semantics, and pruning must still bite (spec). This is
  // the daily-ingest reality of a lakehouse stats index: appended
  // files carry their own stats; OPTIMIZE re-clusters later (the
  // [[Compaction]] pass), but skipping never waits for it.
  // ----------------------------------------------------------------

  private[graft] def isNewOrder =
    substring(md5(col("o_orderkey").cast("string")), 1, 1) < "2"

  private[graft] final case class ZMaintState(dataDir: String,
      manifestDir: String, baseData: Map[String, Long],
      baseManifest: Map[String, Long], deltaData: Map[String, Long])

  private def listPq(dir: String): Map[String, Long] =
    Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length).toMap

  private val zMaintained = new ConcurrentHashMap[String, ZMaintState]()

  private[graft] def maintainedZorder(spark: SparkSession,
      sfDir: String): ZMaintState =
    zMaintained.computeIfAbsent(sfDir, { _ =>
      val b = bounds(spark, sfDir) // full-corpus bounds: stable norms
      val data = Tables.scratchDir("graft_zorder_m_").getAbsolutePath
      val mf = Tables.scratchDir("graft_zorder_m_mf_").getAbsolutePath
      val z = interleaveBits(
        norm16(col("o_custkey"), b.ckLo, b.ckHi),
        norm16(unix_date(to_date(col("o_orderdate"))), b.dtLo, b.dtHi))
      val o = Tables(spark, sfDir, "orders").withColumn("z", z)
      // day 1: the base slice, z-sorted
      o.filter(!isNewOrder)
        .repartitionByRange(ZFiles, col("z")).sortWithinPartitions("z")
        .write.mode("overwrite").parquet(data)
      val baseData = listPq(data)
      // its manifest (zone maps of the base files only)
      buildManifest(spark, data).write.mode("overwrite").parquet(mf)
      val baseMf = listPq(mf)
      // day 2: appended z-sorted files + appended manifest rows — no
      // day-1 file (data or manifest) is rewritten
      o.filter(isNewOrder)
        .repartitionByRange(4, col("z")).sortWithinPartitions("z")
        .write.mode("append").parquet(data)
      val deltaData = listPq(data) -- baseData.keys
      spark.read.parquet(deltaData.keys.map(n => s"$data/$n").toSeq: _*)
        .groupBy(input_file_name().as("file"))
        .agg(min(col("o_custkey")).as("min_ck"),
          max(col("o_custkey")).as("max_ck"),
          min(to_date(col("o_orderdate"))).as("min_dt"),
          max(to_date(col("o_orderdate"))).as("max_dt"))
        .write.mode("append").parquet(mf)
      ZMaintState(data, mf, baseData, baseMf, deltaData)
    })

  /** GRADED: the box aggregate through the GROWN manifest — same box,
    * same oracle as `orders_zorder_box` (plain SQL over the original
    * table): the append is pure corpus growth. */
  def ordersZorderMaintainedBox(spark: SparkSession,
      sfDir: String): DataFrame = {
    val st = maintainedZorder(spark, sfDir)
    val b = bounds(spark, sfDir)
    val keep = spark.read.parquet(st.manifestDir)
      .filter(col("min_ck") <= custkeyHi(spark, sfDir) &&
        col("max_ck") >= b.ckLo &&
        col("min_dt") < lit(DateHi).cast("date") &&
        col("max_dt") >= lit(DateLo).cast("date"))
      .select("file").collect().map(_.getString(0))
    val scan = graft.sources.ManifestFileIndex.scan(
      spark, st.dataDir, keep.toIndexedSeq)
    scan
      .filter(col("o_custkey") >= b.ckLo &&
        col("o_custkey") <= custkeyHi(spark, sfDir) &&
        to_date(col("o_orderdate")) >= lit(DateLo).cast("date") &&
        to_date(col("o_orderdate")) < lit(DateHi).cast("date"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")
  }

  // ----------------------------------------------------------------
  // COMPOSED manifest prunes (r7 verdict #9) — the Delta/Iceberg
  // multi-stat shape: one layout carrying TWO independent skipping
  // structures (the Morton zone map for range boxes + a per-file
  // Bloom sketch of o_custkey for point probes), one FileIndex whose
  // keep set is the INTERSECTION of both manifests' keep sets. Each
  // manifest alone is lossless (zone maps never exclude a file whose
  // interval covers the range; Bloom never false-negatives), so the
  // intersection is lossless too — and at least as tight as either
  // prune alone (`ZOrderSpec` asserts numFiles ≤ each single prune).
  // At 100 TB this is one manifest table with two stat columns — the
  // probe stays planner-metadata-scale.
  // ----------------------------------------------------------------

  private[graft] val ComboKey = 1L
  private[graft] val ComboDateLo = "1994-01-01"
  private[graft] val ComboDateHi = "1998-01-01"

  // Bloom manifest over the SAME z-ordered layout, once per (JVM,
  // corpus) — the second stat column of the multi-stat manifest
  private val zBloomDirs = new ConcurrentHashMap[String, String]()
  private[graft] def zBloomManifestDir(spark: SparkSession,
      sfDir: String): String =
    zBloomDirs.computeIfAbsent(sfDir, { _ =>
      val (data, _) = zorderedOrders(spark, sfDir)
      val out = Tables.scratchDir("graft_zbloom_manifest_").getAbsolutePath
      spark.read.parquet(data)
        .groupBy(input_file_name().as("file"))
        .agg(expr("bloom_sketch(CAST(o_custkey AS STRING))").as("bits"))
        .write.mode("overwrite").parquet(out)
      out
    })

  /** Zone-map keep set for the combo's date range. */
  private[graft] def comboZoneKeep(spark: SparkSession,
      sfDir: String): Set[String] = {
    val (_, mf) = zorderedOrders(spark, sfDir)
    spark.read.parquet(mf)
      .filter(col("min_dt") < lit(ComboDateHi).cast("date") &&
        col("max_dt") >= lit(ComboDateLo).cast("date"))
      .select("file").collect().map(r =>
        new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSet
  }

  /** Bloom keep set for the combo's point key (the sketch's OWN bit
    * addressing — [[graft.plans.BloomSketch.positions]]). */
  private[graft] def comboBloomKeep(spark: SparkSession,
      sfDir: String): Set[String] = {
    val claimed = graft.plans.BloomSketch.positions(ComboKey.toString)
      .map { pos =>
        (element_at(col("bits"), pos / 64 + 1)
          .bitwiseAND(shiftleft(lit(1L), pos % 64))) =!= 0L
      }.reduce(_ && _)
    spark.read.parquet(zBloomManifestDir(spark, sfDir))
      .filter(claimed).select("file").collect().map(r =>
        new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSet
  }

  /** GRADED: point-in-range lookup through the INTERSECTED keep set —
    * judged against plain predicate SQL over the original table: the
    * composed skip must be lossless exactly like each component. */
  def orderLookupZBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val keep = comboZoneKeep(spark, sfDir)
      .intersect(comboBloomKeep(spark, sfDir))
    val (data, _) = zorderedOrders(spark, sfDir)
    val scan = graft.sources.ManifestFileIndex.scan(
      spark, data, keep.toIndexedSeq)
    scan
      .filter(col("o_custkey") === lit(ComboKey) &&
        to_date(col("o_orderdate")) >= lit(ComboDateLo).cast("date") &&
        to_date(col("o_orderdate")) < lit(ComboDateHi).cast("date"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .orderBy("o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_zorder_box" -> (ordersZorderBox(_, _)),
    "orders_zorder_daterange" -> (ordersZorderDateRange(_, _)),
    "order_lookup_zbloom" -> (orderLookupZBloom(_, _)),
    "orders_zorder_maintained_box" -> (ordersZorderMaintainedBox(_, _)),
    "zorder_prune_ratio" -> (zorderPruneRatio(_, _)))

  /** DuckDB rebuild of the Morton-grid zone map: same bounds, same
    * norm16 clamp, the interleave as 32 explicit bit terms, cell =
    * z >> 28. */
  private val PruneRatioSql: String = {
    val epochDays =
      "CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE)"
    def normSql(v: String, lo: String, hi: String): String =
      s"LEAST(65535, GREATEST(0, CAST(FLOOR(($v - $lo) * 65535.0 / ($hi - $lo)) AS BIGINT)))"
    val zTerms = (0 until 16).map(i =>
      s"(((na >> $i) & 1) * ${1L << (2 * i)}) + " +
        s"(((nb >> $i) & 1) * ${1L << (2 * i + 1)})").mkString(" + ")
    s"""WITH b AS (
       |  SELECT CAST(min(o_custkey) AS DOUBLE) AS ck_lo,
       |    CAST(max(o_custkey) AS DOUBLE) AS ck_hi,
       |    min($epochDays) AS dt_lo, max($epochDays) AS dt_hi
       |  FROM orders),
       |n AS (
       |  SELECT
       |    ${normSql("CAST(o_custkey AS DOUBLE)", "b.ck_lo", "b.ck_hi")} AS na,
       |    ${normSql(epochDays, "b.dt_lo", "b.dt_hi")} AS nb,
       |    CAST(o_orderdate AS DATE) AS dt
       |  FROM orders, b),
       |zc AS (SELECT (($zTerms) >> 28) & 15 AS cell, dt FROM n),
       |cells AS (SELECT cell, min(dt) AS min_dt, max(dt) AS max_dt
       |          FROM zc GROUP BY 1)
       |SELECT count(*) AS files_total,
       |  CAST(sum(CASE WHEN min_dt < DATE '$DateHi'
       |                 AND max_dt >= DATE '$DateLo'
       |            THEN 1 ELSE 0 END) AS BIGINT) AS files_read,
       |  100 * CAST(sum(CASE WHEN min_dt < DATE '$DateHi'
       |                       AND max_dt >= DATE '$DateLo'
       |                  THEN 1 ELSE 0 END) AS BIGINT)
       |    // count(*) AS pct_read
       |FROM cells""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "zorder_prune_ratio" -> PruneRatioSql,
    // plain predicate SQL over the ORIGINAL table — the intersected
    // two-manifest skip must be exactly as lossless as each component
    "order_lookup_zbloom" ->
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |  o_orderpriority
         |FROM orders
         |WHERE o_custkey = $ComboKey
         |  AND CAST(o_orderdate AS DATE) >= DATE '$ComboDateLo'
         |  AND CAST(o_orderdate AS DATE) <  DATE '$ComboDateHi'
         |ORDER BY o_orderkey""".stripMargin,
    "orders_zorder_daterange" ->
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders
         |WHERE CAST(o_orderdate AS DATE) >= DATE '$DateLo'
         |  AND CAST(o_orderdate AS DATE) <  DATE '$DateHi'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "orders_zorder_box" -> BoxOracle,
    // same box, same oracle: the day-2 data + manifest append must be
    // exactly corpus growth (the maintained layout IS the full table)
    "orders_zorder_maintained_box" -> BoxOracle)

  private lazy val BoxOracle: String =
    s"""WITH s AS (SELECT min(o_custkey) AS lo,
       |  min(o_custkey) + 0.25*(max(o_custkey) - min(o_custkey)) AS hi
       |  FROM orders)
       |SELECT o_orderstatus, count(*) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS total_price,
       |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
       |FROM orders, s
       |WHERE o_custkey >= s.lo AND o_custkey <= s.hi
       |  AND CAST(o_orderdate AS DATE) >= DATE '$DateLo'
       |  AND CAST(o_orderdate AS DATE) <  DATE '$DateHi'
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
