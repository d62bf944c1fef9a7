package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Batch analytics over the `events` stream table: event-time windows
  * (ST7 batch form), distinct reach (A6), and semi-structured JSON
  * payload extraction (F8/F9/F16 — the reference parses JSON out of
  * LLM text with regex + json.loads, `tools.py:139-143`; here the same
  * shape is `get_json_object` over the `props` column).
  *
  * Scale notes: tumbling-window groupBy is an ordinary hash aggregate on
  * (hour, type) — no windowing state needed in batch. `get_json_object`
  * is codegen'd and stays inside the scan's WholeStageCodegen stage;
  * exact countDistinct is a two-phase aggregate (partial distinct per
  * partition) — at 100 TB swap for approx_count_distinct (HLL) when ±2%
  * is acceptable.
  */
object EventOps extends graft.QueryModule {

  /** ST7 batch form: tumbling 1-hour event-time windows per type. */
  def hourlyEventStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy("hour_start", "event_type")

  /** A6: distinct users reached per event type (campaign-reach analog). */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** F16/F9: JSON path extraction from the props payload, aggregated. */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        graft.functions.ScalarFns.roundN(
          sum(col("k")).cast("double") / count(col("k")), 2).as("avg_k"))
      .orderBy("event_type")

  /** ST7 session windows, batch form: per-user sessionization with a
    * 30-minute gap (`session_window`), rolled up per user. The oracle is
    * the classic gaps-and-islands rewrite — a new session starts when
    * the gap from the previous event is >= the gap duration (Spark's
    * session end bound is exclusive: [start, last + gap)). */
  def sessionStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n")).as("n_events"),
        max(col("n")).as("max_session_events"))
      .orderBy("user_id")

  /** A6 at 100 TB: HLL sketch instead of exact distinct (±~2%). No
    * DuckDB oracle — HLL implementations differ across engines, so the
    * driver records the weaker rows-only check for this one. */
  def approxUsers(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .orderBy("event_type")

  /** A6+ the oracle-checkable HLL: distinct users per event type through
    * the custom [[graft.plans.HllSketch]] TypedImperativeAggregate.
    * Every step of the sketch (md5 buckets, rho, pinned fold order,
    * correction branch) is exactly specified, so — unlike
    * `approx_count_distinct` — the ESTIMATE itself hash-matches a
    * DuckDB reimplementation of the same spec. */
  def hllUsers(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch(CAST(user_id AS STRING))").as("h"))
      .select(col("event_type"),
        col("h.n_zero").as("n_zero_registers"),
        col("h.sum_pow").as("sum_pow"),
        graft.functions.ScalarFns.roundN(col("h.estimate"), 2).as("hll_users"))
      .orderBy("event_type")
  }

  /** A6+ SKETCH RE-AGGREGATION — the pre-aggregated-rollup pattern that
    * makes HLL the 100 TB distinct answer: per-DAY sketches are
    * computed ONCE ([[graft.plans.HllState]] — 256-byte register blobs,
    * the rollup table a warehouse persists), and the 3-day rolling
    * distinct-user series is answered by MERGING stored sketches
    * ([[graft.plans.HllMerge]], elementwise-max union — associative,
    * commutative, idempotent, so any regrouping is exact w.r.t. the
    * sketch) over a calendar RANGE window of the day-granularity frame.
    * The raw corpus is touched exactly once; every window estimate
    * costs 3 blob merges. The EXACT twin sits beside it — computed by
    * tripling each event into the windows it serves (map-side explode,
    * then one distinct aggregate), the shape whose cost is why the
    * sketch path exists — so accuracy is graded per window, and the
    * estimate column is pinned by the spec-exact chain (same discipline
    * as `hll_users`/`orders_ndv_approx`). */
  def dailyUsersRollingHll(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = e.groupBy(col("day"))
      .agg(expr("hll_state(CAST(user_id AS STRING))").as("sk"))
      .withColumn("day_num",
        datediff(col("day"), lit("2024-01-01").cast("date")))
    // calendar range, not row offsets: a day absent from the frame
    // must not stretch the window (day-granularity rows — the window
    // runs over |days| rows, corpus-size-independent)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("day_num")).rangeBetween(-2, 0)
    val rolled = daily
      .withColumn("h", expr("hll_merge(sk)").over(w))
    val days = daily.select(col("day"))
    // exact twin: event on day d serves windows d, d+1, d+2 (explode
    // ×3 map-side, keep real days, one distinct aggregate)
    val exact = e
      .select(explode(array(col("day"), date_add(col("day"), 1),
        date_add(col("day"), 2))).as("day"), col("user_id"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("exact_rolling_users"))
    rolled.join(exact, Seq("day"))
      .select(col("day"), col("exact_rolling_users"),
        graft.functions.ScalarFns.roundN(col("h.estimate"), 2)
          .as("hll_rolling_users"))
      .orderBy("day")
  }

  /** Data-quality outlier detection: per-type z-scores with mean and
    * variance derived from EXACT decimal sums (Σx, Σx²), so the stats —
    * and therefore the flagged set — are independent of partition
    * merge order, unlike stddev_samp/avg over doubles. Flags |z| >= 3.
    */
  def valueOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    val stats = e.groupBy(col("event_type")).agg(
      (sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as("mean"),
      (sum((col("value") * col("value")).cast("decimal(28,10)")).cast("double")
        / count(lit(1))).as("mean_sq"))
      // clamp: a constant-valued group can make mean_sq − mean² a tiny
      // NEGATIVE double (~-1e-18) → Spark sqrt = NaN (flags everything),
      // DuckDB sqrt = hard error. Clamped, std=0 → z NULL → filtered,
      // identically on both engines.
      .withColumn("std",
        sqrt(greatest(col("mean_sq") - col("mean") * col("mean"), lit(0.0))))
    e.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", (col("value") - col("mean")) / col("std"))
      .filter(abs(col("z")) >= 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        graft.functions.ScalarFns.roundN(col("z"), 4).as("z_score"))
      .orderBy("event_id")
  }

  /** Time-series GAP-FILL + resample — the temporal-spine operator an
    * events table needs before any rate/moving-average analysis (an
    * hour with zero events must appear as 0, not vanish): build the
    * complete hourly spine IN-PLAN (`sequence` over the broadcast
    * min/max bounds — no driver collect), cross it with the distinct
    * event types (bounded dimension, broadcast), left-join the real
    * hourly counts, zero-fill, then a 6-hour trailing moving average
    * over the gap-free series. Without the fill, the window would skip
    * empty hours and silently average over a variable time span.
    * Scale shape: the spine is |hours| × |types| rows — time-bounded,
    * independent of event volume; the only event-sized operation is the
    * initial hourly aggregate. */
  def hourlyGapfillMa(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .withColumn("hour_start", date_trunc("hour", col("ts")))
    val counts = e.groupBy(col("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val bounds = e.agg(min(col("hour_start")).as("lo"),
      max(col("hour_start")).as("hi"))
    val spine = bounds
      .select(explode(expr("sequence(lo, hi, interval 1 hour)"))
        .as("hour_start"))
    val types = e.select(col("event_type")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour_start")
      .rowsBetween(-5, 0)
    spine.crossJoin(broadcast(types))
      .join(counts, Seq("hour_start", "event_type"), "left")
      .withColumn("n_events", coalesce(col("n"), lit(0L)))
      // partial leading windows average over the rows that EXIST
      // (count over the same frame), not a fixed 6
      .withColumn("ma6", graft.functions.ScalarFns.roundN(
        sum(col("n_events")).over(w).cast("double")
          / count(lit(1)).over(w), 4))
      .select(col("event_type"), col("hour_start"), col("n_events"),
        col("ma6"))
      .orderBy("event_type", "hour_start")
  }

  /** EXPONENTIAL smoothing (EWMA) over the gap-filled hourly series —
    * the T1 family's third smoother beside the trailing mean and the
    * seasonal z-test: s_t = α·x_t + (1−α)·s_{t−1} with α = 1/2,
    * truncated at 16 taps so every weight is an exact power of two and
    * the statistic is ONE BIGINT: `ewma_x65536 = Σ_{k=0..15}
    * x_{t−k}·2^{15−k}` (= 2¹⁶ · Σ x_{t−k}/2^{k+1} — the truncated
    * recursion's fixed-point numerator; the dropped tail is < 2⁻¹⁶ of
    * any bounded signal, and the caller divides by 65536.0 for
    * display). Hours before the series start enter as zero — the
    * spine's own zero-fill convention, identical on both engines, so
    * the leading partial windows are defined, not undefined. No floats
    * anywhere: the EWMA of an integer series is an integer here.
    *
    * Scale shape: identical to [[hourlyGapfillMa]] — one event-sized
    * hourly aggregate, then windows over the |hours|×|types| spine,
    * partitioned by type (never global). 16 `lag` taps share one
    * window frame. */
  def hourlyEwma(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .withColumn("hour_start", date_trunc("hour", col("ts")))
    val counts = e.groupBy(col("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val bounds = e.agg(min(col("hour_start")).as("lo"),
      max(col("hour_start")).as("hi"))
    val spine = bounds
      .select(explode(expr("sequence(lo, hi, interval 1 hour)"))
        .as("hour_start"))
    val types = e.select(col("event_type")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour_start")
    val filled = spine.crossJoin(broadcast(types))
      .join(counts, Seq("hour_start", "event_type"), "left")
      .withColumn("n_events", coalesce(col("n"), lit(0L)))
    val ewma = (0 to 15).map(k =>
      coalesce(lag(col("n_events"), k).over(w), lit(0L)) *
        lit(1L << (15 - k))).reduce(_ + _)
    filled.withColumn("ewma_x65536", ewma)
      .select(col("event_type"), col("hour_start"), col("n_events"),
        col("ewma_x65536"))
      .orderBy("event_type", "hour_start")
  }

  /** SEASONAL-NAIVE FORECAST BACKTEST — the accuracy audit behind
    * every capacity-planning dashboard: forecast(t) = value(t−168h)
    * (same hour last week) over the zero-filled hourly spine, scored
    * per type against the lag-1 naive baseline as an exact-integer
    * MASE: `mase_ppm = ⌊10⁶·Σ|y−ŷ_seasonal| / Σ|y−ŷ_naive|⌋` — below
    * 10⁶ means weekly seasonality carries real signal. No floats
    * anywhere: counts, absolute errors and the final ppm ratio are
    * all BIGINT arithmetic (the house drift-monitor discipline).
    * Scale: the only data-sized work is the per-(type,hour) count
    * (map-side combined); lags run per-TYPE over the calendar-bounded
    * spine — the window partition count is the type catalog, each
    * frame ≤ span-in-hours rows. */
  def hourlyForecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .withColumn("hour_start", date_trunc("hour", col("ts")))
    val counts = e.groupBy(col("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val bounds = e.agg(min(col("hour_start")).as("lo"),
      max(col("hour_start")).as("hi"))
    val spine = bounds
      .select(explode(expr("sequence(lo, hi, interval 1 hour)"))
        .as("hour_start"))
    val types = e.select(col("event_type")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour_start")
    spine.crossJoin(broadcast(types))
      .join(counts, Seq("hour_start", "event_type"), "left")
      .withColumn("n_events", coalesce(col("n"), lit(0L)))
      .withColumn("fc", lag(col("n_events"), 168).over(w))
      .withColumn("nv", lag(col("n_events"), 1).over(w))
      .filter(col("fc").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("n_events")).as("total_events"),
        sum(abs(col("n_events") - col("fc"))).as("sae_seasonal"),
        sum(abs(col("n_events") - col("nv"))).as("sae_naive"))
      .withColumn("mase_ppm",
        expr("CAST((CAST(sae_seasonal AS DECIMAL(38,0)) * 1000000)" +
          " DIV sae_naive AS BIGINT)"))
      .orderBy("event_type")
  }

  /** DEBOUNCE — the ingest-side noise gate: within each USER's
    * stream, collapse bursts into their FIRST event, where a burst is
    * a maximal chain of events each within 5 minutes of its
    * predecessor (gaps-and-islands, the batch statement of
    * `session_window` + first-per-session). Note the semantics the
    * naive `lag ≤ 5min ⇒ drop` filter gets WRONG: whether an event
    * survives depends on its distance to the previous RAW event only
    * through the island structure — a 9-minute burst of 2-minute
    * steps keeps exactly its head, not every 6th event. Emits per
    * user: kept count, raw count, and the kept events' id
    * checksum (mod 2⁶¹−1, the [[Integrity]] idiom) so the grade pins
    * WHICH events survived, not just how many.
    *
    * Scale shape: ONE user-partitioned window shuffle (the
    * partitioning every sessionized pipeline already has) + a partial
    * agg at (user, type) granularity. The streaming twin of this gate
    * is [[graft.streaming.StreamOps.sessionMachine]]'s state
    * discipline with emit-on-open. */
  def eventsDebounced(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapped = Tables(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      // island head ⟺ no predecessor within 300 s; compared in exact
      // MICROSECONDS (a truncated-seconds compare would disagree with
      // the oracle on sub-second offsets around the boundary)
      .withColumn("head",
        col("prev_ts").isNull ||
          expr("unix_micros(ts) - unix_micros(prev_ts)") > 300000000L)
    gapped.groupBy(col("user_id"))
      .agg(
        sum(when(col("head"), 1L).otherwise(0L)).as("n_kept"),
        count(lit(1)).as("n_raw"),
        (sum(when(col("head"), col("event_id")).otherwise(lit(0L))
          .cast("decimal(38,0)")) % lit(Integrity.ChecksumMod))
          .cast("bigint").as("kept_checksum"))
      .orderBy("user_id")
  }

  /** W3+ per-user event-type TRANSITION matrix (first-order Markov
    * counts): for each user's event stream in time order, count
    * (previous type → current type) bigrams, plus the row-normalized
    * transition probability. The funnel/attrition view every product
    * analytics stack derives from a clickstream (generalizes the
    * reference's per-fan `events_attended` sequences, `fans.json:1`).
    *
    * Scale shape: ONE window shuffle partitioned by user_id (the same
    * partitioning a sessionized pipeline already has), then a partial
    * agg at (prev, curr) granularity — ~|types|² rows. Ties in ts are
    * broken by event_id so the lag is total-ordered and deterministic
    * on both engines. */
  def sessionTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val t = Tables(spark, dir, "events")
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("curr_type"))
      .agg(count(lit(1)).as("n"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prev_type"))
    t.withColumn("p",
        graft.functions.ScalarFns.roundN(
          col("n").cast("double") / sum(col("n")).over(w2), 4))
      .orderBy("prev_type", "curr_type")
  }

  /** Time-series GAP-FILL (resample): hourly counts per event type with
    * MISSING hours materialized as zero rows — the dimensional
    * completion every dashboard/forecast input needs (a plain groupBy
    * silently drops empty hours, so downstream moving averages and
    * rate-of-change windows skew). The hour spine is generated INSIDE
    * the plan (`sequence()` over the 1-row min/max aggregate — no
    * driver action), crossed with the bounded type dimension and
    * left-joined to the aggregated counts: the completion join touches
    * |hours|×|types| rows — calendar-scale, not data-scale — and the
    * only corpus-wide work is the one aggregation shuffle. At 100 TB
    * the spine stays tiny (a decade of hours ≈ 90k rows) and the
    * completion join broadcasts it. */
  def hourlyGapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val hours = bounds.select(explode(
      sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hr"))
    val types = ev.select(col("event_type")).distinct()
    val counts = ev.groupBy(
        date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    hours.crossJoin(broadcast(types))
      .join(counts, Seq("hr", "event_type"), "left")
      .select(col("hr"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("hr", "event_type")
  }

  /** SEASONAL VOLUME-ANOMALY MONITOR — the time-pattern twin of
    * [[valueOutliers]]: where that flags individual event VALUES
    * against their type's distribution, this flags (day, hour) traffic
    * CELLS against their hour-of-week baseline — the "why is Tuesday
    * 3 pm suddenly 2× normal" alert a pipeline health dashboard runs.
    * Baseline = all same-weekday-same-hour cells the table spans
    * (weekday via Spark `weekday` ≡ DuckDB `isodow - 1`, both
    * proleptic-Gregorian).
    *
    * The z-test is EXACT INTEGER arithmetic — no float mean/stddev:
    * cell `cnt` is anomalous at z > 1.5 iff
    * 4·(cnt·n − s)² > 9·(n·ss − s²) over the baseline's (n, Σ, Σ²) —
    * the cross-multiplied form of (cnt − s/n)² > (3/2)²·var. Sums ride
    * decimal(38,0) (HUGEINT in the oracle), exact while every cell
    * count < 10⁹ and the span < 10⁴ samples per hour-of-week slot —
    * products then stay < 10²⁶ ≪ 10³⁸. (1.5σ because the synthetic
    * feed is Poisson-flat; a production threshold would be 3σ — the
    * arithmetic is the same rational compare.)
    *
    * Scale: first aggregate is (day, hour) granularity — map-side
    * combinable off the scan; the baseline is ≤ 168 rows, broadcast
    * back. Nothing here is proportional to raw event volume except the
    * one partial agg. */
  /** z > 3/2 as the cross-multiplied rational ZDen2·dd² > ZNum2·(…) —
    * the squared numerator/denominator, interpolated into BOTH engines
    * so the threshold cannot drift. */
  private val ZNum2 = 9L
  private val ZDen2 = 4L

  /** The (day, hour) traffic-cell rollup — the monitor's ONLY
    * volume-proportional pass, shared with the streamed twin (which
    * maintains exactly this frame incrementally per micro-batch). */
  private[graft] def cellsOf(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"),
        hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("cnt"))

  def hourlyVolumeAnomaly(spark: SparkSession, dir: String): DataFrame =
    volumeAnomalyFrom(cellsOf(spark, dir))

  /** The analysis half over ANY (day, hr, cnt) cell frame — batch
    * builds it from the raw scan, the streamed twin from its
    * maintained state table; ONE definition so they cannot drift. */
  private[graft] def volumeAnomalyFrom(cellsIn: DataFrame): DataFrame = {
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    // The per-(weekday, hour) baseline moments attach to each cell via
    // a PARTITIONED WINDOW over the calendar-sized cell frame — one
    // consumer of the upstream scan/aggregation, so nothing needs a
    // persist (r7 ADVICE: the r7c aggregate-then-self-join form
    // persisted the cell frame and never released it). Identical
    // values: a window aggregate over the (wd, hr) partition IS the
    // grouped aggregate, delivered without the join.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("wd"), col("hr"))
    val dd = d38(col("cnt")) * d38(col("n")) - d38(col("s"))
    cellsIn.withColumn("wd", weekday(col("day")))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("cnt")).over(w))
      .withColumn("ss", sum(d38(col("cnt")) * d38(col("cnt"))).over(w))
      .filter(col("n") >= 3)
      .filter(lit(ZDen2) * dd * dd >
        lit(ZNum2) * (d38(col("n")) * col("ss") - d38(col("s")) * d38(col("s"))))
      .select(col("day"), col("hr"), col("cnt"),
        col("n").as("n_samples"),
        graft.functions.ScalarFns.roundN(
          col("s").cast("double") / col("n"), 2).as("expected"))
      .orderBy(col("day"), col("hr"))
  }

  /** GROWTH ACCOUNTING (r10+) — the product-analytics decomposition
    * behind every DAU chart: each day's active users split into NEW
    * (first-ever day), RETAINED (active the previous calendar day) and
    * RESURRECTED (active before, but not yesterday), with CHURN
    * derived at the day level as lag(active) − retained (NULL for the
    * first observed day, and defined against the previous CALENDAR day
    * — a calendar gap leaves it NULL rather than silently comparing
    * non-adjacent days). Two conservation laws make the report
    * self-auditing and are spec-pinned: active = new + retained +
    * resurrected (every active user is exactly one of the three), and
    * churned(d) = active(d−1) − retained(d).
    *
    * 100 TB shape: ONE distinct shuffle to the (user, day) frame, then
    * per-USER windows (millions of small partitions — embarrassingly
    * parallel; never a global window), then a |days|-row catalog
    * finish. */
  def dailyGrowthAccounting(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ud = Tables(spark, dir, "events")
      .filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val wu = Window.partitionBy("user_id").orderBy("day")
    val flags = ud
      .withColumn("first_day",
        min(col("day")).over(Window.partitionBy("user_id")))
      .withColumn("prev_day", lag(col("day"), 1).over(wu))
    val daily = flags.groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("prev_day") === date_add(col("day"), -1), 1L)
          .otherwise(0L)).as("n_retained"),
        sum(when(col("prev_day").isNotNull &&
            col("prev_day") < date_add(col("day"), -1), 1L)
          .otherwise(0L)).as("n_resurrected"))
    val wd = Window.orderBy("day") // |days| rows — catalog-scale
    daily
      .withColumn("pday", lag(col("day"), 1).over(wd))
      .withColumn("pactive", lag(col("n_active"), 1).over(wd))
      .withColumn("n_churned",
        when(col("pday") === date_add(col("day"), -1),
          col("pactive") - col("n_retained")))
      .select(col("day"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"), col("n_churned"))
      .orderBy("day")
  }

  /** One SQL body, two engine spellings (micros extractor + integer
    * division) — the [[Stats]] MAD idiom: the funnel-latency query is
    * the SAME text on both engines, so the two cannot drift. */
  private def funnelLatencySql(micros: String => String,
      div: String): String =
    s"""WITH v AS (
       |  SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'),
       |p AS (
       |  SELECT user_id, event_id AS pid, ts AS pts
       |  FROM events WHERE event_type = 'purchase'),
       |j AS (
       |  SELECT p.pid, hour(p.pts) AS phour,
       |    (${micros("p.pts")} - min(${micros("v.vts")})) $div 1000000
       |      AS latency_sec
       |  FROM p JOIN v ON v.user_id = p.user_id
       |    AND v.vts <= p.pts AND v.vts >= p.pts - INTERVAL 1 HOUR
       |  GROUP BY p.pid, p.pts)
       |SELECT CAST(phour AS BIGINT) AS purchase_hour,
       |  CAST(count(*) AS BIGINT) AS n_conversions,
       |  CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY latency_sec)
       |    AS BIGINT) AS p25_sec,
       |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_sec)
       |    AS BIGINT) AS p50_sec,
       |  CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY latency_sec)
       |    AS BIGINT) AS p75_sec,
       |  CAST(max(latency_sec) AS BIGINT) AS max_sec
       |FROM j GROUP BY phour
       |ORDER BY purchase_hour""".stripMargin

  /** GRADED (r10): FUNNEL CONVERSION LATENCY quartiles — the product
    * question after the funnel counts ("how long does converting
    * take?"): per purchase hour, exact member-value quartiles
    * (percentile_disc — no interpolation) of seconds from the FIRST
    * in-window view to the purchase. Latency is exact integer seconds
    * off the microsecond timestamps; the interval join is the
    * attribution family's user-keyed window shape; quartile groups are
    * bounded (24 hours) — the [[Stats.priceOutliersMad]] scale
    * envelope, with the same HistSketch swap at 100 TB. */
  def funnelLatencyQuartiles(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(spark, dir)
    spark.sql(funnelLatencySql(c => s"unix_micros($c)", "div"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "funnel_latency_quartiles" -> (funnelLatencyQuartiles _),
    "daily_growth_accounting" -> (dailyGrowthAccounting _),
    "hourly_counts_gapfilled" -> (hourlyGapFill _),
    "hourly_volume_anomaly" -> (hourlyVolumeAnomaly _),
    "session_transitions" -> (sessionTransitions _),
    "hourly_gapfill_ma"  -> (hourlyGapfillMa _),
    "hourly_ewma"        -> (hourlyEwma _),
    "hourly_forecast_backtest" -> (hourlyForecastBacktest _),
    "events_debounced"   -> (eventsDebounced _),
    "value_outliers"     -> (valueOutliers _),
    "hourly_event_stats" -> (hourlyEventStats _),
    "distinct_users"     -> (distinctUsers _),
    "json_props"         -> (jsonProps _),
    "session_stats"      -> (sessionStats _),
    "hll_users"          -> (hllUsers _),
    "daily_users_rolling_hll" -> (dailyUsersRollingHll _),
    "approx_users"       -> (approxUsers _))

  /** DuckDB twin of the HLL spec in [[graft.plans.HllSketch]]: nibble
    * arithmetic over the md5 hex (bucket = first 2 nibbles, rho from
    * the leading zeros of nibbles 3..18), max per register, 256-row
    * register frame via generate_series, index-ordered list_reduce. */
  /** Exposed to [[graft.streaming.StreamReplay]]: the streamed HLL query
    * reuses this whole oracle as a subquery so the sketch spec exists
    * in exactly one SQL rendering. */
  /** Shared DuckDB rebuild pieces of the HLL spec (nibble decode +
    * leading-zero cases) — used by [[hllOracle]] and the rolling
    * re-aggregation oracle. */
  private val nibDefs = (1 to 18).map(i =>
    s"instr('0123456789abcdef', substr(h, $i, 1)) - 1 AS n$i")
    .mkString(",\n      ")
  private val lzCases = (3 to 18).map(i =>
    s"WHEN n$i > 0 THEN ${4 * (i - 3)} + (CASE WHEN n$i >= 8 THEN 0" +
      s" WHEN n$i >= 4 THEN 1 WHEN n$i >= 2 THEN 2 ELSE 3 END)")
    .mkString("\n        ")

  private[graft] val hllOracle: String = {
    s"""WITH hx AS (
       |  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events
       |  WHERE user_id IS NOT NULL),
       |nib AS (
       |  SELECT event_type,
       |      $nibDefs
       |  FROM hx),
       |br AS (
       |  SELECT event_type, n1 * 16 + n2 AS bucket,
       |    1 + (CASE
       |        $lzCases
       |        ELSE 64 END) AS rho
       |  FROM nib),
       |reg AS (
       |  SELECT event_type, bucket, max(rho) AS mx FROM br GROUP BY 1, 2),
       |regs AS (
       |  SELECT e.event_type, gs.j, coalesce(r.mx, 0) AS mreg
       |  FROM (SELECT DISTINCT event_type FROM events) e
       |  CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS j) gs
       |  LEFT JOIN reg r ON r.event_type IS NOT DISTINCT FROM e.event_type
       |    AND r.bucket = gs.j),
       |agg AS (
       |  SELECT event_type,
       |    list_reduce(list_transform(list(mreg ORDER BY j),
       |      x -> power(2.0, -CAST(x AS DOUBLE))), (a, b) -> a + b) AS sum_pow,
       |    sum(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS n_zero
       |  FROM regs GROUP BY 1),
       |est AS (
       |  SELECT event_type, n_zero, sum_pow,
       |    (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / sum_pow AS e_raw
       |  FROM agg)
       |SELECT event_type, CAST(n_zero AS BIGINT) AS n_zero_registers, sum_pow,
       |  ${graft.functions.ScalarFns.roundSql(
            "CASE WHEN e_raw <= 2.5 * 256.0 AND n_zero > 0" +
            " THEN 256.0 * ln(256.0 / n_zero) ELSE e_raw END", 2)} AS hll_users
       |FROM est ORDER BY event_type""".stripMargin
  }

  /** Rolling re-aggregation oracle: register max over each window's
    * RAW rows — elementwise-max of per-day register maxima equals max
    * over the union (associativity), so rebuilding from raw rows per
    * window states exactly what merging stored sketches must equal. */
  private[graft] val rollingHllOracle: String =
    s"""WITH e AS (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
       |  FROM events WHERE user_id IS NOT NULL),
       |days AS (SELECT DISTINCT day FROM e),
       |win AS (
       |  SELECT d.day, e.user_id FROM days d
       |  JOIN e ON e.day >= d.day - 2 AND e.day <= d.day),
       |ex AS (
       |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT)
       |    AS exact_rolling_users
       |  FROM win GROUP BY 1),
       |hx AS (SELECT day, md5(CAST(user_id AS VARCHAR)) AS h FROM win),
       |nib AS (
       |  SELECT day,
       |      $nibDefs
       |  FROM hx),
       |br AS (
       |  SELECT day, n1 * 16 + n2 AS bucket,
       |    1 + (CASE
       |        $lzCases
       |        ELSE 64 END) AS rho
       |  FROM nib),
       |reg AS (SELECT day, bucket, max(rho) AS mx FROM br GROUP BY 1, 2),
       |regs AS (
       |  SELECT d.day, gs.j, coalesce(r.mx, 0) AS mreg
       |  FROM days d
       |  CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS j) gs
       |  LEFT JOIN reg r ON r.day = d.day AND r.bucket = gs.j),
       |agg AS (
       |  SELECT day,
       |    list_reduce(list_transform(list(mreg ORDER BY j),
       |      x -> power(2.0, -CAST(x AS DOUBLE))), (a, b) -> a + b)
       |      AS sum_pow,
       |    sum(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS n_zero
       |  FROM regs GROUP BY 1),
       |est AS (
       |  SELECT day, n_zero, sum_pow,
       |    (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / sum_pow
       |      AS e_raw
       |  FROM agg)
       |SELECT est.day, ex.exact_rolling_users,
       |  ${graft.functions.ScalarFns.roundSql(
          "CASE WHEN e_raw <= 2.5 * 256.0 AND n_zero > 0" +
          " THEN 256.0 * ln(256.0 / n_zero) ELSE e_raw END", 2)}
       |    AS hll_rolling_users
       |FROM est JOIN ex ON est.day = ex.day ORDER BY est.day""".stripMargin

  val oracles: Map[String, String] = Map(
    "funnel_latency_quartiles" ->
      funnelLatencySql(c => s"epoch_us($c)", "//"),
    // the identical window decomposition; churn NULL-pinned for the
    // first day and across calendar gaps
    "daily_growth_accounting" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    user_id
        |  FROM events WHERE user_id IS NOT NULL),
        |fl AS (
        |  SELECT day, user_id,
        |    min(day) OVER (PARTITION BY user_id) AS first_day,
        |    lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
        |  FROM ud),
        |d AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN prev_day IS NOT NULL
        |        AND prev_day < day - 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM fl GROUP BY 1)
        |SELECT day, n_active, n_new, n_retained, n_resurrected,
        |  CASE WHEN lag(day) OVER (ORDER BY day) = day - 1
        |    THEN lag(n_active) OVER (ORDER BY day) - n_retained
        |  END AS n_churned
        |FROM d ORDER BY day""".stripMargin,
    "daily_users_rolling_hll" -> rollingHllOracle,
    // exact rational z-test: weekday ≡ isodow-1, HUGEINT ≡ decimal(38,0)
    "hourly_volume_anomaly" -> {
      val dd = "(CAST(c.cnt AS HUGEINT) * b.n - b.s)"
      s"""WITH cells AS (
         |  SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS BIGINT) AS hr,
         |    count(*) AS cnt
         |  FROM events GROUP BY 1, 2),
         |base AS (
         |  SELECT isodow(day) - 1 AS wd, hr, count(*) AS n,
         |    sum(cnt) AS s, sum(CAST(cnt AS HUGEINT) * cnt) AS ss
         |  FROM cells GROUP BY 1, 2)
         |SELECT c.day, c.hr, c.cnt, b.n AS n_samples,
         |  ${graft.functions.ScalarFns.roundSql(
            "CAST(b.s AS DOUBLE) / b.n", 2)} AS expected
         |FROM cells c
         |JOIN base b ON isodow(c.day) - 1 = b.wd AND c.hr = b.hr
         |WHERE b.n >= 3
         |  AND $ZDen2 * $dd * $dd
         |      > $ZNum2 * (CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s)
         |ORDER BY 1, 2""".stripMargin
    },
    // renamed from hourly_gap_fill (r6 advice: too close to the
    // pre-existing hourly_gapfill_ma)
    "hourly_counts_gapfilled" ->
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
        |                  date_trunc('hour', max(ts)) AS hi FROM events),
        |h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        |      FROM b),
        |t AS (SELECT DISTINCT event_type FROM events),
        |c AS (SELECT date_trunc('hour', ts) AS hr, event_type,
        |        count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT h.hr, t.event_type, coalesce(c.n, 0) AS n
        |FROM h CROSS JOIN t
        |LEFT JOIN c ON c.hr = h.hr AND c.event_type = t.event_type
        |ORDER BY 1, 2""".stripMargin,
    // gaps-and-islands: head ⟺ no predecessor within 300 s; the kept
    // set is pinned by the id checksum, not just counted
    "events_debounced" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id,
         |    CASE WHEN lag(ts) OVER (
         |        PARTITION BY user_id
         |        ORDER BY ts, event_id) IS NULL
         |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (
         |        PARTITION BY user_id
         |        ORDER BY ts, event_id)) > 300000000
         |    THEN 1 ELSE 0 END AS head
         |  FROM events)
         |SELECT user_id,
         |  CAST(sum(head) AS BIGINT) AS n_kept,
         |  count(*) AS n_raw,
         |  CAST(sum(CASE WHEN head = 1 THEN CAST(event_id AS HUGEINT)
         |           ELSE 0 END) % ${Integrity.ChecksumMod}
         |    AS BIGINT) AS kept_checksum
         |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same spine, then the 16-tap power-of-two lag sum — the
    // fixed-point EWMA numerator, zero-padded before series start
    // identical spine + lag statement; integer MASE in ppm
    "hourly_forecast_backtest" ->
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
        |                  date_trunc('hour', max(ts)) AS hi FROM events),
        |h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        |      FROM b),
        |t AS (SELECT DISTINCT event_type FROM events),
        |c AS (SELECT date_trunc('hour', ts) AS hr, event_type,
        |        count(*) AS n FROM events GROUP BY 1, 2),
        |filled AS (
        |  SELECT h.hr AS hour_start, t.event_type,
        |    CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
        |  FROM h CROSS JOIN t
        |  LEFT JOIN c ON c.hr = h.hr AND c.event_type = t.event_type),
        |lagged AS (
        |  SELECT event_type, n_events,
        |    lag(n_events, 168) OVER (PARTITION BY event_type
        |      ORDER BY hour_start) AS fc,
        |    lag(n_events, 1) OVER (PARTITION BY event_type
        |      ORDER BY hour_start) AS nv
        |  FROM filled)
        |SELECT event_type, count(*) AS n_hours,
        |  CAST(sum(n_events) AS BIGINT) AS total_events,
        |  CAST(sum(abs(n_events - fc)) AS BIGINT) AS sae_seasonal,
        |  CAST(sum(abs(n_events - nv)) AS BIGINT) AS sae_naive,
        |  CAST((1000000 * sum(abs(n_events - fc)))
        |    // sum(abs(n_events - nv)) AS BIGINT) AS mase_ppm
        |FROM lagged WHERE fc IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "hourly_ewma" -> {
      val taps = (0 to 15).map(k =>
        s"coalesce(lag(n_events, $k) OVER (PARTITION BY event_type " +
          s"ORDER BY hour_start), 0) * ${1L << (15 - k)}").mkString("\n    + ")
      s"""WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
         |                  date_trunc('hour', max(ts)) AS hi FROM events),
         |h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
         |      FROM b),
         |t AS (SELECT DISTINCT event_type FROM events),
         |c AS (SELECT date_trunc('hour', ts) AS hr, event_type,
         |        count(*) AS n FROM events GROUP BY 1, 2),
         |filled AS (
         |  SELECT h.hr AS hour_start, t.event_type,
         |    CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
         |  FROM h CROSS JOIN t
         |  LEFT JOIN c ON c.hr = h.hr AND c.event_type = t.event_type)
         |SELECT event_type, hour_start, n_events,
         |  CAST($taps AS BIGINT) AS ewma_x65536
         |FROM filled ORDER BY event_type, hour_start""".stripMargin
    },
    "session_transitions" ->
      s"""WITH t AS (
         |  SELECT lag(event_type) OVER (
         |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         |    event_type AS curr_type
         |  FROM events),
         |c AS (
         |  SELECT prev_type, curr_type, count(*) AS n FROM t
         |  WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         |SELECT prev_type, curr_type, n,
         |  ${graft.functions.ScalarFns.roundSql(
            "CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)", 4)}
         |    AS p
         |FROM c ORDER BY prev_type, curr_type""".stripMargin,
    "hll_users" -> hllOracle,
    // same spine construction: inclusive hourly generate_series over the
    // event-time bounds × distinct types, zero-filled, 6-row trailing
    // mean over the gap-free series
    "hourly_gapfill_ma" ->
      s"""WITH e AS (
         |  SELECT date_trunc('hour', ts) AS hour_start, event_type
         |  FROM events),
         |counts AS (
         |  SELECT hour_start, event_type, count(*) AS n
         |  FROM e GROUP BY 1, 2),
         |b AS (SELECT min(hour_start) AS lo, max(hour_start) AS hi FROM e),
         |spine AS (
         |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
         |    AS hour_start FROM b),
         |types AS (SELECT DISTINCT event_type FROM e),
         |filled AS (
         |  SELECT g.hour_start, g.event_type,
         |    CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
         |  FROM (SELECT s.hour_start, t.event_type
         |        FROM spine s CROSS JOIN types t) g
         |  LEFT JOIN counts c
         |    ON g.hour_start = c.hour_start AND g.event_type = c.event_type)
         |SELECT event_type, hour_start, n_events,
         |  ${graft.functions.ScalarFns.roundSql(
              "CAST(sum(n_events) OVER w AS DOUBLE) / count(*) OVER w", 4)} AS ma6
         |FROM filled
         |WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
         |  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
         |ORDER BY event_type, hour_start""".stripMargin,
    "value_outliers" ->
      s"""WITH s AS (
         |  SELECT event_type,
         |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean,
         |    CAST(sum(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS mean_sq
         |  FROM events GROUP BY 1),
         |z AS (
         |  SELECT e.event_id, e.event_type, e.value,
         |    (e.value - s.mean) / sqrt(greatest(s.mean_sq - s.mean * s.mean, 0.0)) AS z
         |  FROM events e JOIN s ON e.event_type = s.event_type)
         |SELECT event_id, event_type, value,
         |  ${graft.functions.ScalarFns.roundSql("z", 4)} AS z_score
         |FROM z WHERE abs(z) >= 3.0 ORDER BY event_id""".stripMargin,
    "hourly_event_stats" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "json_props" ->
      s"""SELECT event_type,
        |  count(k) AS n_with_k, CAST(sum(k) AS BIGINT) AS sum_k,
        |  ${graft.functions.ScalarFns.roundSql("CAST(sum(k) AS DOUBLE) / count(k)", 2)} AS avg_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "session_stats" ->
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
        |  SELECT user_id,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |per_session AS (
        |  SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  max(n) AS max_session_events
        |FROM per_session GROUP BY 1 ORDER BY 1""".stripMargin)
}
