package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{PhaseMachine, StreamOps}
import graft.streaming.PhaseMachine.ToolEvent

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Structured Streaming semantics (SURVEY.md §2.9) on memory streams.
  * Golden SSE-ordering test per §5.2 pt 4. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  test("ST7: tumbling streaming counts equal the batch computation") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamOps.tumblingCounts(ms.toDF, "1 hour", "0 minutes")
      .writeStream.format("memory").queryName("tumbling").outputMode("append")
      .start()
    val evs = Seq(Ev(1, t(5), 1, "click", 1.0), Ev(2, t(20), 1, "click", 2.0),
      Ev(3, t(65), 2, "view", 3.0))
    ms.addData(evs: _*)
    q.processAllAvailable()
    // watermark flush: an event far in the future closes earlier windows
    ms.addData(Ev(99, t(600), 9, "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tumbling")
      .select("window_start", "event_type", "n_events", "total_value")
      .orderBy("window_start", "event_type").collect()
    val batch = StreamOps.tumblingCounts(
        (evs :+ Ev(99, t(600), 9, "flush", 0.0)).toDF, "1 hour", "0 minutes")
      .select("window_start", "event_type", "n_events", "total_value")
      .orderBy("window_start", "event_type").collect()
    // streaming emitted all windows whose end <= max watermark
    assert(got.nonEmpty)
    assert(batch.toSeq.startsWith(got.toSeq) || got.toSeq == batch.toSeq.dropRight(1))
  }

  test("ST4: duplicate event ids within watermark are dropped") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamOps.dedupWithinWatermark(ms.toDF, "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode("append")
      .start()
    ms.addData(Ev(1, t(0), 1, "a", 0), Ev(1, t(1), 1, "a", 0),
      Ev(2, t(2), 1, "b", 0))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup").select("event_id").as[Long].collect().sorted
      .sameElements(Array(1L, 2L)))
  }

  test("ST3: rate-limit flags only users over the limit") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamOps.rateLimitViolations(ms.toDF, limit = 2,
        win = "1 hour", slide = "1 hour", watermark = "0 minutes")
      .writeStream.format("memory").queryName("rate").outputMode("append")
      .start()
    ms.addData((1 to 5).map(i => Ev(i, t(i), 7, "spam", 0)) :+
      Ev(10, t(10), 8, "ok", 0): _*)
    ms.addData(Ev(99, t(600), 9, "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("rate").collect()
    assert(rows.map(_.getAs[Long]("user_id")).toSet == Set(7L))
    assert(rows.head.getAs[Long]("n_requests") == 5L)
  }

  test("ST1/ST6 golden ordering: running→done, strategy lifecycle, terminal done") {
    val events = Seq(
      ToolEvent("c1", 1, "on_tool_start", "query_crm", "", false),
      ToolEvent("c1", 2, "on_tool_end", "query_crm", "{count: 12}", true),
      ToolEvent("c1", 3, "token", "", "Here", false),
      ToolEvent("c1", 4, "on_tool_start", "generate_campaign_copy", "", false),
      ToolEvent("c1", 5, "on_tool_end", "generate_campaign_copy", "{email:...}", false),
      ToolEvent("c1", 6, "error", "", "boom", false),
      ToolEvent("c1", 7, "end", "", "", false))
    val out = PhaseMachine.run(spark, events.toDS).collect().sortBy(_.seq)
    val kinds = out.map(e => (e.event_type, e.phase, e.status)).toSeq
    // analyzing warm-up first (agent.py:122); closed at first tool start
    assert(kinds.head == ("agent_step", "analyzing", "running"))
    assert(kinds.contains(("agent_step", "analyzing", "done")))
    // per-tool: running precedes done precedes payload
    val ar = kinds.indexOf(("agent_step", "audience_research", "running"))
    val ad = kinds.indexOf(("agent_step", "audience_research", "done"))
    val pay = out.indexWhere(_.event_type == "audience_result")
    assert(ar >= 0 && ar < ad && ad < pay)
    // strategy opens after non-empty query_crm, closes before copy runs
    val so = kinds.indexOf(("agent_step", "strategy", "running"))
    val sc = kinds.indexOf(("agent_step", "strategy", "done"))
    val cw = kinds.indexOf(("agent_step", "copy_writing", "running"))
    assert(so > pay && sc > so && sc < cw)
    // ST6: error event present AND stream still terminates with done
    assert(out.exists(_.event_type == "error"))
    assert(out.last.event_type == "done")
  }

  test("ST6: error WITHOUT a trailing end still terminates with done") {
    val events = Seq(
      ToolEvent("cx", 1, "on_tool_start", "query_crm", "", false),
      ToolEvent("cx", 2, "error", "", "runtime died", false)) // no "end"!
    val out = PhaseMachine.run(spark, events.toDS).collect().sortBy(_.seq)
    assert(out.last.event_type == "done")
    // and a straggler end after the close is ignored (exactly one done)
    val out2 = PhaseMachine.run(spark,
      (events :+ ToolEvent("cx", 3, "end", "", "", false)).toDS).collect()
    assert(out2.count(_.event_type == "done") == 1)
  }

  test("ST1: empty query_crm does NOT open strategy (agent.py:62 guard)") {
    val events = Seq(
      ToolEvent("c2", 1, "on_tool_start", "query_crm", "", false),
      ToolEvent("c2", 2, "on_tool_end", "query_crm", "{count: 0}", false),
      ToolEvent("c2", 3, "end", "", "", false))
    val out = PhaseMachine.run(spark, events.toDS).collect()
    assert(!out.exists(e => e.phase == "strategy"))
    assert(out.map(_.event_type).last == "done")
  }

  test("ST5: keyed state isolates conversations") {
    val events = Seq(
      ToolEvent("a", 1, "on_tool_start", "query_crm", "", false),
      ToolEvent("b", 1, "end", "", "", false))
    val out = PhaseMachine.run(spark, events.toDS).collect()
    val byConv = out.groupBy(_.conversation_id)
    // each conversation gets its own analyzing warm-up
    assert(byConv("a").exists(e => e.phase == "analyzing"))
    assert(byConv("b").exists(e => e.phase == "analyzing"))
    assert(byConv("b").last.event_type == "done")
  }

  test("ST2: token micro-batching flushes whole buffer at ~50 chars") {
    val tok = (1 to 12).map(i =>
      ToolEvent("c1", i, "token", "", s"word$i ", false)) :+
      ToolEvent("c1", 99, "end", "", "", false)
    val chunks = PhaseMachine.batchTokens(spark, tok.toDS)
      .collect().sortBy(_.chunk_seq)
    // concatenation preserved, order preserved
    assert(chunks.map(_.text).mkString == (1 to 12).map(i => s"word$i ").mkString)
    // every chunk except the final flush is >= 50 chars
    assert(chunks.dropRight(1).forall(_.text.length >= 50))
    assert(chunks.map(_.chunk_seq).toSeq == chunks.indices.map(_.toLong))
  }

  test("ST2/ST6: tokens after end/error produce no further chunks") {
    val tok = Seq(
      ToolEvent("c9", 1, "token", "", "x" * 60, false),
      ToolEvent("c9", 2, "error", "", "boom", false),
      ToolEvent("c9", 3, "token", "", "y" * 60, false)) // straggler
    val chunks = PhaseMachine.batchTokens(spark, tok.toDS).collect()
    assert(chunks.length == 1 && chunks.head.text == "x" * 60)
  }

  test("streaming replay of the real events table ≡ batch aggregation") {
    // stream the ingest-normalized copy (µs TIMESTAMP) — the same
    // source StreamReplay uses; no session conf mutation, no shim here
    val dir = Tables.eventsMicros(spark, sf0001)
    val rawSchema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val agg = stream.groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("ws"), $"event_type", $"n")
    val q = agg.writeStream.format("memory").queryName("replay")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("replay").orderBy("ws", "event_type").collect()
    val batch = Tables(spark, sf0001, "events")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("ws"), $"event_type", $"n")
      .orderBy("ws", "event_type").collect()
    assert(streamed.sameElements(batch))
  }

  test("session windows: gap merges and splits as specified") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamOps.sessionCounts(ms.toDF, gap = "30 minutes",
        watermark = "0 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("append")
      .start()
    // user 1: events at 0,10 (one session), 50 (new session: gap 40 > 30)
    ms.addData(Ev(1, t(0), 1, "a", 0), Ev(2, t(10), 1, "a", 0),
      Ev(3, t(50), 1, "a", 0))
    ms.addData(Ev(99, t(600), 9, "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("sessions").filter($"user_id" === 1)
      .select("n_events").as[Long].collect().sorted
    assert(u1.sameElements(Array(1L, 2L)))
  }

  test("ST5+A6: streaming HLL state equals the batch sketch exactly") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamOps.streamingHllUsers(ms.toDF)
      .toDF("event_type", "hll_estimate", "n_seen")
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("update").start()
    // two micro-batches: state must carry the registers across batches
    // (user 1 re-appearing in batch 2 must not raise the estimate)
    val batch1 = Seq(Ev(1, t(0), 1, "click", 0), Ev(2, t(1), 2, "click", 0),
      Ev(3, t(2), 1, "view", 0))
    val batch2 = Seq(Ev(4, t(3), 1, "click", 0), Ev(5, t(4), 3, "click", 0))
    ms.addData(batch1: _*)
    q.processAllAvailable()
    ms.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    // final update per key = row with the largest n_seen (strictly
    // increasing per key; the estimate itself is NOT monotone across
    // the linear-counting/raw branch switch)
    val got = spark.table("hll_stream")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy($"n_seen".desc)))
      .filter($"rn" === 1)
      .collect().map(r => r.getAs[String]("event_type")
        -> r.getAs[Double]("hll_estimate")).toMap
    // batch twin over ALL the same rows, through the registered aggregate
    val batch = (batch1 ++ batch2).toDF()
      .groupBy($"event_type")
      .agg(expr("hll_sketch(CAST(user_id AS STRING))").as("h"))
      .select($"event_type", $"h.estimate")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == batch, s"stream $got != batch $batch")
    // and the sketch state deduplicates: 3 distinct click users ≈ 3
    assert(math.abs(got("click") - 3.0) < 0.2)
  }

  test("ST5+A6 KMV: the streamed k-minimum-values state replay equals " +
      "the batch sketch row-for-row") {
    val streamed = graft.streaming.StreamReplay
      .kmvUsersStreamed(spark, sf0001).collect()
    val batch = graft.operators.KmvOps.kmvUsersByType(spark, sf0001)
      .collect().map(r => r.getString(0)
        -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val counts = Tables(spark, sf0001, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty && streamed.length == batch.size)
    streamed.foreach { r =>
      val t = r.getString(0)
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == batch(t),
        s"type $t sketch mismatch")
      assert(r.getLong(4) == counts(t), s"type $t seen counter")
    }
  }

  test("ST7 driver surface: file-source streaming replay ≡ batch twin") {
    // the graded hourly_event_stats_streamed entry: a REAL readStream →
    // writeStream execution over the events parquet must reproduce the
    // batch aggregate exactly (complete mode over a bounded source)
    val streamed = graft.streaming.StreamReplay
      .hourlyEventStatsStreamed(spark, sf0001).collect()
    val batch = graft.operators.EventOps
      .hourlyEventStats(spark, sf0001).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s == b, s"streamed row $s != batch row $b") }
  }

  test("ST4 driver surface: duplicate-injected replay dedups to exactly the source rows") {
    // the graded dedup_streamed entry: every event arrives TWICE (two
    // unioned file-source branches), flows through the real
    // dropDuplicatesWithinWatermark op into a parquet FILE sink, and
    // the committed files must hold exactly the unique source rows
    val got = graft.streaming.StreamReplay.dedupStreamed(spark, sf0001)
    val want = Tables(spark, sf0001, "events")
      .select($"event_id", $"user_id", $"ts", $"event_type", $"value")
      .orderBy("event_id")
    assert(got.collect().sameElements(want.collect()),
      "deduped replay differs from the unique source rows")
    // and the result never lived on the driver: the graded frame's
    // plan reads sink FILES, not a LocalRelation of collected rows
    assert(got.queryExecution.sparkPlan.toString.contains("FileScan"),
      "dedup_streamed should read back committed sink files")
  }

  test("ST8: stream-stream interval join replay equals the batch join") {
    val streamed = graft.streaming.StreamReplay
      .viewPurchaseJoinStreamed(spark, sf0001).collect()
    val ev = Tables(spark, sf0001, "events")
    val a = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val b = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val batch = a.join(b, col("user_id") === col("pu")
        && col("purchase_ts") >= col("view_ts")
        && col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "view_id", "view_ts", "purchase_id", "purchase_ts")
      .orderBy("user_id", "view_id", "purchase_id").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, bt) =>
      assert(s == bt, s"streamed $s != batch $bt") }
  }

  test("ST8+: LEFT-OUTER stream-stream join replay equals the batch " +
      "left join — unmatched views flush as null rows at watermark") {
    val streamed = graft.streaming.StreamReplay
      .viewPurchaseLeftStreamed(spark, sf0001).collect()
    val ev = Tables(spark, sf0001, "events")
    val a = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val b = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val batch = a.join(b, col("user_id") === col("pu")
        && col("purchase_ts") >= col("view_ts")
        && col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select("user_id", "view_id", "view_ts", "purchase_id", "purchase_ts")
      .orderBy("user_id", "view_id", "purchase_id").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, bt) =>
      assert(s == bt, s"streamed $s != batch $bt") }
    // the outer arm is EXERCISED: some views never converted, and
    // their null-extended rows made it out of the state store
    assert(streamed.exists(_.isNullAt(3)),
      "no unmatched view emitted — the watermark flush did not happen")
  }

  test("ST8++: FULL-OUTER stream-stream join replay equals the batch " +
      "full join — BOTH arms' null rows flush at watermark") {
    val streamed = graft.streaming.StreamReplay
      .viewPurchaseFullStreamed(spark, sf0001).collect()
    val ev = Tables(spark, sf0001, "events")
    val a = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val b = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val batch = a.join(b, col("vu") === col("pu")
        && col("purchase_ts") >= col("view_ts")
        && col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
        "full_outer")
      .select(coalesce(col("vu"), col("pu")).as("user_id"),
        col("view_id"), col("view_ts"),
        col("purchase_id"), col("purchase_ts"))
      .orderBy("user_id", "view_id", "purchase_id").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, bt) =>
      assert(s == bt, s"streamed $s != batch $bt") }
    // both outer arms exercised: an unconverted view AND a purchase
    // with no preceding in-horizon view each flushed a null-extended row
    assert(streamed.exists(_.isNullAt(3)),
      "no unmatched view emitted — the left arm did not flush")
    assert(streamed.exists(_.isNullAt(1)),
      "no unmatched purchase emitted — the right arm did not flush")
  }

  test("ST5+: debounce machine replay ≡ the batch gaps-and-islands " +
      "gate row-for-row") {
    val streamed = graft.streaming.StreamReplay
      .eventsDebouncedStreamed(spark, sf0001).collect().toSeq
    val batch = graft.operators.EventOps
      .eventsDebounced(spark, sf0001).collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // the gate actually collapsed bursts in the streamed path too
    assert(streamed.exists(r => r.getLong(1) < r.getLong(2)))
  }

  test("ST9: stream-static enrichment replay equals the batch join + aggregate") {
    val streamed = graft.streaming.StreamReplay
      .enrichedEventsStreamed(spark, sf0001).collect()
    val batch = Tables(spark, sf0001, "events")
      .join(Tables(spark, sf0001, "customer"),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double")
          .as("total_value"))
      .orderBy("c_mktsegment", "event_type").collect()
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s == b, s"streamed $s != batch $b") }
  }

  test("ST7 update mode: single-batch replay sink equals the batch aggregate") {
    // update mode emits only CHANGED rows per batch; a bounded
    // single-file replay updates every window exactly once, so the
    // sink must hold the batch aggregate with no duplicate emissions
    val streamed = graft.streaming.StreamReplay
      .hourlyEventStatsUpdateMode(spark, sf0001).collect()
    val batch = graft.operators.EventOps
      .hourlyEventStats(spark, sf0001).collect()
    assert(streamed.length == batch.length,
      s"update-mode sink has ${streamed.length} rows vs batch ${batch.length}" +
        " — duplicate or missing emissions")
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s == b, s"update-mode row $s != batch row $b") }
  }

  test("ST7 update-mode upsert log: MULTI-batch replay compacts last-writer-wins") {
    // the graded update-mode query replays a bounded source in one
    // micro-batch, so its single-batch parity cannot distinguish
    // "append-only log" from a real upsert. Split the events timeline
    // into TWO files processed as two batches (maxFilesPerTrigger=1,
    // time-ordered so the watermark never late-drops the second file):
    // windows straddling the split are EMITTED TWICE in update mode,
    // and the foreachBatch log's last-writer-wins compaction must keep
    // only the later, complete row.
    val ev = spark.read.parquet(Tables.eventsMicros(spark, sf0001))
    // split point chosen BY CONSTRUCTION to straddle a window: the
    // earliest hour with ≥2 distinct timestamps, cut right after its
    // first event — half0 keeps that event, half1 the hour's rest
    // (a blind timeline midpoint lands in a gap on sparse corpora)
    val midRow = ev
      .select(date_trunc("hour", col("ts")).as("h"), col("ts"))
      .groupBy("h")
      .agg(countDistinct(col("ts")).as("nts"), min(col("ts")).as("t0"))
      .filter(col("nts") >= 2).orderBy("h").limit(1)
      .select(col("t0")).collect()
    assert(midRow.nonEmpty, "no hour has two distinct event times")
    val midExpr = lit(midRow(0).getTimestamp(0))
    val dir = java.nio.file.Files.createTempDirectory("graft_upd_multi_")
    def writeHalf(df: org.apache.spark.sql.DataFrame, name: String,
        modMs: Long): Unit = {
      val tmp = dir.resolve(s"stage_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Option(tmp.toFile.listFiles).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).head
      val dest = dir.resolve(s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      assert(dest.toFile.setLastModified(modMs))
    }
    // the file source processes oldest-modified first
    writeHalf(ev.filter(col("ts") <= midExpr), "half0", 1_000_000L)
    writeHalf(ev.filter(col("ts") > midExpr), "half1", 60_000_000L)
    // precondition: some hour window really does span both halves —
    // otherwise this test degenerates to two disjoint single-batch runs
    val straddle = ev
      .select(date_trunc("hour", col("ts")).as("h"),
        (col("ts") <= midExpr).as("first_half"))
      .groupBy("h").agg(countDistinct(col("first_half")).as("sides"))
      .filter(col("sides") === 2).count()
    assert(straddle > 0, "no window straddles the split — test is vacuous")
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    val compacted = graft.streaming.StreamReplay.drainUpdateToParquet(
        graft.streaming.StreamOps.tumblingCounts(stream),
        keys = Seq("window_start", "event_type"), prefix = "upd_multi")
      .select(col("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy("window_start", "event_type")
      .collect()
    val batch = graft.streaming.StreamOps.tumblingCounts(ev)
      .select(col("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy("window_start", "event_type")
      .collect()
    assert(compacted.length == batch.length,
      s"compacted ${compacted.length} rows vs batch ${batch.length} — " +
        "stale pre-update rows survived compaction or emissions were lost")
    compacted.zip(batch).foreach { case (s, b) =>
      assert(s == b, s"compacted $s != batch $b") }
  }

  test("ST7 append mode: session replay emits every real session exactly once") {
    // the graded session_stats_streamed entry: append-mode emission
    // (one row per session, on watermark close, state dropped) must
    // reproduce the batch session_window aggregate row for row — i.e.
    // the sentinel flush released ALL trailing sessions and nothing
    // was emitted twice or dropped as late
    val streamed = graft.streaming.StreamReplay
      .sessionStatsStreamed(spark, sf0001).collect()
    val batch = Tables(spark, sf0001, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))
      .orderBy("user_id", "session_start")
      .collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s == b, s"streamed session $s != batch session $b") }
    // the sentinel-appended input is materialized ONCE per corpus dir
    // and reused — a second replay must do no corpus rewrite (r3
    // advice item 4: the coalesce(1) write is off the per-call path)
    val inputPath = graft.sources.Substrate
      .built[String]("graft_session_replay_", sf0001).orNull
    assert(inputPath != null, "session replay input not cached")
    val mtimes = Option(new java.io.File(inputPath).listFiles)
      .getOrElse(Array.empty).map(f => f.getName -> f.lastModified).toMap
    val again = graft.streaming.StreamReplay
      .sessionStatsStreamed(spark, sf0001).collect()
    assert(again.sameElements(streamed))
    val after = Option(new java.io.File(inputPath).listFiles)
      .getOrElse(Array.empty).map(f => f.getName -> f.lastModified).toMap
    assert(mtimes == after,
      "second session replay rewrote its input — the materialization " +
      "must be cached per corpus dir")
  }

  test("ST1/ST5: flatMapGroupsWithState session machine ≡ batch sessionization") {
    // the graded session_stats_fmgws entry: the hand-rolled state
    // machine (gap-closed sessions emitted on observation, the held
    // last session flushed by the sentinel-fired event-time timeout)
    // must reproduce the batch session_window rollup row for row
    val fmgws = graft.streaming.StreamReplay
      .sessionStatsFmgws(spark, sf0001).collect()
    val batch = graft.operators.EventOps.sessionStats(spark, sf0001).collect()
    assert(fmgws.length == batch.length,
      s"${fmgws.length} users != ${batch.length}")
    fmgws.zip(batch).foreach { case (s, b) =>
      assert(s == b, s"fmgws $s != batch $b") }
    // the machine must have exercised BOTH emission paths: some user
    // has >1 session (a gap-closed emit) and every user's final
    // session arrived via the timeout flush (n_sessions ≥ 1)
    val multi = fmgws.count(_.getLong(1) > 1)
    assert(multi > 0, "degenerate corpus: no user has a gap-closed session")
  }

  test("streamed anomaly monitor ≡ batch; maintained cell state grows " +
      "monotonically to exactly the batch cells") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamReplay
      .hourlyAnomalyStreamed(spark, sf0001).collect().map(_.toSeq)
    val batch = graft.operators.EventOps
      .hourlyVolumeAnomaly(spark, sf0001).collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.nonEmpty, "vacuous monitor at sf0.001")
    // the state versions: totals strictly increase, the last equals
    // the batch cell frame exactly (three real maintenance rounds)
    val stateRoot = new java.io.File(
      graft.sources.Substrate.built[String]("graft_anom_in_", sf0001).get)
      .getParentFile
    val vDirs = stateRoot.listFiles
      .filter(_.getName.startsWith("graft_anom_state_"))
      .maxBy(_.lastModified).listFiles.map(_.getName)
      .filter(_.startsWith("v")).sortBy(_.stripPrefix("v").toLong)
    assert(vDirs.length == 3, s"expected 3 maintenance rounds: ${vDirs.toSeq}")
    val stateBase = stateRoot.listFiles
      .filter(_.getName.startsWith("graft_anom_state_"))
      .maxBy(_.lastModified).getAbsolutePath
    val totals = vDirs.map(v => spark.read.parquet(s"$stateBase/$v")
      .agg(sum(col("cnt"))).first().getLong(0))
    totals.sliding(2).foreach {
      case Array(a, b) => assert(a < b, s"state totals must grow: ${totals.toSeq}")
      case _ => ()
    }
    val lastCells = spark.read.parquet(s"$stateBase/${vDirs.last}")
      .collect().map(_.toSeq).toSet
    val batchCells = graft.operators.EventOps.cellsOf(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(lastCells == batchCells)
  }

  test("streamed heavy hitters ≡ batch; candidate state is a true-heavy " +
      "superset at every version; the term counter telescopes") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamReplay
      .heavyHittersStreamed(spark, sf0001).collect().map(_.toSeq)
    val batch = graft.operators.TextOps
      .heavyHittersExact(spark, sf0001).collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.nonEmpty, "vacuous monitor at sf0.001")
    // versioned candidate state: 3 real rounds; the null-marker
    // counter strictly grows to the exact corpus term count; every
    // version's candidate set unions monotonically
    val tmp = new java.io.File(
      graft.sources.Substrate.built[String]("graft_hh_in_", sf0001).get)
      .getParentFile
    val stateBase = tmp.listFiles
      .filter(_.getName.startsWith("graft_hh_state_"))
      .maxBy(_.lastModified).getAbsolutePath
    val vs = new java.io.File(stateBase).list()
      .filter(_.startsWith("v")).sortBy(_.stripPrefix("v").toLong)
    assert(vs.length == 3, s"expected 3 maintenance rounds: ${vs.toSeq}")
    val states = vs.map(v => spark.read.parquet(s"$stateBase/$v").collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("cnt"))))
    val totals = states.map(_.collect { case (null, c) => c }.sum)
    totals.sliding(2).foreach {
      case Array(a, b) => assert(a < b, s"counter must grow: ${totals.toSeq}")
      case _ => ()
    }
    val nTerms = Tables(spark, sf0001, "documents")
      .select(explode(graft.functions.Shingles.sparkToks).as("t"))
      .count()
    assert(totals.last == nTerms, "counter must land on the corpus total")
    val candSets = states.map(_.collect { case (t, _) if t != null => t }.toSet)
    candSets.sliding(2).foreach {
      case Array(a, b) => assert(a.subsetOf(b), "candidate set shrank")
      case _ => ()
    }
    // the true heavies are inside the FINAL candidate set (the
    // pigeonhole superset guarantee, on real streamed chunks)
    val heavies = batch.map(_.head.asInstanceOf[String]).toSet
    assert(heavies.subsetOf(candSets.last))
  }

  test("streamed DLQ ≡ batch split under per-file chopping: landed " +
      "good multiset identical, every poison line diverted with batch " +
      "provenance") {
    val root = graft.streaming.StreamReplay.dlqStreamRoot(spark, sf0001)
    val st = graft.operators.Formats.dlqState(spark, sf0001)
    val sGood = spark.read.parquet(s"$root/good").drop("_batch_id")
    val bGood = spark.read.parquet(st.goodDir)
    assert(sGood.count() == bGood.count())
    assert(sGood.exceptAll(bGood).isEmpty && bGood.exceptAll(sGood).isEmpty)
    // the DLQ carries exactly the three poison lines, each stamped
    // with the micro-batch that carried it
    val dlq = spark.read.parquet(s"$root/dlq").collect()
    assert(dlq.length == graft.operators.Formats.PoisonLines.length)
    assert(dlq.map(_.getString(0)).toSet ==
      graft.operators.Formats.PoisonLines.toSet)
    assert(dlq.map(_.getLong(1)).distinct.length == 1,
      "all poison lines live in one feed file -> one batch id")
  }

  test("the state-partition override replaces the knee and stays capped") {
    import graft.streaming.StreamReplay.kneeParts
    val p = spark.sparkContext.defaultParallelism
    assert(kneeParts(spark, 8, Some((p * 4).toString)) == p)
    assert(kneeParts(spark, 8, Some("1")) == 1)
    assert(kneeParts(spark, 8, None) == math.min(8, p))
    assert(kneeParts(spark, 8, Some("0")) == math.min(8, p))
    assert(kneeParts(spark, 8, Some("many")) == math.min(8, p))
  }
}
