package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** Attributes a traced run's [[Trace]] records to its query spans,
  * sums the per-layer metrics and writes the spans as JSONL.
  *
  * A job belongs to the query whose [[Trace.Tag]] it carries, else to
  * the query whose time window holds its start; stages and tasks follow
  * their job. Plans and micro-batches carry no local properties, so
  * they are attributed by time window alone. */
object Attribution {
  /** Every per-layer metric, in report order. Workload values are sums
    * over both passes of every round, except the two peaks (maxima) and
    * `warm_misses` (pass-2 ResultCache misses, which should be 0). */
  val LayerNames: Seq[String] = Seq(
    "operators.build_s", "operators.force_s", "operators.driver_only_s",
    "plans.actions", "plans.analysis_s", "plans.optimization_s",
    "plans.physical_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.stages_skipped",
    "scheduler.tasks", "scheduler.job_s", "scheduler.task_overhead_s",
    "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "executor.peak_mem_mb",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s",
    "shuffle.spill_disk_mb",
    "sources.rc_misses", "sources.substrate_builds", "sources.substrate_mb",
    "sources.cached_mb", "sources.warm_misses",
    "tables.scan_mb", "tables.write_mb", "tables.scratch_dirs_shm",
    "tables.scratch_dirs_tmp",
    "streaming.queries", "streaming.batches", "streaming.trigger_s",
    "streaming.add_batch_s", "streaming.planning_s", "streaming.wal_commit_s",
    "streaming.input_rows", "streaming.state_rows",
    "streaming.state_commit_s")
  private val Peaks = Set("executor.peak_mem_mb", "sources.cached_mb")

  final case class Out(layers: Map[String, Double], drain: Map[String, Any])

  private def mb(b: Long): Double = b / (1024.0 * 1024.0)

  /** Waits, bounded, until the listener bus has delivered everything
    * posted before a marker job's end and every job seen starting has
    * been seen ending. */
  private def drain(sc: SparkContext): Map[String, Any] = {
    val t0 = System.currentTimeMillis()
    sc.setLocalProperty(Trace.Tag, Trace.Marker)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Trace.Tag, null)
    def markerSeen = Trace.jobs.values.asScala
      .exists(j => j.tag.contains(Trace.Marker) && j.endMs >= 0)
    val deadline = t0 + 10000
    while ((!markerSeen || Trace.openJobs > 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
    Map("waited_ms" -> (System.currentTimeMillis() - t0),
      "marker_seen" -> markerSeen, "open_jobs" -> Trace.openJobs)
  }

  def apply(sc: SparkContext, execs: Seq[Harness.Exec], workload: String,
      traceOut: Option[String]): Out = {
    val drained = drain(sc)
    val byIdx = execs.map(e => e.idx -> e).toMap
    def window(ms: Long): Option[Harness.Exec] =
      execs.find(e => ms >= e.startMs && ms <= e.endMs)
    val jobExec: Map[Int, (Harness.Exec, String)] =
      Trace.jobs.values.asScala.toSeq.flatMap { j =>
        j.tag match {
          case Some(t) => t.toIntOption.flatMap(byIdx.get)
            .map(e => j.id -> (e, "tag"))
          case None => window(j.startMs).map(e => j.id -> (e, "window"))
        }
      }.toMap
    val stats = execs.map(e =>
      e.idx -> mutable.LinkedHashMap(LayerNames.map(_ -> 0.0): _*)).toMap
    def add(e: Harness.Exec, k: String, v: Double): Unit =
      stats(e.idx)(k) = if (Peaks(k)) math.max(stats(e.idx)(k), v)
        else stats(e.idx)(k) + v
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]

    val jobsOf = jobExec.toSeq.groupBy(_._2._1.idx)
    for ((jid, (e, by)) <- jobExec; j = Trace.jobs.get(jid)) {
      val end = if (j.endMs >= 0) j.endMs else e.endMs
      add(e, "scheduler.jobs", 1)
      add(e, "scheduler.job_s", (end - j.startMs) / 1000.0)
      add(e, "scheduler.stages_skipped",
        j.stageIds.count(s => !Trace.submitted.contains(s)))
      spans += Map("span" -> "job", "id" -> s"j$jid", "parent" -> s"q${e.idx}",
        "start_ms" -> j.startMs, "end_ms" -> end, "by" -> by,
        "stages" -> j.stageIds)
    }
    for (s <- Trace.stages.asScala; jid = Trace.stageJob.get(s.id)
         if jobExec.contains(jid)) {
      val e = jobExec(jid)._1
      add(e, "scheduler.stages", 1)
      val t = Option(Trace.taskSums.get(s.id))
      spans += Map("span" -> "stage", "id" -> s"s${s.id}.${s.attempt}",
        "parent" -> s"j$jid", "start_ms" -> s.submitMs,
        "end_ms" -> s.completeMs, "tasks" -> s.numTasks,
        "run_s" -> t.map(_.runMs / 1000.0), "cpu_s" -> t.map(_.cpuNs / 1e9))
    }
    for ((sid, t) <- Trace.taskSums.asScala; jid = Trace.stageJob.get(sid)
         if jobExec.contains(jid)) {
      val e = jobExec(jid)._1
      add(e, "scheduler.tasks", t.tasks)
      add(e, "scheduler.task_overhead_s", t.overheadMs / 1000.0)
      add(e, "executor.run_s", t.runMs / 1000.0)
      add(e, "executor.cpu_s", t.cpuNs / 1e9)
      add(e, "executor.gc_s", t.gcMs / 1000.0)
      add(e, "executor.peak_mem_mb", mb(t.peakMem))
      add(e, "shuffle.write_mb", mb(t.shWrite))
      add(e, "shuffle.read_mb", mb(t.shRead))
      add(e, "shuffle.fetch_wait_s", t.fetchWaitMs / 1000.0)
      add(e, "shuffle.spill_disk_mb", mb(t.spillDisk))
      add(e, "tables.scan_mb", mb(t.inBytes))
      add(e, "tables.write_mb", mb(t.outBytes))
    }
    for (p <- Trace.plans.asScala; e <- window(p.startMs)) {
      add(e, "plans.actions", 1)
      add(e, "plans.analysis_s", p.analysisMs / 1000.0)
      add(e, "plans.optimization_s", p.optimizationMs / 1000.0)
      add(e, "plans.physical_s", p.physicalMs / 1000.0)
      spans += Map("span" -> "plan", "parent" -> s"q${e.idx}",
        "start_ms" -> p.startMs, "func" -> p.func,
        "analysis_ms" -> p.analysisMs, "optimization_ms" -> p.optimizationMs,
        "physical_ms" -> p.physicalMs)
    }
    for (s <- Trace.streamStarts.asScala; e <- window(s.tsMs))
      add(e, "streaming.queries", 1)
    val lastState = mutable.Map.empty[(Int, String), Trace.Batch]
    for (b <- Trace.batches.asScala; e <- window(b.tsMs)) {
      def s(k: String) = b.durations.getOrElse(k, 0L) / 1000.0
      add(e, "streaming.batches", 1)
      add(e, "streaming.trigger_s", s("triggerExecution"))
      add(e, "streaming.add_batch_s", s("addBatch"))
      add(e, "streaming.planning_s", s("queryPlanning"))
      add(e, "streaming.wal_commit_s", s("walCommit") + s("commitOffsets"))
      add(e, "streaming.input_rows", b.inputRows.toDouble)
      add(e, "streaming.state_commit_s", b.stateCommitMs / 1000.0)
      val k = (e.idx, b.runId)
      if (lastState.get(k).forall(_.batchId < b.batchId)) lastState(k) = b
      spans += Map("span" -> "batch", "parent" -> s"q${e.idx}",
        "run_id" -> b.runId, "batch_id" -> b.batchId, "start_ms" -> b.tsMs,
        "end_ms" -> (b.tsMs + b.durations.getOrElse("triggerExecution", 0L)),
        "duration_ms" -> b.durations, "input_rows" -> b.inputRows,
        "state_rows" -> b.stateRows)
    }
    for (((idx, _), b) <- lastState)
      add(byIdx(idx), "streaming.state_rows", b.stateRows.toDouble)

    for (e <- execs) {
      // driver-only time: the query span's self time, i.e. wall time
      // that no job of this query covers
      val ivs = jobsOf.getOrElse(e.idx, Nil).map { case (jid, _) =>
        val j = Trace.jobs.get(jid)
        (math.max(j.startMs, e.startMs),
          math.min(if (j.endMs >= 0) j.endMs else e.endMs, e.endMs))
      }.filter(i => i._2 > i._1).sortBy(_._1)
      var covered = 0L; var reach = e.startMs
      for ((s, t) <- ivs if t > reach) {
        covered += t - math.max(s, reach); reach = t
      }
      add(e, "operators.build_s", e.buildS)
      add(e, "operators.force_s", e.forceS)
      add(e, "operators.driver_only_s",
        math.max(0.0, e.wallS - covered / 1000.0))
      add(e, "sources.rc_misses", e.rcMisses.toDouble)
      if (e.pass == 2) add(e, "sources.warm_misses", e.rcMisses.toDouble)
      add(e, "sources.substrate_builds", e.newDirs.size)
      add(e, "sources.substrate_mb", mb(e.newDirs.map(_._3).sum))
      add(e, "sources.cached_mb", e.cachedMb)
      add(e, "tables.scratch_dirs_shm", e.newDirs.count(_._1 == "shm"))
      add(e, "tables.scratch_dirs_tmp", e.newDirs.count(_._1 == "tmp"))
      spans += Map("span" -> "build", "parent" -> s"q${e.idx}",
        "start_ms" -> e.startMs, "end_ms" -> e.buildEndMs)
      spans += Map("span" -> "force", "parent" -> s"q${e.idx}",
        "start_ms" -> e.buildEndMs, "end_ms" -> e.endMs)
    }
    val querySpans = execs.map { e =>
      Map[String, Any]("span" -> "query", "id" -> s"q${e.idx}",
        "workload" -> workload, "round" -> e.round, "pass" -> e.pass,
        "name" -> e.name,
        "start_ms" -> e.startMs, "end_ms" -> e.endMs, "wall_s" -> e.wallS,
        "cpu_s" -> e.cpuS, "ok" -> e.error.isEmpty,
        "fingerprint" -> e.fingerprint, "error" -> e.error,
        "new_dirs" -> e.newDirs.map(d => Map("root" -> d._1, "dir" -> d._2,
          "mb" -> mb(d._3))),
        "metrics" -> stats(e.idx))
    }
    traceOut.foreach { p =>
      val lines = (querySpans ++ spans).map(Json(_))
      Files.write(Paths.get(p), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    val totals = LayerNames.map { k =>
      val vs = execs.map(e => stats(e.idx)(k))
      k -> (if (Peaks(k)) (0.0 +: vs).max else vs.sum)
    }.toMap
    Out(totals, drained ++ Map(
      "unattributed_jobs" -> Trace.jobs.values.asScala.count(j =>
        !jobExec.contains(j.id) &&
          !j.tag.exists(t => t == Trace.Marker || t == "warmup"))))
  }
}
