package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory event records of a traced run, filled from public Spark
  * hooks only and attributed to query spans after the run (see
  * [[Harness]]). Nothing here runs when tracing is off. */
object Trace {
  /** Local property the client thread sets around each query; Spark
    * copies local properties into threads started under it
    * (`Tables.concurrently` builders, streaming query threads), so jobs
    * from those threads carry it too. */
  val Tag = "perfbench.exec"
  val Marker = "marker"

  final class Job(val id: Int, val startMs: Long, val stageIds: Seq[Int],
      val tag: Option[String]) {
    @volatile var endMs: Long = -1L
  }
  final case class Stage(id: Int, attempt: Int, submitMs: Long,
      completeMs: Long, numTasks: Int)
  /** Task metrics summed per stage (all attempts). */
  final class TaskSum {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var peakMem = 0L; var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L
    var spillDisk = 0L; var inBytes = 0L; var outBytes = 0L
    var overheadMs = 0L
  }
  final case class Plan(startMs: Long, func: String, analysisMs: Long,
      optimizationMs: Long, physicalMs: Long)
  final case class StreamStart(runId: String, name: String, tsMs: Long)
  final case class Batch(runId: String, batchId: Long, tsMs: Long,
      durations: Map[String, Long], inputRows: Long, stateRows: Long,
      stateCommitMs: Long)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val submitted = ConcurrentHashMap.newKeySet[Int]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val taskSums = new ConcurrentHashMap[Int, TaskSum]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val streamStarts = new ConcurrentLinkedQueue[StreamStart]()
  val batches = new ConcurrentLinkedQueue[Batch]()

  private def isoMs(ts: String): Long =
    java.time.Instant.parse(ts).toEpochMilli

  /** Registered with `SparkContext.addSparkListener`. Streaming query
    * events are `SparkListenerEvent`s and reach `onOtherEvent` from
    * every session of the context, cloned replay sessions included. */
  final class BusListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
      jobs.put(e.jobId, new Job(e.jobId, e.time, e.stageIds, tag))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      submitted.add(e.stageInfo.stageId); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
        i.numTasks))
      ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val s = taskSums.computeIfAbsent(e.stageId, _ => new TaskSum)
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
          s.shWrite += m.shuffleWriteMetrics.bytesWritten
          s.shRead += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spillDisk += m.diskBytesSpilled
          s.inBytes += m.inputMetrics.bytesRead
          s.outBytes += m.outputMetrics.bytesWritten
          s.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: StreamingQueryListener.QueryStartedEvent =>
        streamStarts.add(StreamStart(s.runId.toString, String.valueOf(s.name),
          isoMs(s.timestamp)))
        ()
      case p: StreamingQueryListener.QueryProgressEvent =>
        val pr = p.progress
        val ops = Option(pr.stateOperators).getOrElse(Array.empty)
        batches.add(Batch(pr.runId.toString, pr.batchId, isoMs(pr.timestamp),
          Option(pr.durationMs).map(_.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap).getOrElse(Map.empty),
          pr.numInputRows, ops.map(_.numRowsTotal).sum,
          ops.map(_.commitTimeMs).sum))
        ()
      case _ => ()
    }
  }

  private def plan(func: String, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis()
      else ph.values.map(_.startTimeMs).min
    plans.add(Plan(start, func, ms("analysis"), ms("optimization"),
      ms("planning")))
    ()
  }

  /** Named in `spark.sql.queryExecutionListeners`, so every session of
    * the context, `newSession()` clones included, instantiates one. */
  final class PlanListener extends QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      plan(func, qe)
    override def onFailure(func: String, qe: QueryExecution,
        e: Exception): Unit = plan(func, qe)
  }

  /** Jobs seen starting but not yet seen ending (marker excluded). */
  def openJobs: Int = jobs.values.asScala.count(_.endMs < 0)
}
