package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryException, Trigger}
import graft.Tables

/** The bounded-replay kit every AvailableNow stream goes through: build
  * a chopped feed ([[feed]]), stream it back ([[read]]), drive the query
  * to the end of its input ([[run]]) and find what it wrote: its last
  * versioned state ([[latest]]) or its per-batch dirs ([[batchDirs]]).
  * A bounded replay must give the batch answer however its feed is
  * chopped ("One SQL to Rule Them All", SIGMOD 2019); with one
  * feed builder and one drive loop, a harness that stops a replay after
  * micro-batch k and restarts it has one place to hook in. Every
  * directory is a [[graft.Tables.scratchDir]]: one scratch root, one
  * free-space guard, one shutdown hook. */
object Replay {
  /** Built feeds per (dir prefix, corpus dir). A build that throws
    * records nothing, so the next call rebuilds from scratch. */
  private[graft] val feeds = new ConcurrentHashMap[(String, String), String]()

  /** The feed `prefix` over corpus `dir`, built once per JVM: slice i
    * becomes ONE parquet file stamped i minutes past a fixed epoch
    * ([[graft.Tables.writeFeedFile]]), so the file source replays the
    * slices in slice order whatever the filesystem's clock did. */
  def feed(prefix: String, dir: String)(slices: => Seq[DataFrame]): String =
    feeds.computeIfAbsent((prefix, dir), { _ =>
      val out = Tables.scratchDir(prefix)
      slices.zipWithIndex.foreach { case (df, i) =>
        Tables.writeFeedFile(df, out, f"slice$i%03d.parquet", i)
      }
      out.getAbsolutePath
    })

  /** The parquet files under `path` as a file stream, `filesPerTrigger`
    * files per micro-batch (by default all of them in one). File
    * sources need an explicit schema; it comes from the per-path memo
    * in [[graft.Tables]], so a replay opens no footer twice. */
  def read(ss: SparkSession, path: String,
      filesPerTrigger: Int = Int.MaxValue): DataFrame =
    ss.readStream.schema(Tables.schemaOf(ss, path))
      .option("maxFilesPerTrigger", filesPerTrigger.toLong)
      .parquet(path)

  /** Start `w` with AvailableNow, wait until it has drained its input
    * and stop it — also when the wait fails or is interrupted, so no
    * query outlives its caller. A failed query rethrows what its batch
    * threw, unwrapped from Spark's streaming wrappers. The stopped
    * query is returned for its `recentProgress`. */
  def run(w: DataStreamWriter[Row]): StreamingQuery = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination()
    catch { case e: StreamingQueryException => throw origin(e) }
    finally q.stop()
    q
  }

  /** [[run]] with a fresh checkpoint directory named `ckptPrefix`. */
  def run(w: DataStreamWriter[Row], ckptPrefix: String): StreamingQuery =
    run(w.option("checkpointLocation",
      Tables.scratchDir(ckptPrefix).getAbsolutePath))

  /** The exception a failed batch threw: Spark wraps it in a
    * StreamingQueryException, and a `foreachBatch` failure once more. */
  private def origin(e: Throwable): Throwable = e match {
    case _: StreamingQueryException if e.getCause != null =>
      origin(e.getCause)
    case s: org.apache.spark.SparkThrowable
        if s.getCondition == "FOREACH_BATCH_USER_FUNCTION_ERROR" &&
          e.getCause != null => origin(e.getCause)
    case other => other
  }

  /** Every per-batch directory under `root` (a `foreachBatch` replay's
    * `b<N>` overwrite dirs plus any base generation beside them), as
    * explicit paths in name order. Read these rather than a glob over
    * `root`: a glob path makes Spark's file-sink metadata probe log a
    * WARN with a full stack trace on every read. */
  def batchDirs(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getAbsolutePath).sorted.toSeq

  /** The highest-numbered `v<N>` directory under `root`: the last state
    * version a versioned `foreachBatch` replay wrote. */
  def latest(root: String): String = {
    val n = Option(new java.io.File(root).list()).getOrElse(Array.empty)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
    if (n.isEmpty)
      throw new IllegalStateException(s"no v<N> state version under $root")
    s"$root/v${n.max}"
  }
}
