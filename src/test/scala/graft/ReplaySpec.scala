package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import graft.streaming.{Replay, StreamReplay}

/** The bounded-replay kit: how a replay fails, and what its feeds hold. */
class ReplaySpec extends SparkSpec {

  /** A three-slice feed of ten ids each, keyed by `prefix`. */
  private def idFeed(prefix: String): String =
    Replay.feed(prefix, "replay-spec") {
      (0 until 3).map(i => spark.range(i * 10L, i * 10L + 10).toDF("id"))
    }

  test("a failed batch surfaces its own exception, leaves no query " +
      "running, and a retried memoized build rebuilds") {
    val boom = new IllegalStateException("batch 1 fails")
    val failAt = new AtomicLong(1L)
    val built = new ConcurrentHashMap[String, String]()
    // the operators' once-per-JVM replay shape: a memoized build whose
    // body drives one replay to the end of its feed
    def build(): String = built.computeIfAbsent("k", { _ =>
      val root = Tables.scratchDir("graft_replayspec_fail_").getAbsolutePath
      Replay.run(Replay.read(spark, idFeed("graft_replayspec_fail_in_"), 1)
        .writeStream.foreachBatch {
          (batch: Dataset[Row], batchId: Long) =>
            if (batchId == failAt.get) throw boom
            batch.write.parquet(s"$root/b$batchId")
            ()
        }, "graft_replayspec_fail_ckpt_")
      root
    })
    val thrown = intercept[IllegalStateException](build())
    assert(thrown eq boom, s"the batch's exception must surface as thrown: $thrown")
    assert(spark.streams.active.isEmpty, "a failed replay left a query running")
    assert(built.isEmpty, "the failed build left a memo entry behind")
    failAt.set(-1L)
    val root = build()
    assert(new java.io.File(root).list().sorted.toSeq == Seq("b0", "b1", "b2"),
      "the retry must replay the whole feed into a fresh build")
    assert(spark.read.parquet(Seq("b0", "b1", "b2").map(b => s"$root/$b"): _*)
      .count() == 30)
    assert(spark.streams.active.isEmpty)

    // a feed that fails after its first slice is written is never
    // served half-written: the next call writes every slice afresh
    def halfFeed(second: => DataFrame): String =
      Replay.feed("graft_replayspec_half_in_", "replay-spec") {
        spark.range(3).toDF("id") #:: second #:: LazyList.empty
      }
    val half = intercept[IllegalStateException](halfFeed(throw boom))
    assert(half eq boom)
    assert(!Replay.feeds.containsKey(("graft_replayspec_half_in_", "replay-spec")))
    val whole = halfFeed(spark.range(3, 5).toDF("id"))
    assert(sliceFiles(whole).length == 2)
    assert(spark.read.parquet(whole).count() == 5)
  }

  test("interrupting the thread that waits on a replay stops the query") {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val failure = new AtomicReference[Throwable]()
    val feed = idFeed("graft_replayspec_block_in_")
    val waiter = new Thread(() =>
      try Replay.run(Replay.read(spark, feed, 1).writeStream.foreachBatch {
          (_: Dataset[Row], _: Long) =>
            entered.countDown()
            release.await()
            ()
        }, "graft_replayspec_block_ckpt_")
      catch { case e: Throwable => failure.set(e) })
    waiter.start()
    try {
      assert(entered.await(120, TimeUnit.SECONDS), "the replay never ran a batch")
      assert(spark.streams.active.length == 1)
      waiter.interrupt()
      waiter.join(120000L)
      assert(!waiter.isAlive, "the interrupted waiter never returned")
      assert(failure.get.isInstanceOf[InterruptedException], s"${failure.get}")
      assert(spark.streams.active.isEmpty,
        "the query kept running after its waiter was interrupted")
    } finally release.countDown()
  }

  /** Slice counts of every feed builder in the engine, by dir prefix. */
  private val feedSlices = Map(
    "graft_late_in_" -> 4, "graft_session_replay_" -> 1,
    "graft_incdedup_in_" -> 3, "graft_anom_in_" -> 3, "graft_hh_in_" -> 3,
    "graft_hsample_in_" -> 3, "graft_mor_feed_" -> 3, "graft_dsir_feed_" -> 2,
    "graft_langid_feed_" -> 2, "graft_chunk_feed_" -> 2,
    "graft_semdedup_feed_" -> 2, "graft_merge_feed_" -> 3)

  private def sliceFiles(feed: String): Seq[java.io.File] =
    new java.io.File(feed).listFiles.toSeq.sortBy(_.getName)

  test("every feed holds one file per slice, stamped in slice order") {
    StreamReplay.lateDataAudit(spark, sf0001)
    StreamReplay.sessionStatsStreamed(spark, sf0001)
    StreamReplay.incrementalDedupStreamed(spark, sf0001)
    StreamReplay.hourlyAnomalyStreamed(spark, sf0001)
    StreamReplay.heavyHittersStreamed(spark, sf0001)
    StreamReplay.hashSampleStreamed(spark, sf0001)
    operators.MergeOnRead.feedDir(spark, sf0001)
    operators.Dsir.streamedScoresDir(spark, sf0001)
    operators.LangId.streamedPredsDir(spark, sf0001)
    operators.Chunking.streamedChunksDir(spark, sf0001)
    operators.SemDedupMaintained.streamedPairsDir(spark, sf0001)
    operators.MergeInto.streamedMergedDir(spark, sf0001)
    feedSlices.foreach { case (prefix, n) =>
      val feed = Replay.feeds.get((prefix, sf0001))
      assert(feed != null, s"$prefix was not built through Replay.feed")
      val files = sliceFiles(feed)
      assert(files.map(_.getName) ==
        (0 until n).map(i => f"slice$i%03d.parquet"), s"$prefix: $files")
      val mtimes = files.map(_.lastModified)
      assert(mtimes.zip(mtimes.drop(1)).forall { case (a, b) => a < b },
        s"$prefix: mtimes not strictly increasing in slice order: $mtimes")
    }
  }

  test("a feed build leaves none of its per-slice write dirs behind") {
    val root = Tables.scratchDir("graft_replayspec_root_").getParentFile
    def writeDirs = root.listFiles.map(_.getName)
      .filter(_.startsWith("graft_feed_tmp_")).toSet
    val before = writeDirs
    assert(sliceFiles(idFeed("graft_replayspec_tmp_in_")).length == 3)
    val left = writeDirs -- before
    assert(left.isEmpty, s"feed write dirs outlived the build: $left")
  }

  test("the hash-chopped feeds hold, in file i, exactly partition i of " +
      "repartition(3, key)") {
    val docs = Tables(spark, sf0001, "documents")
    // the feeds' former shape, kept here as the reference
    val reference: Seq[(String, DataFrame, String)] = Seq(
      ("graft_incdedup_in_", docs.select(col("doc_id"), col("text"),
        col("source")).filter(operators.IncrementalDedup.isIncoming),
        "doc_id"),
      ("graft_anom_in_", Tables(spark, sf0001, "events")
        .select(col("event_id"), col("ts")), "event_id"),
      ("graft_hh_in_", docs.select(col("doc_id"), col("text")), "doc_id"),
      ("graft_hsample_in_", docs.select(col("doc_id"), col("source"),
        col("lang"), col("n_chars")), "doc_id"))
    StreamReplay.incrementalDedupStreamed(spark, sf0001)
    StreamReplay.hourlyAnomalyStreamed(spark, sf0001)
    StreamReplay.heavyHittersStreamed(spark, sf0001)
    StreamReplay.hashSampleStreamed(spark, sf0001)
    def bag(rows: Array[Row]): Map[Seq[Any], Int] =
      rows.toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }
    reference.foreach { case (prefix, df, key) =>
      val parts = df.repartition(3, col(key))
        .withColumn("_part", spark_partition_id()).collect()
        .groupBy(_.getInt(df.columns.length))
        .map { case (p, rs) => p -> bag(rs.map(r =>
          Row.fromSeq(r.toSeq.dropRight(1)))) }
      val files = sliceFiles(Replay.feeds.get((prefix, sf0001)))
      assert(files.length == 3, s"$prefix: $files")
      files.zipWithIndex.foreach { case (f, i) =>
        val got = bag(spark.read.parquet(f.getAbsolutePath)
          .select(df.columns.toIndexedSeq.map(col): _*).collect())
        assert(got.nonEmpty, s"$prefix slice $i is empty")
        assert(got == parts.getOrElse(i, Map.empty),
          s"$prefix: file $i differs from repartition partition $i")
      }
    }
  }
}
