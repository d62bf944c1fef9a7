package graft

import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Similarity
import graft.plans.{Extensions, MetadataCount}
import graft.streaming.StreamReplay

/** The per-session installer (plans/Extensions): what one `install`
  * puts into a session, that it is idempotent under repetition and
  * concurrency, and that every session the library derives — replay,
  * loop and foreachBatch sessions — carries the whole table, whatever
  * ran in the JVM before. Fresh parents come from a raw `newSession()`,
  * which no installer has touched. */
class ExtensionsSpec extends SparkSpec {

  private def missingFunctions(s: SparkSession): Seq[String] =
    Extensions.functions.map(_.name).filterNot(n =>
      s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))

  private def copiesOf(s: SparkSession): Seq[Int] =
    Extensions.rules.map(r => s.experimental.extraOptimizations.count(_ == r)) ++
      Extensions.strategies.map(x => s.experimental.extraStrategies.count(_ == x))

  test("install registers the whole table once; a second install changes nothing") {
    val ss = spark.newSession()
    assert(missingFunctions(ss).size == Extensions.functions.size)
    Extensions.install(ss)
    val reg = ss.sessionState.functionRegistry
    Extensions.functions.foreach { f =>
      val info = reg.lookupFunction(FunctionIdentifier(f.name))
      assert(info.exists(_.getClassName == f.cls.getName),
        s"${f.name} resolves to ${info.map(_.getClassName)}")
    }
    assert(copiesOf(ss).forall(_ == 1))
    val functions = reg.listFunction().toSet
    val rules = ss.experimental.extraOptimizations
    val strategies = ss.experimental.extraStrategies
    Extensions.install(ss)
    assert(reg.listFunction().toSet == functions)
    assert(ss.experimental.extraOptimizations == rules)
    assert(ss.experimental.extraStrategies == strategies)
  }

  test("eight threads installing into one fresh session leave each rule once") {
    val ss = spark.newSession()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 8).map { _ =>
      val t = new Thread(() => { gate.await(); Extensions.install(ss) })
      t.start()
      t
    }
    gate.countDown()
    threads.foreach(_.join())
    assert(copiesOf(ss).forall(_ == 1), copiesOf(ss).toString)
    assert(missingFunctions(ss).isEmpty)
  }

  test("replay, loop and foreachBatch sessions resolve every function in the table") {
    val fresh = spark.newSession()
    val replay = StreamReplay.replaySessionP(fresh, StreamReplay.LightReplayParts)
    assert(missingFunctions(replay).isEmpty)
    assert(copiesOf(replay).forall(_ == 1))
    val loop = Similarity.loopSession(fresh)
    assert(missingFunctions(loop).isEmpty)
    assert(copiesOf(loop).forall(_ == 1))

    val in = Files.createTempDirectory("graft_ext_feed_").toString
    val ckpt = Files.createTempDirectory("graft_ext_ckpt_").toString
    replay.range(10).toDF("x").coalesce(1).write.mode("overwrite").parquet(in)
    val seen = mutable.ArrayBuffer.empty[(SparkSession, Seq[String])]
    val q = replay.readStream.schema("x LONG").parquet(in).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        seen.synchronized { seen += (s -> missingFunctions(s)) }
        // and a table function really plans there
        assert(batch.selectExpr("cosine_sim(array(1f), array(1f)) AS c")
          .head().getDouble(0) == 1.0)
        ()
      }
      .start()
    q.awaitTermination()
    assert(seen.size == 1)
    val (batchSession, missing) = seen.head
    assert(batchSession ne replay, "foreachBatch should run in a clone")
    assert(missing.isEmpty, s"missing in the foreachBatch session: $missing")
  }

  test("a bare count(*) in a freshly derived session is footer-served") {
    val fresh = spark.newSession()
    val ss = Similarity.loopSession(fresh)
    val df = ss.read.parquet(s"$sf0001/orders.parquet").groupBy().count()
    assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      df.queryExecution.optimizedPlan.treeString)
    // the raw parent has no rule, so its count really scans
    assert(!fresh.experimental.extraOptimizations.contains(MetadataCount))
    val scanned = fresh.read.parquet(s"$sf0001/orders.parquet").count()
    assert(df.head().getLong(0) == scanned)
  }
}
