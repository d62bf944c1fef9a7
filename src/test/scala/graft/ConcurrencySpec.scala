package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Concurrent query execution on one shared session — the registry and
  * the custom-function registration must be thread-safe (a real driver
  * serves many sessions/queries at once). */
class ConcurrencySpec extends SparkSpec {

  test("nested cache builds race safely: clusters (which builds pairs) vs pairs") {
    // neardupClusters' ResultCache build CALLS neardupPairs' ResultCache
    // build while holding its own key lock — concurrent direct pair
    // lookups must neither deadlock (lock order is acyclic: clusters →
    // pairs, never back) nor double-build. Also covers the IVF
    // assignment shared by three queries.
    graft.sources.ResultCache.clear()
    val work: Seq[() => Long] = Seq(
      () => operators.Similarity.neardupClusters(spark, sf0001).count(),
      () => operators.Similarity.neardupPairs(spark, sf0001).count(),
      () => operators.Similarity.embeddingClusters(spark, sf0001).count(),
      () => operators.Similarity.embeddingNeardup(spark, sf0001).count(),
      () => operators.Similarity.cosineTopkIvf(spark, sf0001).count(),
      () => operators.Similarity.cosineTopkIvfProbed(spark, sf0001).count(),
      // r4 additions to the same shared-cache web: PQ codes (consumed
      // by two queries), IVFADC (codes + ivfAssign), cluster-keyed
      // split (consumes the cluster frame the first worker builds)
      () => operators.Similarity.pqCodes(spark, sf0001).count(),
      () => operators.Similarity.ivfPqTopk(spark, sf0001).count(),
      () => operators.Similarity.splitStats(spark, sf0001).count(),
      () => operators.Similarity.kmeansConvergedAssign(spark, sf0001).count(),
      // r5 additions: the learned-PQ chain (codebook ← codes ← seed
      // codes — three stacked cache keys), the graded convergence
      // loop, and the once-per-JVM table writers (computeIfAbsent
      // must serialize the bucketed/partitioned materializations)
      () => operators.Similarity.pqCodesLearned(spark, sf0001).count(),
      () => operators.Similarity.pqTopkLearned(spark, sf0001).count(),
      () => operators.Similarity.kmeansConvergedRounds(spark, sf0001).count(),
      () => Tables.revenueBucketed(spark, sf0001).count(),
      () => Tables.ordersPrunedPriority(spark, sf0001).count())
    val futures = work.map(f => Future(f()))
    val counts = Await.result(Future.sequence(futures), 5.minutes)
    assert(counts.forall(_ > 0))
    // the serial re-run returns identical counts (cache hits, no rebuild
    // corruption)
    assert(work.map(_()) == counts)
  }

  test("8 graded queries execute concurrently on one session") {
    val names = Seq("segment_stats", "cosine_topk", "pricing_summary",
      "revenue_by_nation", "topk_orders", "cosine_topk_ivf",
      "token_stats", "json_props")
    val futures = names.map { n =>
      Future(n -> SparkEntry.queries(n)(spark, sf0001).count())
    }
    val counts = Await.result(Future.sequence(futures), 5.minutes).toMap
    assert(counts.values.forall(_ > 0))
    // re-run serially: same counts (no cross-query interference)
    names.foreach { n =>
      assert(SparkEntry.queries(n)(spark, sf0001).count() == counts(n))
    }
  }

  test("a failing concurrently build cancels and joins its siblings, then rethrows") {
    import spark.implicits._
    val sc = spark.sparkContext
    val boom = new IllegalStateException("substrate build failed")
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Tables.concurrently(spark)(
        () => {
          // long enough that only a cancel ends it inside the bound below
          spark.range(0, 4, 1, 4).map { x => Thread.sleep(120000L); x.longValue }
            .count()
          spark.emptyDataFrame
        },
        () => {
          val deadline = System.nanoTime() + 60L * 1000000000L
          while (sc.statusTracker.getActiveJobIds.isEmpty &&
              System.nanoTime() < deadline) Thread.sleep(50)
          throw boom
        })
    }
    assert(thrown eq boom, "the first failure must be rethrown as thrown")
    assert((System.nanoTime() - t0) / 1e9 < 100, "the sibling ran to its end")
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    import scala.jdk.CollectionConverters._
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-substrate-"))
    assert(alive.isEmpty, s"runner threads still alive: $alive")
  }
}
