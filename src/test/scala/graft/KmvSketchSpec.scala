package graft

import java.security.MessageDigest
import org.apache.spark.sql.functions._
import graft.operators.KmvOps
import graft.plans.Kmv

/** KMV sketch (A6 set-operation tier): estimator identities, the
  * merge/rollup contract, partition invariance, and the pairwise set
  * algebra — each against an independent JVM recomputation straight
  * from raw rows (not the Spark aggregate path). */
class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  private def rawHashes(eventType: String): Set[Long] = {
    val md = MessageDigest.getInstance("MD5")
    Tables(spark, sf0001, "events")
      .filter(col("user_id").isNotNull && col("event_type") === eventType)
      .select(col("user_id").cast("string")).distinct()
      .as[String].collect()
      .map(s => Kmv.u32(md, s.getBytes("UTF-8"))).toSet
  }

  private def expectedEstimate(hashes: Set[Long]): (Long, Long, Long) = {
    val sorted = hashes.toSeq.sorted.take(Kmv.k)
    if (sorted.size < Kmv.k) (sorted.size.toLong, sorted.lastOption.getOrElse(0L), sorted.size.toLong)
    else ((Kmv.k - 1).toLong * (1L << 32) / sorted.last, sorted.last, Kmv.k.toLong)
  }

  test("kmv_sketch matches an independent JVM recomputation per type") {
    val got = KmvOps.kmvUsersByType(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.nonEmpty)
    got.foreach { case (t, triple) =>
      assert(triple == expectedEstimate(rawHashes(t)), s"type $t")
    }
  }

  test("below k distinct the estimate is EXACT; at k it is within 25% at sf0.001") {
    val exact = Tables(spark, sf0001, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    KmvOps.kmvUsersByType(spark, sf0001).collect().foreach { r =>
      val (t, est, nKept) = (r.getString(0), r.getLong(1), r.getLong(3))
      if (nKept < Kmv.k) assert(est == exact(t), s"$t below-k must be exact")
      else {
        val rel = math.abs(est - exact(t)).toDouble / exact(t)
        assert(rel < 0.25, s"$t: est=$est exact=${exact(t)} rel=$rel")
      }
    }
  }

  test("kmv_merge(kmv_state(x)) == kmv_sketch(x), and the merge is partition-invariant") {
    def direct(parts: Int) =
      Tables(spark, sf0001, "events").filter(col("user_id").isNotNull)
        .repartition(parts)
        .groupBy(col("event_type"))
        .agg(expr("kmv_sketch(CAST(user_id AS STRING))").as("o"))
        .select(col("event_type"), col("o.est"), col("o.kth"), col("o.n_kept"))
        .orderBy("event_type").collect()
    val viaState =
      Tables(spark, sf0001, "events").filter(col("user_id").isNotNull)
        .withColumn("cell", pmod(col("user_id"), lit(7)))
        .groupBy(col("event_type"), col("cell"))
        .agg(expr("kmv_state(CAST(user_id AS STRING))").as("sk"))
        .groupBy(col("event_type"))
        .agg(expr("kmv_merge(sk)").as("o"))
        .select(col("event_type"), col("o.est"), col("o.kth"), col("o.n_kept"))
        .orderBy("event_type").collect()
    assert(direct(1).sameElements(direct(13)))
    assert(direct(1).sameElements(viaState))
  }

  test("kmv_ops self-overlap: jaccard = 1e6, intersection estimate = union estimate") {
    val r = Tables(spark, sf0001, "events").filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(expr("kmv_state(CAST(user_id AS STRING))").as("sk"))
      .withColumn("o", expr("kmv_ops(sk, sk)"))
      .select(col("o.union_est"), col("o.n_common"), col("o.k_used"),
        col("o.jaccard_ppm"), col("o.inter_est"))
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(1) == row.getLong(2), "self-overlap: every union value is common")
      assert(row.getLong(3) == 1000000L)
      assert(row.getLong(4) == row.getLong(0))
    }
  }

  test("kmv_ops pairwise algebra matches the JVM set recomputation") {
    val got = KmvOps.kmvTypeOverlap(spark, sf0001).collect()
    assert(got.nonEmpty)
    got.foreach { row =>
      val (ta, tb) = (row.getString(0), row.getString(1))
      val sa = rawHashes(ta).toSeq.sorted.take(Kmv.k).toSet
      val sb = rawHashes(tb).toSeq.sorted.take(Kmv.k).toSet
      val s = (sa ++ sb).toSeq.sorted.take(Kmv.k)
      val kUsed = s.size.toLong
      val unionEst =
        if (kUsed < Kmv.k) kUsed
        else (Kmv.k - 1).toLong * (1L << 32) / s.last
      val nCommon = s.count(v => sa(v) && sb(v)).toLong
      assert(row.getLong(2) == unionEst, s"$ta/$tb union_est")
      assert(row.getLong(3) == nCommon, s"$ta/$tb n_common")
      assert(row.getLong(4) == kUsed, s"$ta/$tb k_used")
      assert(row.getLong(5) == 1000000L * nCommon / kUsed)
      assert(row.getLong(6) == nCommon * unionEst / kUsed)
    }
  }

  test("erasure = rebuild: sketches are not subtractable — an erased hash " +
      "sits inside a stored sketch, and the rebuilt sketch differs") {
    val md = MessageDigest.getInstance("MD5")
    def hex1(id: String): String =
      md.digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(1)
    // survivors-only JVM recompute per type
    def survivorHashes(t: String): Set[Long] =
      Tables(spark, sf0001, "events")
        .filter(col("user_id").isNotNull && col("event_type") === t)
        .select(col("user_id").cast("string")).distinct()
        .as[String](org.apache.spark.sql.Encoders.STRING).collect()
        .filter(hex1(_) != "a")
        .map(s => Kmv.u32(md, s.getBytes("UTF-8"))).toSet
    val got = KmvOps.kmvUsersErasedRebuild(spark, sf0001)
      .collect().map(r => r.getString(0)
        -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.nonEmpty)
    got.foreach { case (t, triple) =>
      assert(triple == expectedEstimate(survivorHashes(t)), s"type $t")
    }
    // non-subtractability is live: some type's ORIGINAL stored sketch
    // contains an erased user's hash, and its rebuilt triple differs
    val orig = KmvOps.kmvUsersByType(spark, sf0001)
      .collect().map(r => r.getString(0)
        -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val affected = orig.keys.filter { t =>
      val stored = rawHashes(t).toSeq.sorted.take(Kmv.k).toSet
      val erasedHashes = rawHashes(t) -- survivorHashes(t)
      erasedHashes.exists(stored.contains)
    }
    assert(affected.nonEmpty, "no erased hash inside any stored sketch — vacuous")
    assert(affected.exists(t => got(t) != orig(t)),
      "rebuild changed nothing — the erasure pin is vacuous")
  }

  test("overlap estimates bracket the exact pairwise overlap at sf0.001") {
    // the ratio estimator is unbiased, not exact: assert the Jaccard
    // estimate lands within ±0.2 absolute of the true Jaccard (k=256
    // gives ~6% relative error on these set sizes)
    val exact = {
      val e = Tables(spark, sf0001, "events")
        .filter(col("user_id").isNotNull)
        .select(col("event_type").as("t"), col("user_id").as("u")).distinct()
      e.as("a").join(e.as("b"),
          col("a.u") === col("b.u") && col("a.t") < col("b.t"))
        .groupBy(col("a.t").as("ta"), col("b.t").as("tb"))
        .agg(count(lit(1)).as("n_inter"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    val sizes = Tables(spark, sf0001, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    KmvOps.kmvTypeOverlap(spark, sf0001).collect().foreach { row =>
      val (ta, tb) = (row.getString(0), row.getString(1))
      val inter = exact.getOrElse((ta, tb), 0L).toDouble
      val union = sizes(ta) + sizes(tb) - inter
      val trueJac = if (union == 0) 0.0 else inter / union
      val estJac = row.getLong(5).toDouble / 1e6
      assert(math.abs(estJac - trueJac) < 0.2,
        s"$ta/$tb: estJac=$estJac trueJac=$trueJac")
    }
  }
}
