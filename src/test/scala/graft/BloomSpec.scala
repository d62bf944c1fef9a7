package graft

import org.apache.spark.sql.functions._
import graft.operators.Membership

/** BloomSketch aggregate + bloom_prefilter membership query. */
class BloomSpec extends SparkSpec {

  test("bloom_prefilter: zero false negatives, claimed superset of members") {
    val rows = Membership.bloomPrefilter(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(5) == 0L, s"false negatives in $r")
      assert(r.getLong(3) >= r.getLong(2), s"claimed < members in $r")
      assert(r.getLong(3) == r.getLong(2) + r.getLong(4), "claimed = members + false pos")
    }
  }

  test("bloom_sketch: merge across partitions equals single-partition build") {
    import spark.implicits._
    val keys = (1 to 500).map(_.toString).toDF("k")
    val many = keys.repartition(8)
      .agg(expr("bloom_sketch(k)")).collect()(0).getSeq[Long](0)
    val one = keys.coalesce(1)
      .agg(expr("bloom_sketch(k)")).collect()(0).getSeq[Long](0)
    assert(many == one, "OR-merge must be partition-invariant")
    assert(many.exists(_ != 0L))
  }

  test("bloom_sketch: membership claims match a scala reference bloom") {
    import spark.implicits._
    val inserted = (1 to 200).map(i => s"key$i")
    val bits = inserted.toDF("k").agg(expr("bloom_sketch(k)"))
      .collect()(0).getSeq[Long](0).toArray
    def pos(i: Int, key: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(s"$i:$key".getBytes("UTF-8"))
      ((d(0) & 0xff) << 8) | (d(1) & 0xff)
    }
    def claimed(key: String): Boolean = (0 until 4).forall { i =>
      val p = pos(i, key)
      (bits(p >> 6) & (1L << (p & 63))) != 0
    }
    // every inserted key must be claimed
    assert(inserted.forall(claimed))
    // absent keys: overwhelmingly not claimed at this load factor
    val absent = (1 to 1000).map(i => s"other$i")
    val fp = absent.count(claimed)
    assert(fp < 10, s"implausible false-positive count $fp")
  }
}
