package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.plans.RBitmap

/** Exact bitmap distinct aggregate (BitmapSketch): algebra properties
  * (canonical serialization, partition/merge-order invariance, exact
  * set semantics incl. negatives and container boundaries), dense
  * promotion, and the Spark-side aggregate/window paths. (Raw Gen
  * sampling with fixed seeds — the ComponentsPropSpec idiom.) */
class BitmapSpec extends SparkSpec {

  private def build(vs: Seq[Long]): RBitmap.Buf = {
    val b = RBitmap.empty
    vs.foreach(RBitmap.add(b, _))
    b
  }

  private def samples[T](g: Gen[T], k: Int): Seq[T] =
    (0 until k).flatMap(i => g.apply(Gen.Parameters.default, Seed(11L + i)))

  test("cardinality and blob are exact + canonical for arbitrary longs") {
    val gen = Gen.listOf(Gen.oneOf(
      Gen.chooseNum(-200000L, 200000L), // spans container 0 boundaries + negatives
      Gen.chooseNum(Long.MinValue, Long.MaxValue)))
    samples(gen, 40).foreach { vs =>
      val buf = build(vs)
      assert(RBitmap.cardinality(buf) == vs.toSet.size)
      // canonical: any insertion order / duplication yields the same bytes
      val again = build(scala.util.Random.shuffle(vs ++ vs))
      assert(java.util.Arrays.equals(RBitmap.serialize(buf),
        RBitmap.serialize(again)))
      // round-trip
      val rt = RBitmap.deserialize(RBitmap.serialize(buf))
      assert(RBitmap.cardinality(rt) == vs.toSet.size)
    }
  }

  test("merge is order-invariant across arbitrary partitionings") {
    val gen = for {
      vs <- Gen.listOf(Gen.chooseNum(-100000L, 100000L))
      parts <- Gen.chooseNum(1, 7)
    } yield (vs, parts)
    samples(gen, 40).foreach { case (vs, parts) =>
      val chunks = vs.grouped(math.max(1, vs.size / parts + 1)).toList
      val merged = chunks.map(build)
        .foldLeft(RBitmap.empty)(RBitmap.mergeInto)
      assert(RBitmap.cardinality(merged) == vs.toSet.size)
      assert(java.util.Arrays.equals(RBitmap.serialize(merged),
        RBitmap.serialize(build(vs))))
    }
  }

  test("dense promotion: > 4096 distinct in one container, exact and stable") {
    val vs = (0L until 6000L) ++ (0L until 6000L) // one container, dups
    val buf = build(vs)
    assert(RBitmap.cardinality(buf) == 6000)
    val ser = RBitmap.serialize(buf)
    // dense container: 4 + (8+1+4) + 1024*8 bytes
    assert(ser.length == 4 + 13 + 8192, s"expected dense form, got ${ser.length} B")
    assert(RBitmap.cardinality(RBitmap.deserialize(ser)) == 6000)
    // sparse+dense merge stays exact
    val sparse = build(Seq(2L, 70000L))
    val m = RBitmap.mergeInto(RBitmap.deserialize(ser), sparse)
    assert(RBitmap.cardinality(m) == 6001)
  }

  test("and/andNot cardinalities match Set algebra") {
    val gen = for {
      a <- Gen.listOf(Gen.chooseNum(-70000L, 70000L))
      b <- Gen.listOf(Gen.chooseNum(-70000L, 70000L))
    } yield (a, b)
    samples(gen, 40).foreach { case (a, b) =>
      val (ba, bb) = (build(a), build(b))
      assert(RBitmap.andCardinality(ba, bb) == (a.toSet & b.toSet).size)
      assert(RBitmap.andNotCardinality(ba, bb) == (a.toSet -- b.toSet).size)
    }
  }

  test("bitmap_distinct ≡ countDistinct at any parallelism; blobs partition-invariant") {
    import spark.implicits._
    val df = (0 until 5000).map(i => (i % 3, (i * 37 % 1100).toLong))
      .toDF("g", "u")
    def run(parts: Int) = df.repartition(parts).groupBy($"g")
      .agg(expr("bitmap_distinct(u)").as("d"), expr("bitmap_state(u)").as("sk"))
      .select($"g", $"d", expr("bitmap_card(sk)").as("c"), $"sk")
      .orderBy("g").collect()
    val exact = df.groupBy($"g").agg(countDistinct($"u").as("d"))
      .orderBy("g").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val r1 = run(1)
    val r13 = run(13)
    r1.zip(r13).foreach { case (a, b) =>
      assert(a.getLong(1) == exact(a.getInt(0)))
      assert(a.getLong(2) == a.getLong(1)) // scalar card of the blob agrees
      assert(java.util.Arrays.equals(a.getAs[Array[Byte]](3),
        b.getAs[Array[Byte]](3)))
    }
  }

  test("streamed bitmap machine ≡ batch bitmap aggregate row-for-row") {
    val batch = graft.operators.BitmapOps.bitmapDistinctUsers(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val streamed = graft.streaming.StreamReplay
      .bitmapUsersStreamed(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch)
  }

  test("weekly churn measures are internally consistent on real data") {
    val rows = graft.operators.BitmapOps.weeklyChurnBitmap(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.head.isNullAt(2) && rows.head.isNullAt(3) && rows.head.isNullAt(4),
      "first observed week must have NULL pairwise measures")
    rows.drop(1).foreach { r =>
      // active = retained + new  (every active user is either retained or new)
      assert(r.getLong(1) == r.getLong(2) + r.getLong(4),
        s"active != retained + new in $r")
    }
  }
}
