package graft

import org.apache.spark.sql.functions._
import graft.operators.EventOps

/** Custom HLL TypedImperativeAggregate (A6+): accuracy vs exact
  * distinct, and partition-invariance of the merged sketch. */
class HllSketchSpec extends SparkSpec {
  import spark.implicits._

  test("hll estimate is within 15% of exact distinct per type") {
    val est = EventOps.hllUsers(spark, sf0001)
      .select("event_type", "hll_users").as[(String, Double)].collect().toMap
    val exact = EventOps.distinctUsers(spark, sf0001)
      .select("event_type", "n_users").as[(String, Long)].collect().toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (t, n) =>
      val rel = math.abs(est(t) - n) / n.toDouble
      assert(rel < 0.15, s"$t: est=${est(t)} exact=$n rel=$rel")
    }
  }

  test("sketch merge is partition-invariant (same estimate at any parallelism)") {
    def run(parts: Int) =
      Tables(spark, sf0001, "events").repartition(parts)
        .groupBy(col("event_type"))
        .agg(expr("hll_sketch(CAST(user_id AS STRING))").as("h"))
        .select(col("event_type"), col("h.estimate"), col("h.n_zero"), col("h.sum_pow"))
        .orderBy("event_type").collect()
    assert(run(1).sameElements(run(13)))
  }

  test("CMS never underestimates and is exact without collisions") {
    val r = graft.operators.TextOps.cmsTermCounts(spark, sf0001).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val exact = row.getAs[Long]("n_exact")
      val cms = row.getAs[Long]("n_cms")
      assert(cms >= exact,
        s"CMS underestimated ${row.getAs[String]("term")}: $cms < $exact")
    }
  }

  test("CMS merge is partition-invariant") {
    def run(parts: Int) =
      Tables(spark, sf0001, "documents").repartition(parts)
        .select(explode(split(col("text"), " ")).as("t"))
        .filter(col("t") =!= "")
        .agg(expr("cms_sketch(t)").as("cms"))
        .selectExpr("cms").collect()(0).getSeq[Long](0)
    assert(run(1) == run(7))
  }

  test("histogram sketch quantiles land within one bin width of exact") {
    val est = graft.operators.Aggregates.histQuantilesAcctbal(spark, sf0001)
      .collect().map(r => r.getAs[String]("c_mktsegment") ->
        (r.getAs[Double]("p50_est"), r.getAs[Double]("p95_est"))).toMap
    val exact = Tables(spark, sf0001, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal)").as("p50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY c_acctbal)").as("p95"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p95"))).toMap
    val binW = 100.0
    est.foreach { case (seg, (p50, p95)) =>
      assert(math.abs(p50 - exact(seg)._1) <= binW,
        s"$seg p50 est $p50 vs exact ${exact(seg)._1}")
      assert(math.abs(p95 - exact(seg)._2) <= binW,
        s"$seg p95 est $p95 vs exact ${exact(seg)._2}")
    }
  }

  test("histogram sketch merge is partition-invariant") {
    def run(parts: Int): Seq[Long] =
      Tables(spark, sf0001, "customer").repartition(parts)
        .agg(expr("hist_sketch(CAST(c_acctbal AS DOUBLE), -1000.0D, 10000.0D, 110)")
          .as("h"))
        .collect()(0).getSeq[Long](0)
    assert(run(1) == run(7))
    assert(run(1).sum == Tables(spark, sf0001, "customer").count())
  }

  test("histogram sketch routes under/overflow to the edge buckets") {
    import spark.implicits._
    val h = Seq(-5000.0, -1000.0, 0.0, 9999.99, 10000.0, 20000.0).toDF("x")
      .agg(expr("hist_sketch(x, -1000.0D, 10000.0D, 110)").as("h"))
      .collect()(0).getSeq[Long](0)
    assert(h(0) == 1L)   // -5000 → underflow
    assert(h(1) == 1L)   // -1000 → first real bin (lo inclusive)
    assert(h(11) == 1L)  // 0.0 → bin [0, 100)
    assert(h(110) == 1L) // 9999.99 → last real bin
    assert(h(111) == 2L) // 10000 (hi exclusive) and 20000 → overflow
    assert(h.sum == 6L)
  }

  test("null keys are ignored, empty groups estimate 0") {
    val df = Seq(("a", Some("x")), ("a", Some("y")), ("a", None), ("b", None))
      .toDF("g", "k")
      .groupBy("g").agg(expr("hll_sketch(k)").as("h"))
      .select(col("g"), col("h.estimate").as("e"))
      .orderBy("g").collect()
    assert(df(0).getDouble(1) > 1.5 && df(0).getDouble(1) < 2.5) // ~2 distinct
    assert(df(1).getDouble(1) == 0.0) // all-null group → linear count of m/m
  }

  test("sketch re-aggregation: hll_merge(hll_state(x)) ≡ hll_sketch(x) " +
    "under ANY regrouping") {
    val e = Tables(spark, sf0001, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("user_id").cast("string").as("k"))
    // direct: one sketch over each type
    val direct = e.groupBy("event_type")
      .agg(expr("hll_sketch(k)").as("h"))
      .select(col("event_type"), col("h.estimate"), col("h.n_zero"),
        col("h.sum_pow"))
      .collect().map(_.toSeq).toSet
    // re-aggregated: per-(type, day) stored sketches, merged per type
    val merged = e.groupBy("event_type", "day")
      .agg(expr("hll_state(k)").as("sk"))
      .groupBy("event_type")
      .agg(expr("hll_merge(sk)").as("h"))
      .select(col("event_type"), col("h.estimate"), col("h.n_zero"),
        col("h.sum_pow"))
      .collect().map(_.toSeq).toSet
    assert(merged == direct,
      s"re-aggregation diverged: +${(merged -- direct).take(2)}")
    // and merging is idempotent: merging a sketch with itself changes
    // nothing (register max)
    val idem = e.groupBy("event_type")
      .agg(expr("hll_state(k)").as("sk"))
      .select(col("event_type"), explode(array(col("sk"), col("sk")))
        .as("sk"))
      .groupBy("event_type")
      .agg(expr("hll_merge(sk)").as("h"))
      .select(col("event_type"), col("h.estimate"), col("h.n_zero"),
        col("h.sum_pow"))
      .collect().map(_.toSeq).toSet
    assert(idem == direct)
  }
}
