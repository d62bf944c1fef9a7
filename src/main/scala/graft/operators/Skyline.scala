package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** PARETO SKYLINE — the multi-criteria shortlist query: parts no other
  * part beats on BOTH price (lower is better) and size (higher is
  * better), i.e. the dominance frontier (Börzsönyi/Kossmann/Stocker,
  * "The Skyline Operator", ICDE 2001). The reference's threshold
  * segmentation (`tools.py:60-72`) asks "spend ≥ X" one axis at a
  * time; the skyline is the two-axis generalization — the candidates a
  * buyer would ever shortlist without weighing the axes against each
  * other first.
  *
  * Definition (strict dominance): q dominates p iff q.price ≤ p.price
  * ∧ q.size ≥ p.size ∧ (q.price < p.price ∨ q.size > p.size).
  * Exact ties on both axes survive together.
  *
  * The naive formulation is the quadratic NOT EXISTS self-join — the
  * DuckDB oracle states exactly that, INDEPENDENTLY of the plan below,
  * so the grade proves the distributed decomposition lossless. The
  * Spark side never forms a pair: for a 2-D skyline, p is dominated
  * iff the max size among STRICTLY CHEAPER rows ≥ p.size, or the max
  * size among SAME-PRICE rows > p.size. That running "max-so-far over
  * price order" is a prefix aggregation, distributed with the same
  * two-phase shape as [[Packing.positioned]]'s prefix sum:
  *
  *  1. price-RANGE bucket each row (bounds from a broadcast 1-row
  *     aggregate, in-plan — the gap-fill/nlist idiom; bucketing is
  *     monotonic in price, so earlier buckets hold strictly cheaper
  *     rows — equal prices can never straddle a boundary);
  *  2. per (bucket, price) group: gmax = max size at that exact price
  *     (one map-side-combinable shuffle at distinct-price granularity);
  *  3. per bucket, in parallel: prevmax = running max of gmax over
  *     strictly earlier prices (partitionBy(bucket) window — never a
  *     global sort);
  *  4. across buckets: prefix max of the B per-bucket maxima on a
  *     B-row frame (the only single-partition window — catalog-sized),
  *     broadcast back.
  *
  * Verdict per row: dominated ⟺ gmax > size ∨ prevmax ≥ size ∨
  * cross-bucket prevbmax ≥ size. Every stage is a partial aggregate or
  * a bucket-parallel window; the shuffles are distinct-price and
  * bucket granularity, not row granularity. At 100 TB raise B — the
  * cross-bucket frame stays catalog-sized.
  */
object Skyline extends graft.QueryModule {

  /** Price-range fan-out (16 here; hundreds at 100 TB). */
  private[graft] val Buckets = 16

  /** GRADED: the (minimize p_retailprice, maximize p_size) frontier. */
  def partSkyline(spark: SparkSession, dir: String): DataFrame = {
    val NegInf = Int.MinValue
    val p = Tables(spark, dir, "part")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val bounds = p.agg(min(col("p_retailprice")).as("lo"),
      max(col("p_retailprice")).as("hi"))
    // monotonic range bucket; degenerate hi == lo collapses to bucket 0
    val b = p.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        least(lit(Buckets - 1), greatest(lit(0),
          floor((col("p_retailprice") - col("lo")) /
            ((col("hi") - col("lo")) / Buckets + lit(1e-9))).cast("int"))))
      .drop("lo", "hi")
    // exact-price groups: max size at each price point
    val g = b.groupBy(col("bucket"), col("p_retailprice"))
      .agg(max(col("p_size")).as("gmax"))
    // in-bucket running max over strictly earlier prices (parallel)
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("p_retailprice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val gg = g.withColumn("prevmax", max(col("gmax")).over(wIn))
    // cross-bucket prefix max on a B-row frame, broadcast back
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = b.groupBy(col("bucket")).agg(max(col("p_size")).as("bm"))
      .withColumn("prevbmax", max(col("bm")).over(wOff))
      .select(col("bucket").as("obucket"), col("prevbmax"))
    b.join(gg, Seq("bucket", "p_retailprice"))
      .join(broadcast(offs), col("bucket") === col("obucket"))
      .filter(!(col("gmax") > col("p_size") ||
        coalesce(col("prevmax"), lit(NegInf)) >= col("p_size") ||
        coalesce(col("prevbmax"), lit(NegInf)) >= col("p_size")))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .orderBy(col("p_partkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "part_skyline" -> (partSkyline(_, _)))

  /** Independent quadratic ground truth — NOT a restatement of the
    * decomposition: hash equality proves the prefix-max plan exact. */
  val oracles: Map[String, String] = Map(
    "part_skyline" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice
        |    AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice
        |         OR q.p_size > p.p_size))
        |ORDER BY p.p_partkey""".stripMargin)
}
