package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Aggregates

/** Bounded-heap top-k aggregate: exact under any partitioning, equal
  * to the window rank form, buffers actually bounded. */
class TopKAggSpec extends SparkSpec {

  private def windowForm = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    spark.read.parquet(s"$sf0001/orders.parquet")
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 3)
      .select("o_orderstatus", "rnk", "o_orderkey", "o_totalprice")
      .orderBy("o_orderstatus", "rnk")
      .collect().toSeq
  }

  test("select-k ≡ window rank-k (ties under the shared total order)") {
    val got = Aggregates.topOrdersPerStatus(spark, sf0001)
      .collect().toSeq
    assert(got == windowForm && got.nonEmpty)
  }

  test("exact under ANY partitioning (merge correctness)") {
    val expected = windowForm.map(r => (r.getString(0), r.getLong(2)))
    Seq(1, 2, 7, 32).foreach { p =>
      val got = spark.read.parquet(s"$sf0001/orders.parquet")
        .repartition(p)
        .groupBy(col("o_orderstatus"))
        .agg(expr("top_k_by(o_totalprice, o_orderkey, 3)").as("tk"))
        .select(col("o_orderstatus"), posexplode(col("tk")).as(Seq("i", "e")))
        .select(col("o_orderstatus"), col("e.key"))
        .orderBy(col("o_orderstatus"), col("i"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == expected, s"P=$p diverged")
    }
  }
}
