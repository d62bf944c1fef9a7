package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Stats

/** Metadata-only count(*) rule (plans/MetadataCount): the positive arm
  * must serve from a one-row LocalRelation with NO file scan; every
  * soundness gate has a negative arm that must keep the scan. */
class MetadataCountSpec extends SparkSpec {

  private def hasFileScan(df: org.apache.spark.sql.DataFrame): Boolean =
    fileScans(df.queryExecution.executedPlan).nonEmpty

  test("count(*) over a bare parquet relation is served from footers, scan-free") {
    val df = Stats.ordersCountMetadata(spark, sf0001)
    assert(!hasFileScan(df), "expected footer-served LocalRelation plan")
    assert(df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.nonEmpty)
    val expected = spark.read.parquet(s"$sf0001/orders.parquet").count()
    assert(df.head().getLong(0) == expected)
  }

  test("a Filter disqualifies the plan: the scan must run") {
    val df = spark.read.parquet(s"$sf0001/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy().agg(count(lit(1)).as("n"))
    assert(hasFileScan(df), "filtered count must not be footer-served")
  }

  test("count(col) (null-skipping) disqualifies the plan") {
    val df = spark.read.parquet(s"$sf0001/orders.parquet")
      .groupBy().agg(count(col("o_orderpriority")).as("n"))
    assert(hasFileScan(df), "count(col) must not be footer-served")
  }

  test("grouped counts disqualify the plan") {
    val df = spark.read.parquet(s"$sf0001/orders.parquet")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    assert(hasFileScan(df))
  }

  test("non-parquet relations keep their scan") {
    val tmp = java.nio.file.Files.createTempDirectory("mdc_csv_").toString
    spark.range(10).toDF("x").write.mode("overwrite").csv(tmp)
    val df = spark.read.schema("x LONG").csv(tmp)
      .groupBy().agg(count(lit(1)).as("n"))
    assert(hasFileScan(df))
    assert(df.head().getLong(0) == 10L)
  }

  test("a streaming global count keeps its running total (no footer serving)") {
    val in = java.nio.file.Files.createTempDirectory("graft_mdc_stream_").toFile
    Seq((0, 7), (1, 5)).foreach { case (seq, n) =>
      Tables.writeFeedFile(spark.range(n).toDF("x"), in, f"f$seq%03d.parquet", seq)
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mdc_ckpt_").toString
    val q = spark.readStream.schema("x LONG")
      .option("maxFilesPerTrigger", "1").parquet(in.getAbsolutePath)
      .groupBy().count()
      .writeStream.format("memory").queryName("mdc_running_count")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    assert(spark.table("mdc_running_count").head().getLong(0) == 12L)
  }
}
