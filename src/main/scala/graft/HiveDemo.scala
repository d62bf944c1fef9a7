package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** North-star surface check: "Spark SQL reading Hive tables" with a
  * REAL Hive metastore (embedded Derby) — `enableHiveSupport`, then the
  * full driver schema registered in the catalog and a graded-equivalent
  * query answered through `spark.table`. Graded queries do NOT depend on
  * this (the driver harness reads plain parquet paths, SURVEY.md §7.1
  * pt 7); this main proves the catalog surface works in this
  * environment.
  *
  * Two registration modes, both exercised:
  *  - EXTERNAL tables (`spark.catalog.createTable` with a parquet
  *    location): catalog metadata over existing files, zero copy — the
  *    way a 100 TB lake actually registers data.
  *  - a MANAGED table (`saveAsTable`) for the one table that needs the
  *    ns-timestamp shim (`events` — the shimmed DataFrame is persisted,
  *    so catalog readers get clean TIMESTAMP micros).
  *
  * Run: `sbt "runMain graft.HiveDemo"` → one JSON status line.
  */
object HiveDemo {
  def main(args: Array[String]): Unit = {
    ToolLogging.init()
    val base = Files.createTempDirectory("graft_hive").toString
    val sfDir = "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-hive")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$base/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.Extensions.install(spark)
    try {
      val catalogImpl = spark.conf.get("spark.sql.catalogImplementation")
      spark.sql("CREATE DATABASE IF NOT EXISTS graft")
      // external: catalog over the existing parquet, no data movement
      val external = Tables.names.filterNot(_ == "events")
      external.foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS graft.$t")
        spark.catalog.createTable(s"graft.$t", s"$sfDir/$t.parquet", "parquet")
      }
      // managed: events needs the ns→µs shim, so persist the shimmed frame
      Tables(spark, sfDir, "events")
        .write.mode("overwrite").saveAsTable("graft.events")
      val nTables = spark.sql("SHOW TABLES IN graft").count()

      // A graded query answered entirely through the metastore
      // (spark.table, no paths) must equal the path-based graded form.
      import org.apache.spark.sql.functions._
      val viaCatalog = spark.table("graft.orders")
        .join(spark.table("graft.customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(spark.table("graft.nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(graft.functions.ScalarFns.moneySum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name")
        .collect()
      val viaPaths = graft.operators.Joins.revenueByNation(spark, sfDir).collect()
      val matches = viaCatalog.sameElements(viaPaths)

      // catalog also answers SQL + survives a partition-pruned filter
      val eventsRows = spark.sql(
        "SELECT count(*) FROM graft.events WHERE event_type = 'view'")
        .first().getLong(0)
      val ddl = spark.sql("SHOW CREATE TABLE graft.customer")
        .first().getString(0)
      println(s"""{"catalog":"$catalogImpl","tables":$nTables,""" +
        s""""revenue_by_nation_matches_path_form":$matches,""" +
        s""""events_view_rows":$eventsRows,""" +
        s""""external_parquet":${ddl.toLowerCase.contains("parquet")}}""")
    } finally spark.stop()
  }
}
