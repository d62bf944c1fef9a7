package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Optimization evidence: dump `.explain("formatted")` for chosen
  * queries to `<outDir>/<query>_<suffix>.txt` (outDir = args(0), e.g.
  * `plans/r13`; suffix = args(1), e.g. "before"/"after"; query names =
  * args(2..) or SPARK_GRAFT_ONLY). Uses the bench's own session shape
  * (local[SPARK_GRAFT_CPUS], as many shuffle partitions) so Exchange
  * counts match what the bench runs.
  * Run: `sbt "runMain graft.PlanDumpQueries plans/r13 before fuzzy_join_qgram ..."` */
object PlanDumpQueries {
  def main(args: Array[String]): Unit = {
    ToolLogging.init()
    require(args.nonEmpty, "usage: PlanDumpQueries <outDir> [suffix] [query...]")
    val outDir = args(0)
    val suffix = args.lift(1).getOrElse("before")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else sys.env.getOrElse("SPARK_GRAFT_ONLY", "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      // resolve AQE to the final plan so Exchange/join strategy claims
      // reflect what actually ran, then dump the formatted INITIAL
      // explain too (it carries PushedFilters/ReadSchema detail).
      df.collect()
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val finalPlan = df.queryExecution.executedPlan.toString
      val out = s"$outDir/${name}_$suffix.txt"
      Files.writeString(Paths.get(out),
        s"== explain(formatted), $dir ==\n" + formatted +
          "\n== AQE-final executed plan ==\n" + finalPlan)
      println(s"wrote $out")
    }
    spark.stop()
  }
}
