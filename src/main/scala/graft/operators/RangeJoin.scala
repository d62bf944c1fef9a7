package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** BINNED interval join — the large×large RANGE join done as an
  * equi-join. A pure time-tolerance predicate (`|t_a − t_b| ≤ τ`, no
  * equality key at all) gives Catalyst nothing to hash on, so the
  * built-in strategies degrade to BroadcastNestedLoopJoin — O(|A|·|B|)
  * comparisons and a full broadcast of one side, which at 100 TB is
  * not a slow plan but a non-plan. The standard fix (Databricks range
  * join optimization, Flink interval join, DuckDB IEJoin's cousin) is
  * to QUANTIZE time into bins of width τ: every row lands in one bin,
  * a pair within tolerance is at most one bin apart, so probing the 3
  * neighbor bins ({b−1, b, b+1}) with an EQUI-join on the bin id finds
  * every qualifying pair, and a residual `abs ≤ τ` filter drops the
  * near-misses. Shuffle is 3·|A| + |B| rows on a uniformly-distributed
  * key — the N² is gone, the join is whatever equi-join Catalyst picks
  * (shuffled hash / sort-merge with AQE), and each pair is emitted
  * exactly once because the build side keeps its single true bin.
  *
  * The graded instance is platform-wide incident correlation over the
  * `events` stream: for every purchase, the error events within ±60 s
  * regardless of user — deliberately NO equi column, the shape the
  * user-keyed joins (J1, ST8's watermarked stream-stream join) cannot
  * express. Aggregated per incident hour so the result is stable and
  * small; the DuckDB oracle runs the naive quadratic join, so the
  * grading proves bin+filter ≡ the full cross predicate.
  *
  * `RangeJoinSpec` additionally proves the claim at the PLAN level:
  * the binned form contains no BroadcastNestedLoopJoin / CartesianProduct
  * node, while the naive form of the same query does.
  */
object RangeJoin extends graft.QueryModule {
  /** Tolerance AND bin width, µs (they must be equal for the 3-probe
    * pigeonhole to cover the ball). */
  private[graft] val TolUs = 60L * 1000 * 1000

  private def sides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables(spark, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), unix_micros(col("ts")).as("tp"))
    val e = ev.filter(col("event_type") === "error")
      .select(unix_micros(col("ts")).as("te"))
    (p, e)
  }

  /** The scalable form: probe-side bins {b−1,b,b+1} × build-side true
    * bin, equi-join, residual tolerance filter. */
  private[graft] def binnedPairs(spark: SparkSession, dir: String,
      tolUs: Long = TolUs): DataFrame = {
    val (p, e) = sides(spark, dir)
    val probes = p.withColumn("bkt",
      explode(array((-1 to 1).map(d =>
        expr(s"tp div $tolUs") + lit(d.toLong)): _*)))
    val build = e.withColumn("bkt", expr(s"te div $tolUs"))
    probes.join(build, Seq("bkt"))
      .filter(abs(col("tp") - col("te")) <= tolUs)
  }

  /** The naive form (range predicate only — plans a nested loop);
    * spec-only, never on the graded path. */
  private[graft] def naivePairs(spark: SparkSession, dir: String,
      tolUs: Long = TolUs): DataFrame = {
    val (p, e) = sides(spark, dir)
    p.join(e, abs(col("tp") - col("te")) <= tolUs)
  }

  private def hourly(pairs: DataFrame): DataFrame =
    pairs.groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("event_id")).as("n_purchases"))
      .orderBy("hr")

  /** GRADED: purchase↔error coincidences (±60 s, platform-wide) per
    * purchase hour, via the binned plan; oracle is the quadratic join. */
  def rangeJoinBinned(spark: SparkSession, dir: String): DataFrame =
    hourly(binnedPairs(spark, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "range_join_binned" -> (rangeJoinBinned(_, _)))

  val oracles: Map[String, String] = Map(
    "range_join_binned" ->
      s"""SELECT date_trunc('hour', a.ts) AS hr, count(*) AS n_pairs,
         |  count(DISTINCT a.event_id) AS n_purchases
         |FROM events a JOIN events b
         |  ON a.event_type = 'purchase' AND b.event_type = 'error'
         | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= $TolUs
         |GROUP BY 1 ORDER BY 1""".stripMargin)
}
