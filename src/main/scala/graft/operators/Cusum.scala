package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** CUSUM change-point monitor over hourly event volume — the
  * sequential drift detector beside the seasonal z-test
  * (`hourly_volume_anomaly` catches single-cell spikes against a
  * weekday×hour baseline; CUSUM catches SUSTAINED shifts that never
  * spike: S_t = max(0, S_{t−1} + x_t − k) accumulates small excesses
  * and only a run of above-reference hours can push it over the
  * threshold). Reference provenance: the demo recomputes dashboard
  * counts per request (`crm_demo/app.py:141-166`); a monitoring tier
  * runs exactly this recursion over them.
  *
  * Everything is INTEGER and the recursion is pinned cross-engine:
  * reference k = (Σcnt DIV n) + 1 per type (strictly above the mean,
  * so S drains to 0 under normal load), threshold h = 8·k, and the
  * oracle replays the identical fold as a DuckDB RECURSIVE CTE over
  * the same zero-filled hour spine (the `knn_bfs_hops` discipline:
  * iterative Spark loop graded by SQL recursion).
  *
  * Scale shape: the corpus-sized work is ONE (hour, type) aggregate;
  * the recursion itself is inherently sequential per series, so it
  * folds inside `flatMapGroups` over the |hours|-row per-type cell
  * frame — calendar-bounded (a decade ≈ 90k cells/type), partitioned
  * BY TYPE across executors, never a corpus-sized group. */
object Cusum extends graft.QueryModule {

  /** The CUSUM recursion as a pure fold: S_t = max(0, S_{t−1}+x_t−k),
    * alarm iff S_t ≥ 8k. Factored out so the spec can drive it with
    * synthetic shifted series (the real corpus is level, so the alarm
    * arm would otherwise be exercised nowhere). */
  private[graft] def foldSeries(cnts: Seq[Long], k: Long): Seq[(Long, Boolean)] = {
    var s = 0L
    cnts.map { x =>
      s = math.max(0L, s + x - k)
      (s, s >= 8 * k)
    }
  }

  def hourlyVolumeCusum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
      .select(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
    val cnts = ev.groupBy(col("hr"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val spine = ev.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hr"))
    val types = ev.select(col("event_type")).distinct()
    val cells = spine.crossJoin(broadcast(types))
      .join(cnts, Seq("hr", "event_type"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val ks = cells.groupBy(col("event_type"))
      .agg((expr("sum(cnt) DIV count(1)") + lit(1L)).as("k"))
    cells.join(broadcast(ks), Seq("event_type"))
      .select(col("event_type"), col("hr"), col("cnt"), col("k"))
      .as[(String, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (tpe, it) =>
        val rows = it.toArray.sortBy(_._2.getTime)
        val folded = foldSeries(rows.toSeq.map(_._3), rows.head._4)
        rows.iterator.zip(folded.iterator).map {
          case ((_, hr, cnt, _), (s, alarm)) => (tpe, hr, cnt, s, alarm)
        }
      }
      .toDF("event_type", "hour_start", "n_events", "cusum", "alarm")
      .orderBy("event_type", "hour_start")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hourly_volume_cusum" -> (hourlyVolumeCusum _))

  val oracles: Map[String, String] = Map(
    "hourly_volume_cusum" ->
      """WITH RECURSIVE ev AS (
        |  SELECT date_trunc('hour', ts) AS hr, event_type FROM events),
        |bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM ev),
        |spine AS (
        |  SELECT unnest(generate_series((SELECT lo FROM bounds),
        |    (SELECT hi FROM bounds), INTERVAL 1 HOUR)) AS hr),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |cnts AS (
        |  SELECT hr, event_type, count(*) AS cnt FROM ev GROUP BY 1, 2),
        |cells AS (
        |  SELECT s.hr, t.event_type,
        |    CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt,
        |    row_number() OVER (PARTITION BY t.event_type ORDER BY s.hr)
        |      AS rn
        |  FROM spine s CROSS JOIN types t
        |  LEFT JOIN cnts c ON c.hr = s.hr AND c.event_type = t.event_type),
        |ks AS (
        |  SELECT event_type,
        |    CAST((sum(cnt) // count(*)) + 1 AS BIGINT) AS k
        |  FROM cells GROUP BY 1),
        |cu AS (
        |  SELECT c.event_type, c.rn, c.hr, c.cnt,
        |    CAST(greatest(0, c.cnt - k.k) AS BIGINT) AS s
        |  FROM cells c JOIN ks k USING (event_type) WHERE c.rn = 1
        |  UNION ALL
        |  SELECT c.event_type, c.rn, c.hr, c.cnt,
        |    CAST(greatest(0, cu.s + c.cnt - k.k) AS BIGINT)
        |  FROM cu
        |  JOIN cells c ON c.event_type = cu.event_type
        |    AND c.rn = cu.rn + 1
        |  JOIN ks k ON k.event_type = c.event_type)
        |SELECT cu.event_type, cu.hr AS hour_start, cu.cnt AS n_events,
        |  cu.s AS cusum, cu.s >= 8 * k.k AS alarm
        |FROM cu JOIN ks k ON k.event_type = cu.event_type
        |ORDER BY cu.event_type, hour_start""".stripMargin)
}
