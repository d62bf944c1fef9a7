package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** CORESET SELECTION — k-center greedy (farthest-point traversal,
  * Gonzalez 1985): the diversity-based data-selection rule beside the
  * similarity-based ones already graded (prototypes = most central per
  * class; hard negatives = boundary pairs; THIS picks the subset that
  * COVERS the embedding space — the 2-approximation to the k-center
  * optimum, the standard seed for diverse training subsets and for
  * k-means++-style initialization).
  *
  * Greedy: start from the designated anchor (vec_id 0), then k−1 times
  * pick the vector FARTHEST from the selected set (max over v of
  * min over s of d(v,s)), ties → smaller vec_id. Each pick's distance
  * IS the covering radius before that pick — the output row's
  * `radius_ppm` column, a non-increasing sequence (spec-pinned).
  *
  * Determinism: distance is the similarity DEFICIT in integer ppm
  * (`10⁶ − floor(cos·10⁶ + ½)` — the [[GraphOps]] SSSP weight
  * spelling), so min/max/argmax never tie ambiguously across engines.
  *
  * Scale shape: round t is ONE corpus kernel pass (update
  * `dmin := least(dmin, d(v, pick_t))` against the broadcast new pick)
  * + one TakeOrdered argmax — O(k·N) total, the textbook k-center
  * cost; the running frame is checkpoint-disciplined per round (the
  * SSSP loop regime: localCheckpoint, one materialization per round,
  * no driver-side math). The oracle unrolls the same k−1 steps as
  * chained CTEs. */
object Coreset extends graft.QueryModule {

  private[graft] val K = 8

  private def deficit(a: String, b: String): String =
    s"1000000 - CAST(floor(cosine_sim($a, $b) * 1000000.0 + 0.5) AS BIGINT)"

  /** GRADED: the greedy pick sequence (pick, vec_id, radius_ppm). */
  def coresetKcenter(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val seedVec = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("sv"))
    var cur = e.crossJoin(broadcast(seedVec))
      .select(col("vec_id"), col("embedding"),
        expr(deficit("embedding", "sv")).as("dmin"))
      .localCheckpoint(true)
    // the anchor is pick 1; its radius is the vacuous max deficit (cos ≥ −1 → deficit ≤ 2·10⁶)
    var picks = e.filter(col("vec_id") === 0)
      .select(lit(1L).as("pick"), col("vec_id"),
        lit(2000000L).as("radius_ppm"))
    for (t <- 2 to K) {
      val pick = cur.orderBy(col("dmin").desc, col("vec_id")).limit(1)
        .select(col("vec_id").as("pvid"), col("embedding").as("pv"),
          col("dmin").as("pdmin"))
        .localCheckpoint(true)
      picks = picks.unionByName(pick.select(lit(t.toLong).as("pick"),
        col("pvid").as("vec_id"), col("pdmin").as("radius_ppm")))
      cur = cur.crossJoin(broadcast(pick.select(col("pv"))))
        .select(col("vec_id"), col("embedding"),
          least(col("dmin"), expr(deficit("embedding", "pv"))).as("dmin"))
        .localCheckpoint(true)
    }
    picks.orderBy("pick")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "coreset_kcenter" -> (coresetKcenter(_, _)))

  private def oracleSql: String = {
    import Similarity.duckDot
    def cos(a: String, b: String) =
      s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"
    def deficitSql(a: String, b: String) =
      s"1000000 - CAST(floor(${cos(a, b)} * 1000000.0 + 0.5) AS BIGINT)"
    val steps = (2 to K).map { t =>
      s"""p$t AS (
         |  SELECT vec_id, dmin FROM cur${t - 1}
         |  ORDER BY dmin DESC, vec_id LIMIT 1),
         |pv$t AS (
         |  SELECT e.embedding FROM e JOIN p$t ON e.vec_id = p$t.vec_id),
         |cur$t AS (
         |  SELECT c.vec_id, c.embedding,
         |    least(c.dmin, ${deficitSql("c.embedding", "v.embedding")})
         |      AS dmin
         |  FROM cur${t - 1} c, pv$t v)""".stripMargin
    }.mkString(",\n")
    val firstRow = "SELECT CAST(1 AS BIGINT) AS pick, " +
      "CAST(0 AS BIGINT) AS vec_id, CAST(2000000 AS BIGINT) AS radius_ppm"
    val rows = firstRow +: (2 to K).map(t =>
      s"SELECT CAST($t AS BIGINT), p$t.vec_id, " +
        s"CAST(p$t.dmin AS BIGINT) FROM p$t")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |cur1 AS (
       |  SELECT e.vec_id, e.embedding,
       |    ${deficitSql("e.embedding", "s.sv")} AS dmin
       |  FROM e, (SELECT embedding AS sv FROM embeddings
       |           WHERE vec_id = 0) s),
       |$steps
       |SELECT pick, vec_id, radius_ppm FROM (
       |  ${rows.mkString("\n  UNION ALL ")}
       |) u ORDER BY pick""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "coreset_kcenter" -> oracleSql)
}
