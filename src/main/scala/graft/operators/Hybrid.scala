package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.ScalarFns

/** HYBRID RETRIEVAL — the RAG-serving tier every LLM data stack ends
  * up with: a SPARSE keyword ranking (BM25, [[TextSignals.bm25Scores]])
  * and a DENSE embedding ranking (cosine against a pinned query vector,
  * the `cosine_topk` convention: vec_id 0 is the corpus' designated
  * query anchor) fused into one result list. Two industry-standard
  * fusion rules, both graded:
  *
  *   - Reciprocal Rank Fusion (Cormack et al., SIGIR'09):
  *     `rrf(d) = Σ_tiers 1/(60 + rank_tier(d))`, absent tier → 0.
  *     Rank-based, so it needs NO score calibration between tiers —
  *     the reason it is the default in Elasticsearch/OpenSearch/Vespa.
  *   - Min-max score fusion: each tier's scores normalized to [0,1]
  *     over its own top list ((s − min)/(max − min); min/max are
  *     order-free aggregates), fused `0.5·norm_s + 0.5·norm_d`.
  *
  * Plus the diversification pass serving stacks run AFTER fusion:
  * Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98)
  * re-ranking, batched across queries ([[mmrRerankBatch]]).
  *
  * Determinism (the hash gate): ranks are integers from totally-ordered
  * row_number (score desc, id asc); `1.0/(60+r)` and the min-max form
  * are single exactly-rounded IEEE expressions over 6-dp-rounded tier
  * scores, written operand-for-operand identically in the oracle; every
  * displayed score goes through the floor-rounding contract
  * ([[ScalarFns.roundN]]).
  *
  * Scale shape: each tier is a corpus scan + TakeOrderedAndProject
  * (top-N, N=50) — the fusion join then touches 2·N rows TOTAL, not
  * the corpus. At 100 TB the tiers come off their indexes (postings /
  * IVF routing — both graded elsewhere); fusion cost is unchanged. The
  * MMR pass never leaves per-query candidate pools (k=20), so its
  * pairwise term is O(Q·k²) spread across queries — never corpus².
  */
object Hybrid extends graft.QueryModule {

  /** Tier depth fed into fusion. */
  private val TierN = 50
  /** RRF smoothing constant (the SIGIR'09 / Elasticsearch default). */
  private val RrfK = 60

  /** Sparse tier: BM25 top-[[TierN]] with dense ranks 1..N.
    * TakeOrdered first (scale path), then row_number over the ≤N
    * survivors — the unpartitioned window is bounded by TierN. */
  private def sparseTier(spark: SparkSession, dir: String): DataFrame =
    TextSignals.bm25Scores(spark, dir)
      .filter(col("bm25") > 0.0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(TierN)
      .withColumn("rs", row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))

  /** Dense tier: cosine-to-anchor top-[[TierN]] with ranks. The anchor
    * doc itself (vec_id 0) legitimately ranks #1 (cosine 1.0). */
  private def denseTier(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        ScalarFns.roundN(expr("cosine_sim(embedding, qv)"), 6).as("cos"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(TierN)
      .withColumn("rd", row_number()
        .over(Window.orderBy(col("cos").desc, col("doc_id"))).cast("long"))
  }

  /** GRADED: RRF fusion of the two tiers, top 10. A doc absent from a
    * tier contributes 0 for that tier (the standard rule). Output
    * carries both ranks (0 = absent) so the fusion is auditable. */
  def hybridSearchRrf(spark: SparkSession, dir: String): DataFrame = {
    val s = sparseTier(spark, dir).select(col("doc_id"), col("rs"))
    val d = denseTier(spark, dir).select(col("doc_id"), col("rd"))
    s.join(d, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rs"), lit(0L)).as("r_sparse"),
        coalesce(col("rd"), lit(0L)).as("r_dense"),
        ScalarFns.roundN(
          when(col("rs").isNotNull, lit(1.0) / (lit(RrfK) + col("rs")))
            .otherwise(lit(0.0)) +
          when(col("rd").isNotNull, lit(1.0) / (lit(RrfK) + col("rd")))
            .otherwise(lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  /** GRADED: min-max score fusion, top 10. Each tier normalized over
    * its own top list; a one-score tier (max = min) normalizes to 1.0
    * — the guard is written identically in the oracle. */
  def hybridSearchFused(spark: SparkSession, dir: String): DataFrame = {
    def norm(df: DataFrame, score: String, out: String): DataFrame = {
      val mm = df.agg(min(col(score)).as("mn"), max(col(score)).as("mx"))
      df.crossJoin(broadcast(mm))
        .select(col("doc_id"),
          ScalarFns.roundN(
            when(col("mx") === col("mn"), lit(1.0))
              .otherwise((col(score) - col("mn")) / (col("mx") - col("mn"))),
            6).as(out))
    }
    val s = norm(sparseTier(spark, dir), "bm25", "norm_sparse")
    val d = norm(denseTier(spark, dir), "cos", "norm_dense")
    s.join(d, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("norm_sparse"), lit(0.0)).as("norm_sparse"),
        coalesce(col("norm_dense"), lit(0.0)).as("norm_dense"),
        ScalarFns.roundN(
          lit(0.5) * coalesce(col("norm_sparse"), lit(0.0)) +
          lit(0.5) * coalesce(col("norm_dense"), lit(0.0)), 6).as("fused"))
      .orderBy(col("fused").desc, col("doc_id"))
      .limit(10)
  }

  /** MMR batch shape. */
  private val NQ = 8      // queries: vec_id < NQ
  private val Pool = 20   // dense candidates per query
  private val Picks = 5   // diversified result size
  private val Lambda = 0.7

  /** Scala twin of [[ScalarFns.roundN]] (floor contract) for the
    * in-group greedy — keep in lockstep with roundSql. */
  private def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** GRADED: batched MMR diversified re-rank. Queries = the embeddings
    * of vec_id < [[NQ]]; candidates = each query's dense top-[[Pool]]
    * over vec_id ≥ NQ; greedy selection of [[Picks]] docs maximizing
    * `λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s)` (pick 1 has no selected
    * set: mmr = λ·sim(q,c)). Ties → smaller vec_id.
    *
    * Distribution: relevance and pairwise sims are plan-side
    * (broadcast query set; per-query candidate self-join bounded at
    * Pool² rows); the greedy loop runs INSIDE a per-query map over the
    * collected pool structs (k=20 — a per-group buffer, nothing on the
    * driver). The oracle unrolls the same greedy as [[Picks]] chained
    * CTE steps. */
  def mmrRerankBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val sims = e.filter(col("vec_id") >= NQ)
      .crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"),
        ScalarFns.roundN(expr("cosine_sim(embedding, qv)"), 6).as("qsim"))
    val top = sims
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("qsim").desc, col("vec_id"))))
      .filter(col("rn") <= Pool)
      .select(col("qid"), col("vec_id"), col("qsim"))
    val cv = top.join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val a = cv.select(col("qid"), col("vec_id").as("v1"), col("embedding").as("e1"))
    val b = cv.select(col("qid"), col("vec_id").as("v2"), col("embedding").as("e2"))
    val pairs = a.join(b, Seq("qid")).filter(col("v1") < col("v2"))
      .select(col("qid"), col("v1"), col("v2"),
        ScalarFns.roundN(expr("cosine_sim(e1, e2)"), 6).as("psim"))
    // tuple encoders resolve struct fields BY NAME (_1, _2, …) — alias
    // the collected structs and the top-level columns accordingly
    // LEFT join + coalesce-to-empty: a query whose pool has a single
    // candidate produces NO v1<v2 pair rows — an inner join would drop
    // the query entirely while the unrolled oracle still emits its
    // pick 1 from the qsim argmax (r10 advice).
    val grouped = top.groupBy(col("qid"))
      .agg(collect_list(struct(col("vec_id").as("_1"), col("qsim").as("_2")))
        .as("cands"))
      .join(pairs.groupBy(col("qid"))
        .agg(collect_list(struct(col("v1").as("_1"), col("v2").as("_2"),
          col("psim").as("_3"))).as("ps")),
        Seq("qid"), "left")
      .withColumn("ps",
        coalesce(col("ps"), typedLit(Seq.empty[(Long, Long, Double)])))
    grouped
      .select(col("qid").as("_1"), col("cands").as("_2"), col("ps").as("_3"))
      .as[(Long, Seq[(Long, Double)], Seq[(Long, Long, Double)])]
      .flatMap { case (qid, cands, ps) =>
        val qsim = cands.toMap
        val psim = ps.map { case (v1, v2, p) => (v1, v2) -> p }.toMap
        def sim(x: Long, y: Long): Double =
          psim(if (x < y) (x, y) else (y, x))
        var remaining = cands.map(_._1).sorted
        var selected = Vector.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
        var pick = 1L
        while (pick <= Picks && remaining.nonEmpty) {
          val scored = remaining.map { c =>
            val mmr =
              if (selected.isEmpty) round6(Lambda * qsim(c))
              else round6(Lambda * qsim(c) -
                (1.0 - Lambda) * selected.map(s => sim(c, s)).max)
            (c, mmr)
          }
          val (best, mmr) = scored.minBy { case (c, m) => (-m, c) }
          out += ((qid, pick, best, mmr))
          selected :+= best
          remaining = remaining.filterNot(_ == best)
          pick += 1
        }
        out
      }
      .toDF("qid", "pick", "vec_id", "mmr")
      .orderBy(col("qid"), col("pick"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hybrid_search_rrf" -> (hybridSearchRrf(_, _)),
    "hybrid_search_fused" -> (hybridSearchFused(_, _)),
    "mmr_rerank_batch" -> (mmrRerankBatch(_, _)))

  /** Shared oracle CTE bodies. */
  private def duckCos(a: String, b: String): String =
    s"""${Similarity.duckDot(a, b)}
       |    / (sqrt(${Similarity.duckDot(a, a)})
       |       * sqrt(${Similarity.duckDot(b, b)}))""".stripMargin

  private def sparseTierSql: String =
    s"""SELECT doc_id, bm25, rs FROM (
       |  SELECT doc_id, bm25,
       |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rs
       |  FROM (${TextSignals.bm25ScoresSql}) sc
       |  WHERE bm25 > 0.0) r
       |WHERE rs <= $TierN""".stripMargin

  private def denseTierSql: String =
    s"""SELECT doc_id, cos, rd FROM (
       |  SELECT doc_id, cos,
       |    CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS rd
       |  FROM (
       |    SELECT e.vec_id AS doc_id,
       |      ${ScalarFns.roundSql(duckCos("e.embedding", "q.qv"), 6)} AS cos
       |    FROM embeddings e,
       |      (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q) c) r
       |WHERE rd <= $TierN""".stripMargin

  /** Unrolled-greedy MMR oracle: pick 1 from the qsim argmax, picks
    * 2..[[Picks]] each a CTE joining the not-yet-selected candidates to
    * the selected set through the pair-sim table. */
  private def mmrOracleSql: String = {
    val head =
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings WHERE vec_id < $NQ),
         |qsim AS (
         |  SELECT q.qid, e.vec_id,
         |    ${ScalarFns.roundSql(duckCos("e.embedding", "q.qv"), 6)} AS qsim
         |  FROM embeddings e, q WHERE e.vec_id >= $NQ),
         |top AS (
         |  SELECT qid, vec_id, qsim FROM (
         |    SELECT qid, vec_id, qsim,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY qsim DESC, vec_id) AS rn
         |    FROM qsim) r WHERE rn <= $Pool),
         |cv AS (
         |  SELECT t.qid, t.vec_id, t.qsim, e.embedding
         |  FROM top t JOIN embeddings e ON t.vec_id = e.vec_id),
         |psim AS (
         |  SELECT a.qid, a.vec_id AS v1, b.vec_id AS v2,
         |    ${ScalarFns.roundSql(duckCos("a.embedding", "b.embedding"), 6)} AS psim
         |  FROM cv a JOIN cv b ON a.qid = b.qid AND a.vec_id < b.vec_id),
         |p1 AS (
         |  SELECT qid, vec_id, mmr FROM (
         |    SELECT qid, vec_id, mmr,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY mmr DESC, vec_id) AS rn
         |    FROM (
         |      SELECT qid, vec_id,
         |        ${ScalarFns.roundSql(s"$Lambda * qsim", 6)} AS mmr
         |      FROM top) m) r WHERE rn = 1)""".stripMargin
    val steps = (2 to Picks).map { t =>
      val sel = (1 until t).map(i => s"SELECT qid, vec_id FROM p$i")
        .mkString(" UNION ALL ")
      s"""p$t AS (
         |  SELECT qid, vec_id, mmr FROM (
         |    SELECT qid, vec_id, mmr,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY mmr DESC, vec_id) AS rn
         |    FROM (
         |      SELECT c.qid, c.vec_id,
         |        ${ScalarFns.roundSql(
                    s"$Lambda * c.qsim - ${1.0 - Lambda} * max(p.psim)", 6)} AS mmr
         |      FROM top c
         |      JOIN ($sel) s ON s.qid = c.qid
         |      JOIN psim p ON p.qid = c.qid
         |        AND p.v1 = least(c.vec_id, s.vec_id)
         |        AND p.v2 = greatest(c.vec_id, s.vec_id)
         |      WHERE NOT EXISTS (
         |        SELECT 1 FROM ($sel) s2
         |        WHERE s2.qid = c.qid AND s2.vec_id = c.vec_id)
         |      GROUP BY c.qid, c.vec_id, c.qsim) m) r WHERE rn = 1)""".stripMargin
    }
    val tail = (1 to Picks).map(t =>
      s"SELECT qid, CAST($t AS BIGINT) AS pick, vec_id, mmr FROM p$t")
      .mkString("\n  UNION ALL ")
    (head +: steps).mkString(",\n") +
      s"\nSELECT qid, pick, vec_id, mmr FROM (\n  $tail\n) u ORDER BY qid, pick"
  }

  val oracles: Map[String, String] = Map(
    "hybrid_search_rrf" ->
      s"""WITH s AS ($sparseTierSql),
         |d AS ($denseTierSql)
         |SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
         |  COALESCE(s.rs, 0) AS r_sparse,
         |  COALESCE(d.rd, 0) AS r_dense,
         |  ${ScalarFns.roundSql(
              s"(CASE WHEN s.rs IS NULL THEN 0.0 ELSE 1.0 / ($RrfK + s.rs) END) " +
              s"+ (CASE WHEN d.rd IS NULL THEN 0.0 ELSE 1.0 / ($RrfK + d.rd) END)",
              6)} AS rrf
         |FROM s FULL OUTER JOIN d ON s.doc_id = d.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "hybrid_search_fused" ->
      s"""WITH s AS ($sparseTierSql),
         |d AS ($denseTierSql),
         |sn AS (
         |  SELECT doc_id, ${ScalarFns.roundSql(
              "CASE WHEN mx = mn THEN 1.0 ELSE (bm25 - mn) / (mx - mn) END", 6)}
         |    AS norm_sparse
         |  FROM s, (SELECT min(bm25) AS mn, max(bm25) AS mx FROM s) mm),
         |dn AS (
         |  SELECT doc_id, ${ScalarFns.roundSql(
              "CASE WHEN mx = mn THEN 1.0 ELSE (cos - mn) / (mx - mn) END", 6)}
         |    AS norm_dense
         |  FROM d, (SELECT min(cos) AS mn, max(cos) AS mx FROM d) mm)
         |SELECT COALESCE(sn.doc_id, dn.doc_id) AS doc_id,
         |  COALESCE(sn.norm_sparse, 0.0) AS norm_sparse,
         |  COALESCE(dn.norm_dense, 0.0) AS norm_dense,
         |  ${ScalarFns.roundSql(
              "0.5 * COALESCE(sn.norm_sparse, 0.0) " +
              "+ 0.5 * COALESCE(dn.norm_dense, 0.0)", 6)} AS fused
         |FROM sn FULL OUTER JOIN dn ON sn.doc_id = dn.doc_id
         |ORDER BY fused DESC, doc_id LIMIT 10""".stripMargin,
    "mmr_rerank_batch" -> mmrOracleSql)
}
