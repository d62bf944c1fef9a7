package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ScalarFns.roundN

/** N3 SCALAR QUANTIZATION (SQ8) ANN tier — the remaining classic
  * vector-compression operating point beside PQ (codebook), RP (bit
  * sketch) and IVF (routing): each float32 dimension is quantized
  * INDEPENDENTLY to one byte against the corpus per-dimension
  * [min, max] range (the faiss `SQ8` / Milvus `SQ8` index family).
  * 64 dims → 64 bytes/vector (4× smaller than float32, 4× larger than
  * the 4×8-bit PQ code, no codebook training required) and search is
  * an asymmetric distance computation: the float query against
  * dequantized corpus codes.
  *
  * Everything here is deterministic and cross-engine exact:
  *  - the trained "model" is per-dimension min/max — order-independent
  *    aggregates over float32, bit-identical on any partitioning and
  *    in DuckDB;
  *  - encode = `floor((x−mn)·255/(mx−mn))` evaluated in IEEE DOUBLE
  *    with the IDENTICAL expression tree on both engines (corpus
  *    values sit inside [mn, mx] by construction, so no clamp is
  *    needed — the only 255 code is the exact max); a zero-range
  *    dimension quantizes to code 0 by the same CASE on both sides;
  *  - ADC distance folds the per-dimension squared error left-to-right
  *    (Spark `aggregate` HOF ≡ DuckDB `list_reduce`), floor-rounded to
  *    6 dp with a deterministic vec_id tie-break.
  *
  * At 100 TB: min/max is one map-side-combined 64-row aggregate; the
  * codes table is a map-only projection (and what a deployment would
  * STORE — the float corpus is read once); queries broadcast the
  * 1-row (query, mins, maxs) tuple and scan codes, never floats. The
  * recall row re-uses the recall board's cached exact-L2 baseline
  * ([[Similarity.exactL2TopkIds]]) so the board stays one-kernel.
  *
  * Reference provenance: the reference serves similarity lookups from
  * full-precision embeddings (`backend/tools.py:58-75` scores fetched
  * segments in Python floats); this tier is the storage-efficiency
  * path such a service grows into.
  */
object Sq8 extends graft.QueryModule {

  private[graft] val Dims = 64

  /** One-row frame: per-dimension corpus min/max as ordered arrays. */
  private def minMax(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("j", "x")))
      .groupBy(col("j")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(
        expr("transform(array_sort(collect_list(struct(j, mn, mx)))," +
          " s -> s.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(j, mn, mx)))," +
          " s -> s.mx)").as("mxs"))

  // Spark-side encode lambda body for dimension i (0-based), value x.
  private def codeExpr: String =
    "CASE WHEN element_at(mxs, i+1) = element_at(mns, i+1) THEN 0 " +
      "ELSE CAST(floor(((CAST(x AS DOUBLE) - " +
      "CAST(element_at(mns, i+1) AS DOUBLE)) * 255.0D) / " +
      "(CAST(element_at(mxs, i+1) AS DOUBLE) - " +
      "CAST(element_at(mns, i+1) AS DOUBLE))) AS INT) END"

  /** vec_id → int8 code array (kept INT for engine portability),
    * served once per (session, dir) via the S6 cache. */
  private[operators] def codes(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|sq8_codes|$dir",
      ttlSeconds = 300) {
      Tables(spark, dir, "embeddings")
        .crossJoin(broadcast(minMax(spark, dir)))
        .select(col("vec_id"),
          expr(s"transform(embedding, (x, i) -> $codeExpr)").as("codes"),
          col("mns"), col("mxs"))
    }

  /** The graded ENCODE: codes rendered as a comma string (the driver
    * compare stays scalar-typed). */
  def sq8Codes(spark: SparkSession, dir: String): DataFrame =
    codes(spark, dir)
      .select(col("vec_id"),
        expr("array_join(transform(codes, c -> CAST(c AS STRING)), ',')")
          .as("code_str"))
      .orderBy("vec_id")

  // dequantized value of code c at dimension i (0-based), DOUBLE.
  private def dequantExpr(c: String, i: String): String =
    s"(CAST(element_at(mns, $i+1) AS DOUBLE) + (CAST($c AS DOUBLE) * " +
      s"(CAST(element_at(mxs, $i+1) AS DOUBLE) - " +
      s"CAST(element_at(mns, $i+1) AS DOUBLE))) / 255.0D)"

  private def adcExpr: String = {
    val diff = s"(CAST(element_at(qv, i+1) AS DOUBLE) - ${dequantExpr("c", "i")})"
    s"aggregate(transform(codes, (c, i) -> $diff * $diff), 0.0D," +
      " (acc, v) -> acc + v)"
  }

  /** SQ8 top-k: asymmetric (float query × dequantized codes) L2 over
    * the stored code table — the float corpus is NOT read. */
  def sq8Topk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val q = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    codes(spark, dir)
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), roundN(expr(adcExpr), 6).as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(k)
  }

  /** SQ8 recall@k against the cached exact-L2 baseline — the recall
    * board row for this tier (pq_recall row shape). */
  def sq8Recall(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val exact = Similarity.exactL2TopkIds(spark, dir, k)
    val hits = sq8Topk(spark, dir, k).select(col("vec_id"))
      .join(exact, Seq("vec_id"))
      .agg(count(lit(1)).as("n_hits"))
    hits.select(lit("sq8_adc").as("method"), lit(k.toLong).as("k"),
      col("n_hits"),
      roundN(col("n_hits").cast("double") / k, 2).as("recall_at_k"))
  }

  /** Composed IVF + SQ8 (the faiss `IVF,SQ8` index): the query routes
    * to its `nprobe` nearest centroids through the SHARED cached IVF
    * assignment ([[Similarity.ivfAssign]] — same build the cosine/PQ
    * tiers ride), then the ADC kernel runs over the CANDIDATE BUCKETS'
    * stored codes only — ~nprobe/√N of the code table scanned instead
    * of all of it, the float corpus still untouched. This is the
    * production operating point: routing bounds IO, SQ8 bounds memory,
    * and the recall row quantifies what the composition costs. */
  def ivfSq8Topk(spark: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = 2): DataFrame = {
    val qRoute = Similarity.ivfSims(spark, dir)
      .filter(col("vec_id") === 0)
      .orderBy(col("s").desc, col("cid"))
      .limit(nprobe)
      .select(col("cid"))
    val cands = Similarity.ivfAssign(spark, dir)
      .join(broadcast(qRoute), Seq("cid"))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"))
    val q = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    codes(spark, dir)
      .join(cands, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), roundN(expr(adcExpr), 6).as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(k)
  }

  /** IVF+SQ8 recall@k against the same cached exact-L2 baseline. */
  def ivfSq8Recall(spark: SparkSession, dir: String, k: Int = 10)
      : DataFrame = {
    val exact = Similarity.exactL2TopkIds(spark, dir, k)
    val hits = ivfSq8Topk(spark, dir, k).select(col("vec_id"))
      .join(exact, Seq("vec_id"))
      .agg(count(lit(1)).as("n_hits"))
    hits.select(lit("ivfsq8_probe2").as("method"), lit(k.toLong).as("k"),
      col("n_hits"),
      roundN(col("n_hits").cast("double") / k, 2).as("recall_at_k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sq8_codes" -> (sq8Codes _),
    "sq8_topk" -> ((s: SparkSession, d: String) => sq8Topk(s, d)),
    "sq8_recall" -> ((s: SparkSession, d: String) => sq8Recall(s, d)),
    "ivfsq8_topk" -> ((s: SparkSession, d: String) => ivfSq8Topk(s, d)),
    "ivfsq8_recall" -> ((s: SparkSession, d: String) => ivfSq8Recall(s, d)))

  // ---------------------------------------------------------------
  // DuckDB oracles: the identical pipeline restated over lists.
  // ---------------------------------------------------------------

  private val duckMinMax =
    s"""mm AS (
      |  SELECT t.j, min(e.embedding[t.j]) AS mn, max(e.embedding[t.j]) AS mx
      |  FROM embeddings e, generate_series(1, $Dims) t(j) GROUP BY 1),
      |arrs AS (
      |  SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs
      |  FROM mm)""".stripMargin

  // code for embedding[j] of row e against arrs (1-based j).
  private val duckCode =
    "CASE WHEN a.mxs[j] = a.mns[j] THEN 0 " +
      "ELSE CAST(floor(((CAST(e.embedding[j] AS DOUBLE) - " +
      "CAST(a.mns[j] AS DOUBLE)) * CAST(255.0 AS DOUBLE)) / " +
      "(CAST(a.mxs[j] AS DOUBLE) - CAST(a.mns[j] AS DOUBLE))) AS INT) END"

  private val duckAdc = {
    val dequant = "(CAST(a.mns[j] AS DOUBLE) + " +
      s"(CAST($duckCode AS DOUBLE) * (CAST(a.mxs[j] AS DOUBLE) - " +
      "CAST(a.mns[j] AS DOUBLE))) / CAST(255.0 AS DOUBLE))"
    val diff = s"(CAST(q.qv[j] AS DOUBLE) - $dequant)"
    "list_reduce(list_concat([CAST(0.0 AS DOUBLE)], " +
      s"list_transform(generate_series(1, $Dims), j -> $diff * $diff))," +
      " (a, b) -> a + b)"
  }

  // DuckDB twin of the cosine_sim kernel (verbatim from the IVF/PQ
  // oracles — proven bit-identical to the codegen'd kernel).
  private def duckCos(x: String, c: String): String =
    s"(list_reduce(list_transform(generate_series(1, len($x)), i -> " +
      s"CAST($x[i] AS DOUBLE) * CAST($c[i] AS DOUBLE)), (x, y) -> x + y) " +
      s"/ (sqrt(list_reduce(list_transform(generate_series(1, len($x)), " +
      s"i -> CAST($x[i] AS DOUBLE) * CAST($x[i] AS DOUBLE)), " +
      s"(x, y) -> x + y)) * sqrt(list_reduce(list_transform(" +
      s"generate_series(1, len($c)), i -> CAST($c[i] AS DOUBLE) * " +
      s"CAST($c[i] AS DOUBLE)), (x, y) -> x + y))))"

  private val duckIvfCands =
    s"""cent AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
       |  WHERE vec_id < ceil(sqrt((SELECT count(*) FROM embeddings)))),
       |sims AS (
       |  SELECT e.vec_id, c.cid,
       |    ${duckCos("e.embedding", "c.cv")} AS s
       |  FROM embeddings e CROSS JOIN cent c),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, cid) AS rn FROM sims) WHERE rn = 1),
       |qroute AS (
       |  SELECT cid FROM sims WHERE vec_id = 0
       |  ORDER BY s DESC, cid LIMIT 2),
       |cands AS (
       |  SELECT a.vec_id FROM assign a JOIN qroute r ON a.cid = r.cid
       |  WHERE a.vec_id <> 0)""".stripMargin

  val oracles: Map[String, String] = Map(
    "ivfsq8_topk" ->
      s"""WITH $duckMinMax,
         |$duckIvfCands,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id,
         |  floor($duckAdc * 1000000.0 + 0.5) / 1000000.0 AS adc
         |FROM embeddings e, arrs a, q
         |JOIN cands cd ON cd.vec_id = e.vec_id
         |ORDER BY adc, e.vec_id LIMIT 10""".stripMargin,
    "ivfsq8_recall" ->
      s"""WITH $duckMinMax,
         |$duckIvfCands,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |approx AS (
         |  SELECT e.vec_id, $duckAdc AS adc
         |  FROM embeddings e, arrs a, q
         |  JOIN cands cd ON cd.vec_id = e.vec_id
         |  ORDER BY adc, e.vec_id LIMIT 10),
         |exact AS (
         |  SELECT e.vec_id,
         |    list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
         |      list_transform(generate_series(1, $Dims), j ->
         |        (CAST(e.embedding[j] AS DOUBLE) - CAST(q.qv[j] AS DOUBLE))
         |        * (CAST(e.embedding[j] AS DOUBLE)
         |           - CAST(q.qv[j] AS DOUBLE)))), (a, b) -> a + b) AS d
         |  FROM embeddings e, q WHERE e.vec_id <> 0
         |  ORDER BY d, e.vec_id LIMIT 10)
         |SELECT 'ivfsq8_probe2' AS method, CAST(10 AS BIGINT) AS k,
         |  (SELECT count(*) FROM approx x JOIN exact t
         |     ON x.vec_id = t.vec_id) AS n_hits,
         |  floor((CAST((SELECT count(*) FROM approx x JOIN exact t
         |     ON x.vec_id = t.vec_id) AS DOUBLE) / 10) * 100.0 + 0.5)
         |    / 100.0 AS recall_at_k""".stripMargin,
    "sq8_codes" ->
      s"""WITH $duckMinMax
         |SELECT e.vec_id,
         |  array_to_string(list_transform(generate_series(1, $Dims),
         |    j -> $duckCode), ',') AS code_str
         |FROM embeddings e, arrs a
         |ORDER BY vec_id""".stripMargin,
    "sq8_topk" ->
      s"""WITH $duckMinMax,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  floor($duckAdc * 1000000.0 + 0.5) / 1000000.0 AS adc
         |FROM embeddings e, arrs a, q
         |WHERE e.vec_id <> 0
         |ORDER BY adc, vec_id LIMIT 10""".stripMargin,
    "sq8_recall" ->
      s"""WITH $duckMinMax,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |approx AS (
         |  SELECT e.vec_id, $duckAdc AS adc
         |  FROM embeddings e, arrs a, q
         |  WHERE e.vec_id <> 0
         |  ORDER BY adc, vec_id LIMIT 10),
         |exact AS (
         |  SELECT e.vec_id,
         |    list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
         |      list_transform(generate_series(1, $Dims), j ->
         |        (CAST(e.embedding[j] AS DOUBLE) - CAST(q.qv[j] AS DOUBLE))
         |        * (CAST(e.embedding[j] AS DOUBLE)
         |           - CAST(q.qv[j] AS DOUBLE)))), (a, b) -> a + b) AS d
         |  FROM embeddings e, q WHERE e.vec_id <> 0
         |  ORDER BY d, e.vec_id LIMIT 10)
         |SELECT 'sq8_adc' AS method, CAST(10 AS BIGINT) AS k,
         |  (SELECT count(*) FROM approx x JOIN exact t
         |     ON x.vec_id = t.vec_id) AS n_hits,
         |  floor((CAST((SELECT count(*) FROM approx x JOIN exact t
         |     ON x.vec_id = t.vec_id) AS DOUBLE) / 10) * 100.0 + 0.5)
         |    / 100.0 AS recall_at_k""".stripMargin)
}
