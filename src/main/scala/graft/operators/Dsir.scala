package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.Extensions
import graft.streaming.Replay

/** DSIR-style DATA SELECTION via hashed n-gram importance (Xie et al.,
  * NeurIPS 2023 "Data Selection for Language Models via Importance
  * Resampling") — the named LLM-pipeline selection tier beside the
  * rule funnel ([[TextOps.qualityFunnel]]) and the LM-quality gate
  * ([[TextSignals.ngramLmQuality]]): score every raw doc by how much
  * its hashed-bigram profile looks like a TARGET domain, then keep the
  * top slice. Target here = the `lang = 'en'` subcorpus (the
  * "benchmark-like" domain); raw = the whole corpus.
  *
  * Exact-integer re-expression (the repo's no-libm discipline): DSIR's
  * per-feature weight is log p_tgt(b) − log p_raw(b); logarithms are
  * last-ulp divergent across engines, so the graded score is the MEAN
  * PER-OCCURRENCE RELEVANCE RATIO in ppm — score(d) = floor(Σ_g
  * ratio_ppm(b(g)) / n_grams(d)) with ratio_ppm(b) = floor(10⁶ ·
  * (c_tgt(b)+1)(N_raw+B) / ((c_raw(b)+1)(N_tgt+B))), Laplace-smoothed
  * over B = 64 buckets, widened to DECIMAL(38,0)/HUGEINT before the
  * multiply (the share-ppm overflow lesson). A sum of ratios is a
  * linear relevance model rather than naive Bayes — rank-equivalent in
  * the common near-uniform regime and exactly reproducible, which is
  * what the grade needs; the scaladoc states the substitution rather
  * than hiding it.
  *
  * 100 TB shape: the model is ONE map-side-combined (bucket) aggregate
  * into a 64-row frame; scoring is a broadcast join of that frame onto
  * the gram stream + one (doc) partial agg; selection is a global
  * TopK (orderBy.limit — per-partition top-k then a k-row reduce, the
  * [[Curation.prioritySample]] shape). No all-pairs, no driver loop;
  * doc length is platform-bounded so Σratio stays far under BIGINT.
  */
object Dsir extends graft.QueryModule {

  /** Hash buckets B (the published method's hashed feature space; 64
    * keeps the model human-auditable while leaving ~360 occurrences
    * per bucket at sf0.01). */
  private[graft] val Buckets = 64
  /** Docs kept by the selection tier. */
  private[graft] val SelK = 100

  /** (doc_id, source, lang, b) — one row per bigram OCCURRENCE, b =
    * u32(md5(gram)) % B. The repo-wide md5-nibble uniform, so the
    * oracle rebuilds b with the nibble polynomial. Over an ARBITRARY
    * docs frame: the streamed variant scores micro-batches through
    * this same code path. */
  private def featuresOf(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), col("source"), col("lang"),
        expr("word_grams(text, 2)").as("g"))
      .withColumn("b", pmod(
        expr("CAST(conv(substring(md5(g), 1, 8), 16, 10) AS BIGINT)"),
        lit(Buckets.toLong)))
  }

  private def features(spark: SparkSession, dir: String): DataFrame =
    featuresOf(Tables(spark, dir, "documents"))

  /** The 64-row bucket model: target/raw occurrence counts + the
    * smoothed relevance ratio. The bucket spine is generated in-plan
    * (`sequence`), so a bucket no gram hits still reports (0, 0,
    * smoothed ratio) — the frame is total by construction.
    * S6-cached: the model is consumed by its own grade, the scorer,
    * the selection, the yield report and the AUC — one tokenize+hash
    * pass per (session, corpus) instead of five. */
  def dsirBucketModel(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|dsir_model|$dir",
      ttlSeconds = 300)(dsirBucketModelUncached(spark, dir))

  private def dsirBucketModelUncached(spark: SparkSession, dir: String): DataFrame = {
    val counts = features(spark, dir)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("c_raw"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_tgt"))
    val spine = spark.range(1)
      .select(explode(sequence(lit(0L), lit((Buckets - 1).toLong))).as("b"))
    val model = spine.join(counts, Seq("b"), "left")
      .select(col("b"),
        coalesce(col("c_raw"), lit(0L)).as("c_raw"),
        coalesce(col("c_tgt"), lit(0L)).as("c_tgt"))
    val totals = model.agg(sum(col("c_raw")).as("n_raw"),
      sum(col("c_tgt")).as("n_tgt"))
    model.crossJoin(broadcast(totals))
      .selectExpr("b", "c_tgt", "c_raw",
        s"""CAST((CAST(c_tgt + 1 AS DECIMAL(38,0)) * (n_raw + $Buckets)
           |  * 1000000)
           |  DIV (CAST(c_raw + 1 AS DECIMAL(38,0)) * (n_tgt + $Buckets))
           |  AS BIGINT) AS ratio_ppm""".stripMargin)
      .orderBy("b")
  }

  /** Per-doc scores via the broadcast model join, kept as the shared
    * scoring frame (selection, yield and AUC all read it — S6-cached
    * for the same reason as the model). */
  private def scored(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|dsir_scored|$dir",
      ttlSeconds = 300)(scoredUncached(spark, dir))

  /** Score an arbitrary docs frame against a (64-row, broadcast)
    * model frame — the shared code path of the batch grade and the
    * streamed micro-batches: scoring is STATELESS per doc given the
    * frozen model (one broadcast join + one per-doc fold), so chopping
    * the corpus into micro-batches cannot change any score. */
  private[graft] def scoredOf(docs: DataFrame, m: DataFrame): DataFrame =
    featuresOf(docs)
      .join(broadcast(m.select(col("b"), col("ratio_ppm"))), Seq("b"))
      .groupBy(col("doc_id"), col("source"), col("lang"))
      .agg(count(lit(1)).as("n_grams"), sum(col("ratio_ppm")).as("rsum"))
      .selectExpr("doc_id", "source", "lang", "n_grams",
        "rsum DIV n_grams AS score_ppm")

  private def scoredUncached(spark: SparkSession, dir: String): DataFrame =
    scoredOf(Tables(spark, dir, "documents"), dsirBucketModel(spark, dir))

  /** The SELECTED slice: global top-[[SelK]] docs by (score desc,
    * doc_id) — membership-level grading, rank included so row identity
    * is pinned. orderBy.limit plans as TakeOrderedAndProject (per-
    * partition top-k, k-row reduce — no global sort shuffle). */
  def dsirSelectedDocs(spark: SparkSession, dir: String): DataFrame = {
    val top = scored(spark, dir)
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(SelK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_ppm").desc, col("doc_id")) // SelK rows only
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("lang"),
        col("n_grams"), col("score_ppm"))
      .orderBy("rank")
  }

  private val streamedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build (once per JVM, corpus) the STREAMED-SCORING artifact (r10
    * brief #6 / r11 verdict #2 — the selection tier's streamed twin):
    * the 64-row bucket model built ONCE and FROZEN to scratch parquet
    * (the stored-model stand-in), then the whole corpus replayed as a
    * real 2-file stream (AvailableNow + foreachBatch,
    * maxFilesPerTrigger=1) with each micro-batch scored against the
    * frozen model through [[scoredOf]] — the online half of a DSIR
    * deployment, where crawl ingest is scored as it lands and only
    * the top slice is ever shipped to training. Per-batch OVERWRITE
    * dirs (the versioned-sink idempotency rule: a replayed batch
    * rewrites its own dir, never appends duplicates). */
  private[graft] def streamedScoresDir(spark: SparkSession,
      dir: String): String =
    streamedDirs.computeIfAbsent(dir, { _ =>
      val root = graft.Tables.scratchDir("graft_dsir_stream_")
        .getAbsolutePath
      val ss = Extensions.newSession(spark,
        "spark.sql.shuffle.partitions" -> "2")
      dsirBucketModel(ss, dir).write.mode("overwrite")
        .parquet(s"$root/model")
      val docs = Tables(ss, dir, "documents")
      val feed = Replay.feed("graft_dsir_feed_", dir) {
        Seq(0, 1).map(par => docs.filter(pmod(col("doc_id"), lit(2)) === par))
      }
      Replay.run(Replay.read(ss, feed, 1).writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          scoredOf(batch.toDF(), ss.read.parquet(s"$root/model"))
            .write.mode("overwrite").parquet(s"$root/scores/b$batchId")
      }, "graft_dsir_sckpt_")
      root
    })

  /** GRADED: the STREAM-SCORED selection — batch oracle VERBATIM
    * (`dsir_selected_docs`): per-doc scoring against a frozen model is
    * stateless, so the micro-batch chopping must be invisible, and the
    * graded fact is that the online-scoring plumbing (feed, trigger,
    * per-batch sinks) composed with the terminal top-K reproduces
    * exactly the one-shot selection. The top-K itself runs over the
    * union of the per-batch score dumps — selection is the one
    * non-streamable step (a global rank), deliberately kept OUT of the
    * stream: a production deployment re-ranks the accumulated score
    * table per shipping cycle, exactly this shape. */
  def dsirSelectedStreamed(spark: SparkSession, dir: String): DataFrame = {
    val top = spark.read
      .parquet(
        Replay.batchDirs(s"${streamedScoresDir(spark, dir)}/scores"): _*)
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(SelK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_ppm").desc, col("doc_id")) // SelK rows only
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("source"), col("lang"),
        col("n_grams"), col("score_ppm"))
      .orderBy("rank")
  }

  /** What mix the selection produced — the report DSIR exists for:
    * per source, scored docs vs selected docs vs selected gram mass
    * (catalog-granularity finish over the two cached-size frames). */
  def dsirSourceYield(spark: SparkSession, dir: String): DataFrame = {
    val sel = dsirSelectedDocs(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_selected"),
        sum(col("n_grams")).as("sel_grams"))
    scored(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .join(sel, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("sel_grams"), lit(0L)).as("sel_grams"))
      .orderBy("source")
  }

  /** Value-range fan-out for the AUC prefix counts (the RankTest
    * discipline; hundreds at 100 TB). */
  private val AucBuckets = 16

  /** SELECTOR EVALUATION: rank-based AUC of the DSIR score against the
    * target label itself — AUC = P(score_en > score_other) + ½P(=),
    * THE standard selector quality number, in exact integers via the
    * doubled-midrank identity (the [[RankTest]] discipline): at
    * distinct-score granularity, doubled rank sum R₂ = Σ m_pos·(2c+m+1),
    * U₂ = R₂ − n_pos(n_pos+1), auc_ppm = floor(10⁶·U₂/(2·n_pos·n_neg)),
    * widened DECIMAL(38,0)/HUGEINT before the ×10⁶. Prefix counts c(v)
    * run through the two-phase bucket decomposition — no corpus-wide
    * single-partition window; the naive-window oracle proves the
    * decomposition exact. One row. */
  def dsirAuc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = scored(spark, dir)
      .select(col("score_ppm").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("p"))
    val g = lab.groupBy(col("v"))
      .agg(sum(col("p")).as("mp"), count(lit(1)).as("m"))
    val bounds = g.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val b = g.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        least(lit(AucBuckets - 1), greatest(lit(0),
          floor((col("v") - col("lo")) /
            ((col("hi") - col("lo")) / AucBuckets + lit(1e-6)))
            .cast("int"))))
      .drop("lo", "hi")
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = b.withColumn("lc", coalesce(sum(col("m")).over(wIn), lit(0L)))
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = b.groupBy(col("bucket")).agg(sum(col("m")).as("bm"))
      .withColumn("offset", coalesce(sum(col("bm")).over(wOff), lit(0L)))
      .select(col("bucket").as("obucket"), col("offset"))
    local.join(broadcast(offs), col("bucket") === col("obucket"))
      .withColumn("c", col("offset") + col("lc"))
      .agg(sum(col("mp")).as("n_pos"),
        (sum(col("m")) - sum(col("mp"))).as("n_neg"),
        sum(col("mp") * (lit(2) * col("c") + col("m") + 1)).as("r2_pos"))
      .selectExpr("n_pos", "n_neg", "r2_pos",
        "r2_pos - n_pos * (n_pos + 1) AS u2_pos",
        """CAST((CAST(r2_pos - n_pos * (n_pos + 1) AS DECIMAL(38,0))
          |  * 1000000) DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)
          |  AS BIGINT) AS auc_ppm""".stripMargin)
  }

  /** SELECTOR CALIBRATION: the decile LIFT table — the eval beside
    * [[dsirAuc]] a ranking gets deployed with: docs bucketed into
    * score deciles, each decile's target rate in exact ppm. Deciles
    * assigned at VALUE granularity — decile(v) = floor(10·c(v)/n) with
    * c(v) the exclusive prefix count — so tied scores share a decile
    * deterministically (ntile would split ties by physical order);
    * prefix counts ride the same two-phase bucket decomposition as the
    * AUC (no corpus-wide window), and the 10-row spine left-join makes
    * the frame total even when ties empty a decile. Rate widened
    * DECIMAL(38,0)/HUGEINT before the ×10⁶. */
  def dsirDecileLift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = scored(spark, dir)
      .select(col("score_ppm").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("p"))
    val g = lab.groupBy(col("v"))
      .agg(sum(col("p")).as("mp"), count(lit(1)).as("m"))
    val bounds = g.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val b = g.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        least(lit(AucBuckets - 1), greatest(lit(0),
          floor((col("v") - col("lo")) /
            ((col("hi") - col("lo")) / AucBuckets + lit(1e-6)))
            .cast("int"))))
      .drop("lo", "hi")
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = b.withColumn("lc", coalesce(sum(col("m")).over(wIn), lit(0L)))
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = b.groupBy(col("bucket")).agg(sum(col("m")).as("bm"))
      .withColumn("offset", coalesce(sum(col("bm")).over(wOff), lit(0L)))
      .select(col("bucket").as("obucket"), col("offset"))
    val n = g.agg(sum(col("m")).as("n"))
    val byDecile = local
      .join(broadcast(offs), col("bucket") === col("obucket"))
      .crossJoin(broadcast(n))
      .withColumn("decile", expr("(10 * (offset + lc)) DIV n"))
      .groupBy(col("decile"))
      .agg(sum(col("m")).as("n_docs"), sum(col("mp")).as("n_pos"))
    val spine = spark.range(1)
      .select(explode(sequence(lit(0L), lit(9L))).as("decile"))
    spine.join(byDecile, Seq("decile"), "left")
      .selectExpr("decile",
        "coalesce(n_docs, 0L) AS n_docs",
        "coalesce(n_pos, 0L) AS n_pos",
        """CASE WHEN coalesce(n_docs, 0L) = 0 THEN 0L
          |  ELSE CAST((CAST(coalesce(n_pos, 0L) AS DECIMAL(38,0))
          |    * 1000000) DIV coalesce(n_docs, 0L) AS BIGINT)
          |END AS pos_rate_ppm""".stripMargin)
      .orderBy("decile")
  }

  /** DuckDB twin of the first-8-nibble u32 over hex column `h`. */
  private val u32Poly: String = (1 to 8).map { j =>
    val mult = 1L << (4 * (8 - j))
    s"(instr('0123456789abcdef', substr(h, $j, 1)) - 1) * $mult"
  }.mkString(" + ")

  /** Shared oracle prefix ending at scored(doc_id, source, lang,
    * n_grams, score_ppm) — the bigram/bucket/model/score chain. */
  private val scoredCte: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, lang,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, source, lang,
       |    md5(t[i] || ' ' || t[i + 1]) AS h
       |  FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
       |  WHERE len(t) >= 2),
       |bh AS (SELECT doc_id, source, lang, ($u32Poly) % $Buckets AS b
       |  FROM bg),
       |spine AS (SELECT unnest(generate_series(0, ${Buckets - 1})) AS b),
       |cnt AS (SELECT b, count(*) AS c_raw,
       |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_tgt
       |  FROM bh GROUP BY 1),
       |model AS (SELECT s.b, coalesce(c.c_raw, 0) AS c_raw,
       |    coalesce(c.c_tgt, 0) AS c_tgt
       |  FROM spine s LEFT JOIN cnt c USING (b)),
       |tot AS (SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt FROM model),
       |ratio AS (SELECT b, c_tgt, c_raw,
       |    CAST((CAST(c_tgt + 1 AS HUGEINT) * (t.n_raw + $Buckets)
       |        * 1000000)
       |      // (CAST(c_raw + 1 AS HUGEINT) * (t.n_tgt + $Buckets))
       |      AS BIGINT) AS ratio_ppm
       |  FROM model, tot t),
       |scored AS (
       |  SELECT doc_id, source, lang,
       |    CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(r.ratio_ppm) // count(*) AS BIGINT) AS score_ppm
       |  FROM bh JOIN ratio r USING (b)
       |  GROUP BY 1, 2, 3)""".stripMargin

  private val selectedCte: String =
    s"""sel AS (
       |  SELECT row_number() OVER (ORDER BY score_ppm DESC, doc_id)
       |      AS rank,
       |    doc_id, source, lang, n_grams, score_ppm
       |  FROM scored
       |  ORDER BY score_ppm DESC, doc_id LIMIT $SelK)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dsir_bucket_model" -> (dsirBucketModel _),
    "dsir_selected_docs" -> (dsirSelectedDocs _),
    "dsir_selected_streamed" -> (dsirSelectedStreamed _),
    "dsir_source_yield" -> (dsirSourceYield _),
    "dsir_auc" -> (dsirAuc _),
    "dsir_decile_lift" -> (dsirDecileLift _))

  val oracles: Map[String, String] = Map(
    "dsir_bucket_model" ->
      s"""$scoredCte
         |SELECT CAST(b AS BIGINT) AS b, CAST(c_tgt AS BIGINT) AS c_tgt,
         |  CAST(c_raw AS BIGINT) AS c_raw, ratio_ppm
         |FROM ratio ORDER BY b""".stripMargin,
    "dsir_selected_docs" ->
      s"""$scoredCte,
         |$selectedCte
         |SELECT CAST(rank AS BIGINT) AS rank, doc_id, source, lang,
         |  n_grams, score_ppm
         |FROM sel ORDER BY rank""".stripMargin,
    // stream-scored ≡ one-shot: batch oracle VERBATIM (stateless
    // scoring with a frozen model — chopping must be invisible)
    "dsir_selected_streamed" ->
      s"""$scoredCte,
         |$selectedCte
         |SELECT CAST(rank AS BIGINT) AS rank, doc_id, source, lang,
         |  n_grams, score_ppm
         |FROM sel ORDER BY rank""".stripMargin,
    "dsir_source_yield" ->
      s"""$scoredCte,
         |$selectedCte,
         |y AS (SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
         |    CAST(sum(n_grams) AS BIGINT) AS sel_grams
         |  FROM sel GROUP BY 1)
         |SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  coalesce(max(y.n_selected), 0) AS n_selected,
         |  coalesce(max(y.sel_grams), 0) AS sel_grams
         |FROM scored s LEFT JOIN y ON y.source = s.source
         |GROUP BY 1 ORDER BY s.source""".stripMargin,
    // AUC oracle: the NAIVE single-window prefix count — proving the
    // Spark side's two-phase bucket decomposition exact, not just
    // engine parity
    "dsir_auc" ->
      s"""$scoredCte,
         |lab AS (SELECT score_ppm AS v,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
         |  FROM scored),
         |g AS (SELECT v, sum(p) AS mp, count(*) AS m FROM lab GROUP BY 1),
         |r AS (SELECT v, mp, m,
         |    coalesce(sum(m) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
         |  FROM g)
         |SELECT CAST(sum(mp) AS BIGINT) AS n_pos,
         |  CAST(sum(m) - sum(mp) AS BIGINT) AS n_neg,
         |  CAST(sum(mp * (2 * c + m + 1)) AS BIGINT) AS r2_pos,
         |  CAST(sum(mp * (2 * c + m + 1)) - sum(mp) * (sum(mp) + 1)
         |    AS BIGINT) AS u2_pos,
         |  CAST((CAST(sum(mp * (2 * c + m + 1))
         |        - sum(mp) * (sum(mp) + 1) AS HUGEINT) * 1000000)
         |    // (2 * CAST(sum(mp) AS HUGEINT) * (sum(m) - sum(mp)))
         |    AS BIGINT) AS auc_ppm
         |FROM r""".stripMargin,
    // decile lift: the NAIVE single-window prefix count again (the
    // decomposition proof), the identical floor(10c/n) tie-sharing rule
    "dsir_decile_lift" ->
      s"""$scoredCte,
         |lab AS (SELECT score_ppm AS v,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
         |  FROM scored),
         |g AS (SELECT v, sum(p) AS mp, count(*) AS m FROM lab GROUP BY 1),
         |r AS (SELECT v, mp, m,
         |    coalesce(sum(m) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
         |  FROM g),
         |n AS (SELECT sum(m) AS n FROM g),
         |d AS (SELECT (10 * r.c) // n.n AS decile, r.m, r.mp
         |  FROM r, n),
         |agg AS (SELECT decile, sum(m) AS n_docs, sum(mp) AS n_pos
         |  FROM d GROUP BY 1),
         |dspine AS (SELECT unnest(generate_series(0, 9)) AS decile)
         |SELECT CAST(s.decile AS BIGINT) AS decile,
         |  CAST(coalesce(a.n_docs, 0) AS BIGINT) AS n_docs,
         |  CAST(coalesce(a.n_pos, 0) AS BIGINT) AS n_pos,
         |  CASE WHEN coalesce(a.n_docs, 0) = 0 THEN 0
         |    ELSE CAST((CAST(coalesce(a.n_pos, 0) AS HUGEINT) * 1000000)
         |      // coalesce(a.n_docs, 0) AS BIGINT)
         |  END AS pos_rate_ppm
         |FROM dspine s LEFT JOIN agg a ON a.decile = s.decile
         |ORDER BY decile""".stripMargin)
}
