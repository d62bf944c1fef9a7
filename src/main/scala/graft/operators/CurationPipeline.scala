package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** THE CURATION PIPELINE COMPOSED END-TO-END (r11 verdict #1): every
  * C4/RefinedWeb/FineWeb stage exists in isolation — langid gate
  * ([[LangId]]), near-dup dedup ([[Similarity]]), token-diversity
  * screen ([[TextSignals]]), per-domain admission cap + temperature
  * mix ([[Curation]]) — and this query proves they COMPOSE: one plan
  * runs documents through
  *
  *   raw → langid gate → near-dup dedup → diversity screen →
  *   per-domain cap → temperature mix,
  *
  * and grades the per-stage ADMISSION ACCOUNT per source: docs
  * surviving each gate, char/token mass of the final admits, and the
  * mix allocation computed over exactly those admits — the reference's
  * own filter→aggregate→act loop (SCALING.md) at corpus scale.
  *
  * Stage semantics (each stage consumes the previous stage's
  * survivors, pinned by flag-implication in ContractSpec):
  *  - langid gate: keep docs whose PREDICTED language (whole-corpus
  *    scoring against the frozen train-split model, the planted eval
  *    frame — [[LangId.gatePredictions]]) agrees with the claimed
  *    `lang` — the CCNet "langid confirms the metadata" admission. A
  *    doc the scorer cannot featurize fails the gate (absent → false,
  *    both engines).
  *  - near-dup dedup: keep one doc per [[Similarity.neardupClusters]]
  *    component among gate survivors — keeper = min SURVIVING doc_id
  *    (a cluster whose minimum failed the gate still keeps its best
  *    remaining member; the [[Similarity.pipelineYield]] rule).
  *  - diversity screen: keep docs at or above the
  *    [[TextSignals.DiversityLowPpm]] Gini-Simpson line (the C4
  *    "remove repetitive/boilerplate pages" screen); a doc with no
  *    tokens has no diversity row and fails (absent → false).
  *  - per-domain cap: among diversity survivors, per source the top
  *    [[Curation.CapK]] by the md5-hex admission rank (the
  *    [[Curation.sourceCapSample]] rule — unbiased, reproducible,
  *    never first-K-by-ingest-order). n_admitted =
  *    min(n_diverse, K) structurally.
  *  - temperature mix: the α = 0.5 allocation
  *    ([[Curation.temperatureMix]] arithmetic verbatim — exact
  *    fixed-point √, DECIMAL(38,0)-widened products, integral
  *    divisions) over the ADMITTED token mass, budget = ¾ of admitted
  *    total. Zero-guards (a source may admit nothing; an empty board
  *    would zero Σw) emitted identically in both engines.
  *
  * Flag-column composition: every gate is a boolean column over ONE
  * flagged frame — no per-stage rescans — so the whole funnel costs
  * the corpus its substrate builds (langid features, LSH pairs,
  * diversity fold: all S6-/GramStore-shared with their standalone
  * graded queries) plus two rank windows and ONE source-granularity
  * aggregate. 100 TB: the dedup/gate substrates are the bucketed
  * builds already audited on their own rows; the cap window's hot-
  * domain swap is the graded [[Curation.sourceCapTopk]] bounded-heap
  * form (membership only — identical admission set).
  *
  * Oracle: a FROM-SCRATCH staged CTE — the planted langid chain, the
  * shingle→LSH→closure recursion, the diversity fold, both rank
  * windows and the mix arithmetic — sharing only constants with the
  * Spark side, so the hash grade proves the COMPOSITION, including
  * every substrate-cache interaction the per-operator grades can't
  * see.
  */
object CurationPipeline extends graft.QueryModule {

  /** The funnel over pluggable substrates — the base row and the
    * erased row differ ONLY in which docs/gate/cluster/diversity
    * frames flow in (full corpus vs survivor algebra); the flag
    * windows, cap rule and account are this ONE code path. */
  private def flaggedFrom(docs0: DataFrame, gate0: DataFrame,
      clu: DataFrame, div0: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val docs = docs0
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val gate = gate0.select(col("doc_id"),
      (col("lang_pred") === col("lang_true")).as("g_ok"))
    // n_tok rides the S6-cached diversity frame (r13): Σ per-term
    // counts ≡ size([[Shingles.sparkToks]]) for any doc WITH tokens,
    // and the account only ever sums n_tok over ADMITS (admit ⇒
    // dv_pass ⇒ a diversity row exists), so the coalesce-0 for
    // token-less docs is value-invisible — the pipeline no longer pays
    // its own tokenize pass for a number the diversity fold computes.
    val div = div0.select(col("doc_id"), col("n_tok"),
      (col("div_ppm") >= TextSignals.DiversityLowPpm).as("dv_ok"))
    docs
      .join(gate, Seq("doc_id"), "left")
      .withColumn("g_pass", coalesce(col("g_ok"), lit(false)))
      .join(clu, Seq("doc_id"))
      .withColumn("dd_rn", row_number().over(
        w.partitionBy(col("g_pass"), col("cluster"))
          .orderBy(col("doc_id"))))
      .withColumn("dd_pass", col("g_pass") && col("dd_rn") === 1)
      .join(div, Seq("doc_id"), "left")
      .withColumn("n_tok", coalesce(col("n_tok"), lit(0L)))
      .withColumn("dv_pass",
        col("dd_pass") && coalesce(col("dv_ok"), lit(false)))
      .withColumn("cap_rn", row_number().over(
        w.partitionBy(col("dv_pass"), col("source"))
          .orderBy(substring(md5(col("doc_id").cast("string")), 1, 8),
            col("doc_id"))))
      .withColumn("admit", col("dv_pass") && col("cap_rn") <= Curation.CapK)
  }

  /** The flagged frame (one row per doc, all stage flags) — shared by
    * the graded account and the spec implication pins. The three
    * substrates (gate scoring, LSH cluster closure, diversity fold)
    * are INDEPENDENT builds; materializing them on concurrent driver
    * threads (r13, guide §2.6) overlaps their straggler tails instead
    * of paying the three cold builds end to end. */
  private[graft] def flagged(spark: SparkSession, dir: String): DataFrame = {
    val Seq(gate, clu, div) = Tables.concurrently(spark)(
      () => LangId.gatePredictions(spark, dir),
      () => Similarity.neardupClusters(spark, dir),
      () => TextSignals.docDiversity(spark, dir))
    flaggedFrom(Tables(spark, dir, "documents"), gate, clu, div)
  }

  /** The erased twin's flagged frame: survivors only, every substrate
    * updated by its own erasure ALGEBRA — see
    * [[curationPipelineErased]]. Substrates build concurrently as in
    * [[flagged]]. */
  private[graft] def flaggedErased(spark: SparkSession, dir: String): DataFrame = {
    val surv = !IndexErasure.erased(col("doc_id"))
    val Seq(gate, clu, div) = Tables.concurrently(spark)(
      () => LangId.gatePredictionsErased(spark, dir),
      () => Similarity.neardupClustersErased(spark, dir),
      () => TextSignals.docDiversity(spark, dir))
    flaggedFrom(Tables(spark, dir, "documents").filter(surv), gate, clu,
      div.filter(surv))
  }

  /** The per-source account + mix allocation over a flagged frame —
    * shared terminal of both graded rows. */
  private def accountFrom(flaggedFrame: DataFrame): DataFrame = {
    val acct = flaggedFrame
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("g_pass"), 1L).otherwise(0L)).as("n_langid"),
        sum(when(col("dd_pass"), 1L).otherwise(0L)).as("n_dedup"),
        sum(when(col("dv_pass"), 1L).otherwise(0L)).as("n_diverse"),
        sum(when(col("admit"), 1L).otherwise(0L)).as("n_admitted"),
        sum(col("n_chars")).as("chars_raw"),
        sum(when(col("admit"), col("n_chars")).otherwise(0L))
          .as("chars_admitted"),
        sum(when(col("admit"), col("n_tok")).otherwise(0L))
          .as("tok_admitted"))
      .withColumn("w_fp", expr(
        "CAST(floor(sqrt(CAST(tok_admitted AS DOUBLE)) * 1000000.0) AS BIGINT)"))
    val totals = acct.agg(
      sum(col("tok_admitted")).as("tot_adm"),
      sum(col("w_fp")).as("sum_w"))
    acct.crossJoin(broadcast(totals))
      // the temperatureMix `div` discipline: DECIMAL(38,0)-widened
      // products, IntegralDivide ≡ the oracle's HUGEINT `//`
      .withColumn("alloc_tokens", expr(
        """CASE WHEN sum_w = 0 THEN 0L
          |  ELSE CAST((CAST((3 * tot_adm) div 4 AS DECIMAL(38,0)) * w_fp)
          |    div sum_w AS BIGINT) END""".stripMargin))
      .withColumn("rate_ppm", expr(
        """CASE WHEN tok_admitted = 0 THEN 0L
          |  ELSE CAST((CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000)
          |    div tok_admitted AS BIGINT) END""".stripMargin))
      .select(col("source"), col("n_raw"), col("n_langid"), col("n_dedup"),
        col("n_diverse"), col("n_admitted"), col("chars_raw"),
        col("chars_admitted"), col("tok_admitted"), col("w_fp"),
        col("alloc_tokens"), col("rate_ppm"))
      .orderBy("source")
  }

  /** GRADED: the per-source admission account + the mix allocation
    * over the admits (see object scaladoc). */
  def curationPipelineAccount(spark: SparkSession, dir: String): DataFrame =
    accountFrom(flagged(spark, dir))

  /** GRADED: GDPR ERASURE PROPAGATED THROUGH THE COMPOSED PIPELINE —
    * the [[IndexErasure]] discipline (each stored artifact updated by
    * its own erasure algebra, survivors never re-derived) applied to
    * the whole funnel at once: the langid gate scores SURVIVOR
    * features (read from the stored substrate, not re-tokenized)
    * against the COUNT-SUBTRACTED model ([[LangId.langidModelErased]]
    * algebra), the dedup stage clusters the DV-FILTERED stored pair
    * table (pair candidacy is per-pair, so the filtered set ≡ the
    * survivor rebuild's pair set), diversity rows are per-doc and
    * simply retired, the cap re-ranks among survivors (hash-rank is
    * not append- OR delete-stable — eviction's mirror image: a
    * survivor can be ADMITTED because an erased admit vacated a slot),
    * and the mix re-allocates over the surviving admitted mass. The
    * oracle runs the ENTIRE from-scratch pipeline over `documents
    * WHERE survivor` — hash equality proves algebraic-update ≡
    * full-rebuild for the COMPOSITION, which no per-family erasure row
    * can see. */
  def curationPipelineErased(spark: SparkSession, dir: String): DataFrame =
    accountFrom(flaggedErased(spark, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curation_pipeline_account" -> (curationPipelineAccount _),
    "curation_pipeline_erased" -> (curationPipelineErased _))

  /** The full staged-CTE from-scratch pipeline (no WITH prefix) — the
    * erased oracle rewrites its base-table references to a survivor
    * CTE, so the one body serves both grades. */
  private val pipelineBody: String =
      s"""${LangId.gatePredCtes},
         |${Similarity.shingleCte.stripPrefix("WITH ")},
         |${Similarity.lshScoredCtes},
         |${Similarity.clusterClosureCtes},
         |dvc AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(t) AS term FROM toks) u
         |  GROUP BY 1, 2),
         |dv AS (
         |  SELECT doc_id,
         |    1000000 - CAST((CAST(sum(c * c) AS HUGEINT) * 1000000)
         |      // (sum(c) * sum(c)) AS BIGINT) AS div_ppm
         |  FROM dvc GROUP BY 1),
         |ntok AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok
         |  FROM toks),
         |base AS (
         |  SELECT d.doc_id, d.source, d.n_chars, nt.n_tok,
         |    coalesce(gp.lang_pred = gp.lang_true, FALSE) AS g_pass,
         |    c.cluster,
         |    coalesce(dv.div_ppm >= ${TextSignals.DiversityLowPpm},
         |      FALSE) AS dv_ok
         |  FROM documents d
         |  JOIN ntok nt ON nt.doc_id = d.doc_id
         |  LEFT JOIN gpred gp ON gp.doc_id = d.doc_id
         |  JOIN clu c ON c.doc_id = d.doc_id
         |  LEFT JOIN dv ON dv.doc_id = d.doc_id),
         |f1 AS (
         |  SELECT *, row_number() OVER (PARTITION BY g_pass, cluster
         |    ORDER BY doc_id) AS dd_rn
         |  FROM base),
         |f2 AS (SELECT *, g_pass AND dd_rn = 1 AS dd_pass FROM f1),
         |f3 AS (SELECT *, dd_pass AND dv_ok AS dv_pass FROM f2),
         |f4 AS (
         |  SELECT *, row_number() OVER (PARTITION BY dv_pass, source
         |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
         |      doc_id) AS cap_rn
         |  FROM f3),
         |f5 AS (SELECT *,
         |    dv_pass AND cap_rn <= ${Curation.CapK} AS admit
         |  FROM f4),
         |acct AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_raw,
         |    CAST(sum(CASE WHEN g_pass THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_langid,
         |    CAST(sum(CASE WHEN dd_pass THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dedup,
         |    CAST(sum(CASE WHEN dv_pass THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_diverse,
         |    CAST(sum(CASE WHEN admit THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_admitted,
         |    CAST(sum(n_chars) AS BIGINT) AS chars_raw,
         |    CAST(sum(CASE WHEN admit THEN n_chars ELSE 0 END) AS BIGINT)
         |      AS chars_admitted,
         |    CAST(sum(CASE WHEN admit THEN n_tok ELSE 0 END) AS BIGINT)
         |      AS tok_admitted
         |  FROM f5 GROUP BY 1),
         |wf AS (
         |  SELECT *, CAST(floor(sqrt(CAST(tok_admitted AS DOUBLE))
         |    * 1000000.0) AS BIGINT) AS w_fp
         |  FROM acct),
         |tt AS (SELECT CAST(sum(tok_admitted) AS BIGINT) AS tot_adm,
         |    CAST(sum(w_fp) AS BIGINT) AS sum_w FROM wf),
         |alloc AS (
         |  SELECT w.*, CASE WHEN t.sum_w = 0 THEN 0
         |    ELSE CAST((CAST((3 * t.tot_adm) // 4 AS HUGEINT) * w.w_fp)
         |      // t.sum_w AS BIGINT) END AS alloc_tokens
         |  FROM wf w, tt t)
         |SELECT source, n_raw, n_langid, n_dedup, n_diverse, n_admitted,
         |  chars_raw, chars_admitted, tok_admitted, w_fp, alloc_tokens,
         |  CASE WHEN tok_admitted = 0 THEN 0
         |    ELSE CAST((CAST(alloc_tokens AS HUGEINT) * 1000000)
         |      // tok_admitted AS BIGINT) END AS rate_ppm
         |FROM alloc ORDER BY source""".stripMargin

  val oracles: Map[String, String] = Map(
    "curation_pipeline_account" -> ("WITH RECURSIVE " + pipelineBody),
    // the IDENTICAL from-scratch pipeline over the survivor slice —
    // proving the Spark side's composed algebraic erasure ≡ rebuild.
    // The rewrite is validated, not assumed: the body must reference
    // the base table at exactly the five known sites (planted frame,
    // langid class spine, tokenizer, cluster vertex set, account base).
    "curation_pipeline_erased" -> {
      val refs = "FROM documents".r.findAllIn(pipelineBody).length
      require(refs == 5,
        s"pipeline oracle: expected 5 base-table refs, found $refs — " +
          "update the erased rewrite alongside the body")
      "WITH RECURSIVE surv AS (SELECT * FROM documents WHERE " +
        IndexErasure.survivorSql("doc_id") + "),\n" +
        pipelineBody.replace("FROM documents", "FROM surv")
    })
}
