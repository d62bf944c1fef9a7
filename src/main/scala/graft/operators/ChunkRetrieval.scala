package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.ScalarFns

/** CHUNK-LEVEL RETRIEVAL QUALITY BOARD — the composition the RAG tier
  * was missing (r10 verdict #4): [[Chunking]] builds the chunk store
  * and [[Hybrid]] grades fusion at the document grain, but nothing
  * measured whether HYBRID RETRIEVAL OVER CHUNKS actually works. This
  * board does, with KNOWN-PROVENANCE ground truth: the query is a
  * chunk, the relevant set is its SIBLING chunks (same document,
  * overlap-correlated by construction — the provenance column IS the
  * relevance judgment, no human labels needed), and the graded figure
  * is recall@k of the fused ranking — the acceptance test a RAG stack
  * runs before trusting its chunk index.
  *
  * Pipeline, per query chunk (chunk 0 of the first [[NQ]] docs with ≥ 2
  * chunks): a SPARSE tier (BM25 over chunk word-BIGRAMS) and a DENSE
  * tier (cosine over hashed bag-of-bigrams vectors, B = 256 buckets —
  * the [[Dsir]] hashed-feature discipline standing in for learned
  * embeddings, which the chunk grain has none of), each ranked to
  * depth [[TierN]], fused by Reciprocal Rank Fusion exactly as
  * [[Hybrid.hybridSearchRrf]] (1/(60+r), absent tier → 0, 6-dp
  * floor-rounded), top [[TopK]] kept. Bigrams, not unigrams — see
  * [[chunks]] for why unigram recall is degenerate here.
  *
  * Determinism: the sparse score is BM25 REWRITTEN AS AN EXACT
  * RATIONAL in ppm — with k1 = 1.2, b = 0.75 every per-term
  * contribution is `((2(nn−df)+1)·22·tf·Σdl·10⁶) div
  * ((2df+1)·(10·tf·Σdl + 3·Σdl + 9·dl·nn))`, an integral division of
  * exact integers — because the per-pair score sums over a DATA-
  * DEPENDENT set of matched terms, and a float sum aggregate is
  * partition-order-dependent (the one BM25 shape [[TextSignals]]
  * never hits: its query is a FIXED term list folded as columns).
  * Integer contributions commute. TWO deviations from float BM25,
  * stated here not hidden: (1) the per-term floor; (2) idf is the RAW
  * ODDS RATIO (N−df+0.5)/(df+0.5), NOT its logarithm — dropping the
  * log (libm-divergent across engines) compresses nothing per term
  * but reweights multi-term sums toward rare terms substantially, so
  * this is a different (self-consistent, oracle-matched) ranking
  * function, not float-BM25-with-rounding (r11 advice). Query term multiplicity
  * is ignored (qtf = 1, the standard simplification). The dense cosine
  * is a SINGLE IEEE expression per pair over exact integer dot/norms
  * (sqrt is exactly rounded), 6-dp floor-rounded — the [[Hybrid]]
  * discipline.
  *
  * 100 TB shape: tf/df/vec frames are partial-agg shuffles at chunk ×
  * term/bucket granularity off the shared chunk store; the query side
  * is [[NQ]] rows BROADCAST; per-query ranks are windows over
  * tier-bounded groups (TakeOrdered-shaped). The brute dense leg is
  * the deliberate baseline arm; its two SERVED twins are graded on the
  * same board — MinHash-banded candidates
  * ([[chunkRetrievalRecallBanded]]) and IVF-cell candidates
  * ([[chunkRetrievalRecallIvf]], r12) — so both candidate-generation
  * dials a 100 TB deployment turns are measured against the brute
  * recall; nothing in the fusion or grading changes between arms.
  */
object ChunkRetrieval extends graft.QueryModule {

  /** Query chunks graded. */
  private[graft] val NQ = 16
  /** Per-tier ranking depth fed into fusion. */
  private val TierN = 50
  /** RRF smoothing constant (the [[Hybrid.RrfK]] default). */
  private val RrfK = 60
  /** Fused results kept per query. */
  private[graft] val TopK = 10
  /** Hashed bag-of-BIGRAMS dimension for the dense tier (256: the
    * ~31-bigram chunks must not drown verbatim overlap in bucket
    * collisions — at 64, random collision mass ≈ the sibling signal). */
  private val Buckets = 256

  /** The shared chunk-BIGRAM frame (doc_id, chunk_idx, n_grams, gs) —
    * S6-cached: tf, df, dl and both vector legs all read it. The
    * retrieval unit is the word BIGRAM, not the unigram, because the
    * sibling signal IS verbatim overlap: on a small vocabulary (this
    * corpus: ~50 words) every chunk's unigram bag looks like every
    * other's and unigram recall measures nothing, while the 8-token
    * overlap window carries 7 verbatim bigrams whose df is low —
    * exactly the n-gram-over-token escalation the dedup tier's
    * shingles already institutionalize. Chunks with < 2 tokens have no
    * bigrams and leave the retrieval universe here (one rule,
    * all three legs + the oracle + the spec). */
  private def chunks(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|chunk_bigrams|$dir",
      ttlSeconds = 300)(
      Chunking.chunkTokenRows(spark, dir)
        .filter(size(col("ct")) >= 2) // sequence(1,0) counts DOWN — guard
        .select(col("doc_id"), col("chunk_idx"),
          (size(col("ct")) - 1).cast("long").as("n_grams"),
          expr("""transform(sequence(1, size(ct) - 1),
                 |  i -> concat(element_at(ct, i), ' ',
                 |              element_at(ct, i + 1)))""".stripMargin)
            .as("gs")))

  /** The query frame: chunk 0 of the NQ lowest doc_ids with ≥ 2
    * chunks, with the sibling ground-truth size. S6-cached (r12):
    * all four graded retrieval rows start from this identical NQ-row
    * frame, and each used to re-run the eligibility agg + join. */
  private def queryFrame(spark: SparkSession, dir: String,
      ch: DataFrame): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|chunk_q|$dir",
      ttlSeconds = 300) {
      val eligible = ch.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"))
        .filter(col("n_chunks") >= 2)
        .orderBy(col("doc_id"))
        .limit(NQ)
      ch.filter(col("chunk_idx") === 0)
        .join(broadcast(eligible), Seq("doc_id"))
        .select(col("doc_id").as("qdoc"), col("gs").as("qgs"),
          (col("n_chunks") - 1).as("n_relevant"))
    }

  /** The query hashed-BoW vectors + norms, S6-cached (r12): the brute,
    * banded and IVF dense legs (and the IVF probe) each re-derived
    * them per query — NQ×buckets rows, catalog-sized. */
  private def qvecCached(spark: SparkSession, dir: String,
      q: DataFrame): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|chunk_qvec|$dir",
      ttlSeconds = 300)(
      vecOf(q.withColumn("zero", lit(0L)), "qdoc", "zero", "qgs")
        .select(col("qdoc"), col("b"), col("v").as("qv")))

  /** GRADED: per-query recall@[[TopK]] of RRF-fused chunk retrieval
    * against the sibling-chunk ground truth. */
  def chunkRetrievalRecall(spark: SparkSession, dir: String): DataFrame = {
    val ch = chunks(spark, dir)
    val q = queryFrame(spark, dir, ch)
    fuseAndGrade(fusedBrute(spark, dir, ch, q), q)
  }

  /** The brute-dense fused top list, S6-cached (NQ×TopK rows): recall
    * and nDCG fold the IDENTICAL frame — one tier build serves both
    * graded rows (alphabetical owner: `chunk_retrieval_ndcg`). */
  private def fusedBrute(spark: SparkSession, dir: String,
      ch: DataFrame, q: DataFrame): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|chunk_fused|$dir",
      ttlSeconds = 300) {
      // the sparse tier and the dense tier's stored inputs are
      // independent builds — materialize them on concurrent driver
      // threads (r13, guide §2.6); denseRanks below then reads the
      // just-built cvec store / qvec cache
      val Seq(sparse, _, _) = graft.Tables.concurrently(spark)(
        () => sparseRanksCached(spark, dir, ch, q),
        () => cvecStore(spark, dir),
        () => qvecCached(spark, dir, q))
      fusedTop(sparse, denseRanks(spark, dir, ch, q, None))
    }

  /** The sparse tier ranks, S6-cached (≤ NQ×TierN rows): shared by the
    * brute pair AND the banded variant — the BM25 tier is identical
    * across all three graded retrieval rows. */
  private def sparseRanksCached(spark: SparkSession, dir: String,
      ch: DataFrame, q: DataFrame): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|chunk_sparse|$dir",
      ttlSeconds = 300)(sparseRanks(ch, q))

  /** Sparse tier: exact-rational BM25 ranks (shared by both variants).
    * The corpus (chunk, term) tf aggregate is PRUNED to query terms
    * BEFORE the exchange (r13, guide §2.3 / §3.2 — a broadcast
    * semi-join on the ≤ NQ×|chunk grams| distinct query bigrams): only
    * matched terms ever reach the BM25 sum, term-pruning drops no
    * chunk for a surviving term (df per query term is unchanged), and
    * the full gram stream no longer shuffles for the ~90 % of terms no
    * query contains. */
  private def sparseRanks(ch: DataFrame, q: DataFrame): DataFrame = {
    val qtermSet = q.select(explode(col("qgs")).as("term")).distinct()
    val tf = ch.select(col("doc_id"), col("chunk_idx"), col("n_grams"),
        explode(col("gs")).as("term"))
      .join(broadcast(qtermSet), Seq("term"), "left_semi")
      .groupBy(col("doc_id"), col("chunk_idx"), col("n_grams"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = ch.agg(count(lit(1)).as("nn"),
      sum(col("n_grams")).as("sumdl"))
    val qterms = q.select(col("qdoc"), explode(col("qgs")).as("term"))
      .distinct()
    qterms
      .join(tf, Seq("term"))
      .join(dfT.hint("broadcast"), Seq("term"))
      .crossJoin(broadcast(corpus))
      .filter(!(col("doc_id") === col("qdoc") && col("chunk_idx") === 0))
      .withColumn("s_ppm", expr(
        """(CAST(2 * (nn - df) + 1 AS DECIMAL(38,0)) * 22 * tf * sumdl
          |  * 1000000)
          |div (CAST(2 * df + 1 AS DECIMAL(38,0))
          |  * (10 * tf * sumdl + 3 * sumdl + 9 * n_grams * nn))"""
          .stripMargin))
      .groupBy(col("qdoc"), col("doc_id"), col("chunk_idx"))
      .agg(sum(col("s_ppm")).as("bm25_ppm"))
      .withColumn("rs", row_number().over(
        Window.partitionBy(col("qdoc"))
          .orderBy(col("bm25_ppm").desc, col("doc_id"), col("chunk_idx")))
        .cast("long"))
      .filter(col("rs") <= TierN)
      .select(col("qdoc"), col("doc_id"), col("chunk_idx"), col("rs"))
  }

  /** GRADED: the SCALE-PATH twin — the dense tier served from
    * MinHash-BAND candidates instead of a brute all-pairs sweep (the
    * [[Similarity]] LSH discipline at chunk granularity): each chunk
    * carries 4 band minhashes over its bigram set (the md5 4-slice
    * scheme; min() is duplicate-invariant so set-vs-stream is moot),
    * candidates are pairs sharing ANY band value, and cosine is
    * computed ONLY on candidates. Sparse tier, fusion rule and grading
    * are IDENTICAL to [[chunkRetrievalRecall]], so the two graded rows
    * differ exactly by the dense leg's candidate generation — the
    * recall-vs-cost dial a 100 TB deployment turns, made measurable
    * (the rp/pq recall-board discipline applied to the RAG tier). */
  def chunkRetrievalRecallBanded(spark: SparkSession,
      dir: String): DataFrame = {
    val ch = chunks(spark, dir)
    val q = queryFrame(spark, dir, ch)
    val sparse = sparseRanksCached(spark, dir, ch, q)
    // corpus band signatures, S6-cached (r12): one explode+agg pass,
    // not one per run of this query
    val sigs = graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|chunk_bandsigs|$dir",
      ttlSeconds = 300)(bandSigs(ch))
    val qsigs = q.select(col("qdoc"), col("qgs"))
      .join(sigs, col("qdoc") === col("doc_id") && col("chunk_idx") === 0)
      .select(col("qdoc"), col("band"), col("m"))
    val cand = qsigs.join(sigs, Seq("band", "m"))
      .filter(!(col("doc_id") === col("qdoc") && col("chunk_idx") === 0))
      .select(col("qdoc"), col("doc_id"), col("chunk_idx"))
      .distinct()
    val dense = denseRanks(spark, dir, ch, q, Some(cand))
    fuseAndGrade(fusedTop(sparse, dense), q)
  }

  /** IVF centroids (the [[Similarity]] frozen-centroid convention:
    * deterministic member election, here the [[IvfC]] lexicographically
    * first chunks) and probe width. */
  private[graft] val IvfC = 8
  private[graft] val IvfProbe = 2

  /** GRADED: the ANN-SERVED dense leg (r11 verdict #6) — the third
    * candidate-generation grade beside brute and MinHash-banded, making
    * the scaladoc's "at scale the dense leg swaps for the graded ANN
    * families" REAL: chunk vectors are routed into [[IvfC]] IVF cells
    * (nearest frozen centroid by the tier's own 6-dp cosine, ties →
    * centroid id), each query probes its [[IvfProbe]] nearest cells,
    * and the dense cosine is computed ONLY on probed-cell members —
    * the inverted-file recall/cost dial measured on the same board.
    * Sparse tier, fusion rule and grading verbatim from
    * [[chunkRetrievalRecall]]; centroid tables are catalog-sized and
    * broadcast everywhere (the corpus side never shuffles for them).
    * A chunk sharing no hash bucket with any centroid has no cell and
    * leaves the dense universe (inner-join semantics, both engines);
    * the sparse tier still carries it. */
  /** The centroid vector table (IvfC × ≤Buckets rows — catalog-sized,
    * broadcast everywhere). */
  private def centVecs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|chunk_centvecs|$dir",
      ttlSeconds = 300) {
      val cent = chunks(spark, dir).select(col("doc_id"), col("chunk_idx"))
        .orderBy(col("doc_id"), col("chunk_idx")).limit(IvfC)
        .withColumn("cid", row_number().over(
          Window.orderBy(col("doc_id"), col("chunk_idx"))).cast("long"))
      cvecStore(spark, dir)
        .join(broadcast(cent), Seq("doc_id", "chunk_idx"))
        .select(col("cid"), col("b"), col("v").as("cv"))
    }

  /** The corpus→cell assignment (doc_id, chunk_idx, cid), served from
    * scratch parquet once per (JVM, corpus): a pure function of the
    * corpus and the frozen centroids — exactly the inverted-file
    * LISTS a deployment stores next to its index, so serving reps
    * never re-pay the assignment sweep (only the probed-cell dense
    * scoring, the per-query cost IVF exists to bound). */
  private def ivfCells(spark: SparkSession, dir: String): DataFrame =
    graft.sources.GramStore.serve(spark, "chunkcells", dir) {
      val cvec = cvecStore(spark, dir)
      val cnorm = cvec.groupBy(col("doc_id"), col("chunk_idx"))
        .agg(sum(col("v") * col("v")).as("cn2"))
      val cvc = centVecs(spark, dir)
      val cvn = cvc.groupBy(col("cid")).agg(sum(col("cv") * col("cv"))
        .as("cc2"))
      cvec.join(broadcast(cvc), Seq("b"))
        .groupBy(col("doc_id"), col("chunk_idx"), col("cid"))
        .agg(sum(col("v") * col("cv")).as("dot"))
        .join(cnorm, Seq("doc_id", "chunk_idx"))
        .join(broadcast(cvn), Seq("cid"))
        .withColumn("cos", ScalarFns.roundN(
          col("dot").cast("double") /
            (sqrt(col("cn2").cast("double")) *
              sqrt(col("cc2").cast("double"))),
          6))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id"), col("chunk_idx"))
            .orderBy(col("cos").desc, col("cid"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("chunk_idx"), col("cid"))
    }

  def chunkRetrievalRecallIvf(spark: SparkSession, dir: String): DataFrame = {
    val ch = chunks(spark, dir)
    val q = queryFrame(spark, dir, ch)
    val sparse = sparseRanksCached(spark, dir, ch, q)
    val cvc = centVecs(spark, dir)
    val cvn = cvc.groupBy(col("cid")).agg(sum(col("cv") * col("cv"))
      .as("cc2"))
    val assign = ivfCells(spark, dir)
    val qvec = qvecCached(spark, dir, q)
    val qnorm = qvec.groupBy(col("qdoc")).agg(sum(col("qv") * col("qv"))
      .as("qn2"))
    val probe = qvec.join(broadcast(cvc), Seq("b"))
      .groupBy(col("qdoc"), col("cid"))
      .agg(sum(col("qv") * col("cv")).as("dot"))
      .join(broadcast(qnorm), Seq("qdoc"))
      .join(broadcast(cvn), Seq("cid"))
      .withColumn("cos", ScalarFns.roundN(
        col("dot").cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("cc2").cast("double"))),
        6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qdoc"))
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("rn") <= IvfProbe)
      .select(col("qdoc"), col("cid"))
    val cand = probe.join(assign, Seq("cid"))
      .filter(!(col("doc_id") === col("qdoc") && col("chunk_idx") === 0))
      .select(col("qdoc"), col("doc_id"), col("chunk_idx"))
    fuseAndGrade(fusedTop(sparse, denseRanks(spark, dir, ch, q,
      Some(cand))), q)
  }

  /** GRADED: nDCG@[[TopK]] of the fused (brute-dense) ranking — the
    * ORDER-sensitive companion to the recall row (the [[Similarity]]
    * `pq_ndcg` discipline applied to the RAG tier): binary relevance =
    * sibling chunk, discount 1/log₂(i+1) via the SAME driver-side
    * integer weight table ([[Similarity.DcgWeights]] — log evaluated
    * once on the driver, interpolated into BOTH engines' expressions,
    * so the whole grade is integer arithmetic over shared constants).
    * IDCG is query-dependent — the ideal list front-loads all
    * min(n_relevant, K) siblings — so its prefix sums are interpolated
    * as a CASE over least(n_relevant, K); ndcg_ppm = DCG·10⁶ div IDCG.
    * Rides the same tiers and fusion as the recall row; the whole
    * grade is one fold over the 16×10-row fused list. */
  def chunkRetrievalNdcg(spark: SparkSession, dir: String): DataFrame = {
    val ch = chunks(spark, dir)
    val q = queryFrame(spark, dir, ch)
    val fused = fusedBrute(spark, dir, ch, q)
    val weightCase = Similarity.DcgWeights.zipWithIndex
      .map { case (wt, i) => s"WHEN ${i + 1} THEN ${wt}L" }
      .mkString("CASE rk ", " ", " ELSE 0L END")
    val idcgPrefix = Similarity.DcgWeights.scanLeft(0L)(_ + _).tail
    val idcgCase = idcgPrefix.zipWithIndex
      .map { case (c, i) => s"WHEN ${i + 1} THEN ${c}L" }
      .mkString(s"CASE least(n_relevant, $TopK) ", " ", " ELSE 0L END")
    val dcg = fused
      .withColumn("gain",
        when(col("doc_id") === col("qdoc"), expr(weightCase))
          .otherwise(lit(0L)))
      .groupBy(col("qdoc")).agg(sum(col("gain")).as("dcg"))
    q.select(col("qdoc"), col("n_relevant"))
      .join(dcg, Seq("qdoc"), "left")
      .select(col("qdoc").as("doc_id"), col("n_relevant"),
        coalesce(col("dcg"), lit(0L)).as("dcg_scaled"))
      .withColumn("ndcg_ppm", expr(
        s"CAST((CAST(dcg_scaled AS DECIMAL(38,0)) * 1000000)" +
          s" div ($idcgCase) AS BIGINT)"))
      .orderBy("doc_id")
  }

  /** Per-chunk 4-band minhash rows (doc_id, chunk_idx, band, m) over
    * the bigram multiset — the [[Similarity.signaturesFrom]] md5-slice
    * scheme, unpivoted for the single-exchange band join. */
  private def bandSigs(ch: DataFrame): DataFrame = {
    val slices = (0 to 3).map(i =>
      substring(md5(col("term")), 1 + 8 * i, 8).as(s"h$i"))
    val mins = (0 to 3).map(i => min(col(s"h$i")).as(s"m$i"))
    ch.select(col("doc_id"), col("chunk_idx"),
        explode(col("gs")).as("term"))
      .select(Seq(col("doc_id"), col("chunk_idx")) ++ slices: _*)
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), col("chunk_idx"),
        explode(array((0 to 3).map(i =>
          struct(lit(i).as("band"), col(s"m$i").as("m"))): _*)).as("bm"))
      .select(col("doc_id"), col("chunk_idx"),
        col("bm.band").as("band"), col("bm.m").as("m"))
  }

  /** Hashed bag-of-bigrams count vectors at (doc, idx, b) granularity —
    * shared by the dense tier and the IVF candidate generator. */
  private def vecOf(df0: DataFrame, docC: String, idxC: String,
      tokC: String): DataFrame =
    df0.select(col(docC), col(idxC), explode(col(tokC)).as("term"))
      .withColumn("b", pmod(
        expr("CAST(conv(substring(md5(term), 1, 8), 16, 10) AS BIGINT)"),
        lit(Buckets.toLong)))
      .groupBy(col(docC), col(idxC), col("b"))
      .agg(count(lit(1)).as("v"))

  /** The corpus chunk-vector table, served from scratch parquet once
    * per (JVM, corpus) — the GramStore "derive once, serve many"
    * discipline: the brute, banded and IVF dense legs (and the IVF
    * cell assignment) each used to re-run the explode+hash+agg pass;
    * one build now serves all four consumers. */
  private def cvecStore(spark: SparkSession, dir: String): DataFrame =
    graft.sources.GramStore.serve(spark, "chunkvec", dir) {
      vecOf(chunks(spark, dir), "doc_id", "chunk_idx", "gs")
    }

  /** The dense cosine ranking; `candOpt` restricts scored pairs to a
    * candidate set (the banded/IVF scale paths) — None scores every
    * pair. */
  private def denseRanks(spark: SparkSession, dir: String,
      ch: DataFrame, q: DataFrame,
      candOpt: Option[DataFrame]): DataFrame = {
    val cvec = cvecStore(spark, dir)
    val cnorm = cvec.groupBy(col("doc_id"), col("chunk_idx"))
      .agg(sum(col("v") * col("v")).as("cn2"))
    val qvec = qvecCached(spark, dir, q)
    val qnorm = qvec.groupBy(col("qdoc")).agg(sum(col("qv") * col("qv"))
      .as("qn2"))
    val dots0 = qvec.join(cvec, Seq("b"))
      .filter(!(col("doc_id") === col("qdoc") && col("chunk_idx") === 0))
    val dots = candOpt match {
      case Some(cand) =>
        dots0.join(cand.hint("broadcast"),
          Seq("qdoc", "doc_id", "chunk_idx"), "left_semi")
      case None => dots0
    }
    dots
      .groupBy(col("qdoc"), col("doc_id"), col("chunk_idx"))
      .agg(sum(col("qv") * col("v")).as("dot"))
      .join(broadcast(qnorm), Seq("qdoc"))
      .join(cnorm, Seq("doc_id", "chunk_idx"))
      .withColumn("cos", ScalarFns.roundN(
        col("dot").cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("cn2").cast("double"))),
        6))
      .withColumn("rd", row_number().over(
        Window.partitionBy(col("qdoc"))
          .orderBy(col("cos").desc, col("doc_id"), col("chunk_idx")))
        .cast("long"))
      .filter(col("rd") <= TierN)
      .select(col("qdoc"), col("doc_id"), col("chunk_idx"), col("rd"))
  }

  /** The fused top-[[TopK]] list (qdoc, doc_id, chunk_idx, rk) — RRF
    * rule verbatim from [[Hybrid]]; recall and nDCG both fold it. */
  private def fusedTop(sparse: DataFrame, dense: DataFrame): DataFrame =
    sparse.join(dense, Seq("qdoc", "doc_id", "chunk_idx"),
        "full_outer")
      .withColumn("rrf", ScalarFns.roundN(
        when(col("rs").isNotNull, lit(1.0) / (lit(RrfK) + col("rs")))
          .otherwise(lit(0.0)) +
        when(col("rd").isNotNull, lit(1.0) / (lit(RrfK) + col("rd")))
          .otherwise(lit(0.0)), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qdoc"))
          .orderBy(col("rrf").desc, col("doc_id"), col("chunk_idx"))))
      .filter(col("rk") <= TopK)

  /** Sibling recall over a fused top list — shared by both variants. */
  private def fuseAndGrade(fused: DataFrame, q: DataFrame): DataFrame = {
    fused.groupBy(col("qdoc"))
      .agg(sum(when(col("doc_id") === col("qdoc"), 1L).otherwise(0L))
        .as("n_hits"))
      .join(q.select(col("qdoc"), col("n_relevant")), Seq("qdoc"), "right")
      .select(col("qdoc").as("doc_id"), col("n_relevant"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_ppm",
        expr("CAST((CAST(n_hits AS DECIMAL(38,0)) * 1000000)" +
          " div n_relevant AS BIGINT)"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "chunk_retrieval_recall" -> (chunkRetrievalRecall _),
    "chunk_retrieval_recall_banded" -> (chunkRetrievalRecallBanded _),
    "chunk_retrieval_recall_ivf" -> (chunkRetrievalRecallIvf _),
    "chunk_retrieval_ndcg" -> (chunkRetrievalNdcg _))

  /** DuckDB twin of the first-8-nibble u32 over hex column `h`. */
  private val u32Poly: String = (1 to 8).map { j =>
    val mult = 1L << (4 * (8 - j))
    s"(instr('0123456789abcdef', substr(h, $j, 1)) - 1) * $mult"
  }.mkString(" + ")

  /** Shared oracle prefix: chunking → bigrams → query set → sparse
    * tier → vectors → dense dots (dense0 = every bucket-sharing pair,
    * self excluded). Both variants build on this verbatim. */
  private def retrievalPrefix: String =
    s"""${Chunking.chunkCte},
       |chu AS (
       |  SELECT doc_id, chunk_idx,
       |    CAST(len(ct) - 1 AS BIGINT) AS n_grams, ct
       |  FROM ch WHERE len(ct) >= 2),
       |cg AS (
       |  SELECT doc_id, chunk_idx, n_grams,
       |    ct[i] || ' ' || ct[i + 1] AS term
       |  FROM chu, LATERAL unnest(generate_series(1, n_grams)) AS u(i)),
       |elig AS (
       |  SELECT doc_id, count(*) - 1 AS n_relevant
       |  FROM chu GROUP BY 1 HAVING count(*) >= 2
       |  ORDER BY doc_id LIMIT $NQ),
       |tf AS (
       |  SELECT doc_id, chunk_idx, n_grams, term,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM cg GROUP BY 1, 2, 3, 4),
       |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM tf GROUP BY 1),
       |corpus AS (SELECT CAST(count(*) AS BIGINT) AS nn,
       |    CAST(sum(n_grams) AS BIGINT) AS sumdl FROM chu),
       |qterms AS (
       |  SELECT DISTINCT e.doc_id AS qdoc, g.term
       |  FROM elig e JOIN cg g
       |    ON g.doc_id = e.doc_id AND g.chunk_idx = 0),
       |sparse0 AS (
       |  SELECT qt.qdoc, t.doc_id, t.chunk_idx,
       |    sum(CAST((CAST(2 * (c.nn - d.df) + 1 AS HUGEINT) * 22
       |        * t.tf * c.sumdl * 1000000)
       |      // (CAST(2 * d.df + 1 AS HUGEINT)
       |        * (10 * t.tf * c.sumdl + 3 * c.sumdl
       |           + 9 * t.n_grams * c.nn)) AS BIGINT)) AS bm25_ppm
       |  FROM qterms qt
       |  JOIN tf t ON t.term = qt.term
       |  JOIN dft d ON d.term = qt.term
       |  CROSS JOIN corpus c
       |  WHERE NOT (t.doc_id = qt.qdoc AND t.chunk_idx = 0)
       |  GROUP BY 1, 2, 3),
       |sparse AS (
       |  SELECT qdoc, doc_id, chunk_idx,
       |    CAST(row_number() OVER (PARTITION BY qdoc
       |      ORDER BY bm25_ppm DESC, doc_id, chunk_idx) AS BIGINT) AS rs
       |  FROM sparse0
       |  QUALIFY rs <= $TierN),
       |cvh AS (
       |  SELECT doc_id, chunk_idx, md5(term) AS h FROM cg),
       |cvec AS (
       |  SELECT doc_id, chunk_idx, ($u32Poly) % $Buckets AS b,
       |    CAST(count(*) AS BIGINT) AS v
       |  FROM cvh GROUP BY 1, 2, 3),
       |cnorm AS (SELECT doc_id, chunk_idx, sum(v * v) AS cn2
       |  FROM cvec GROUP BY 1, 2),
       |qvh AS (
       |  SELECT e.doc_id AS qdoc, md5(g.term) AS h
       |  FROM elig e JOIN cg g
       |    ON g.doc_id = e.doc_id AND g.chunk_idx = 0),
       |qvec AS (
       |  SELECT qdoc, ($u32Poly) % $Buckets AS b,
       |    CAST(count(*) AS BIGINT) AS qv
       |  FROM qvh GROUP BY 1, 2),
       |qnorm AS (SELECT qdoc, sum(qv * qv) AS qn2 FROM qvec GROUP BY 1),
       |dense0 AS (
       |  SELECT qv.qdoc, cv.doc_id, cv.chunk_idx,
       |    sum(qv.qv * cv.v) AS dot
       |  FROM qvec qv JOIN cvec cv ON cv.b = qv.b
       |  WHERE NOT (cv.doc_id = qv.qdoc AND cv.chunk_idx = 0)
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** Shared oracle middle from a `densed(qdoc, doc_id, chunk_idx,
    * dot)` CTE: cosine + rank, RRF fusion, top-K (ends at `top`). */
  private def retrievalRankCtes: String =
    s"""dense1 AS (
       |  SELECT d.qdoc, d.doc_id, d.chunk_idx,
       |    ${ScalarFns.roundSql(
          """CAST(d.dot AS DOUBLE)
            |      / (sqrt(CAST(qn.qn2 AS DOUBLE))
            |         * sqrt(CAST(cn.cn2 AS DOUBLE)))""".stripMargin,
          6)} AS cos
       |  FROM densed d
       |  JOIN qnorm qn ON qn.qdoc = d.qdoc
       |  JOIN cnorm cn ON cn.doc_id = d.doc_id
       |    AND cn.chunk_idx = d.chunk_idx),
       |dense AS (
       |  SELECT qdoc, doc_id, chunk_idx,
       |    CAST(row_number() OVER (PARTITION BY qdoc
       |      ORDER BY cos DESC, doc_id, chunk_idx) AS BIGINT) AS rd
       |  FROM dense1
       |  QUALIFY rd <= $TierN),
       |fused AS (
       |  SELECT coalesce(s.qdoc, de.qdoc) AS qdoc,
       |    coalesce(s.doc_id, de.doc_id) AS doc_id,
       |    coalesce(s.chunk_idx, de.chunk_idx) AS chunk_idx,
       |    ${ScalarFns.roundSql(
          """CASE WHEN s.rs IS NOT NULL
            |      THEN 1.0 / ($RRFK + s.rs) ELSE 0.0 END
            |    + CASE WHEN de.rd IS NOT NULL
            |      THEN 1.0 / ($RRFK + de.rd) ELSE 0.0 END""".stripMargin
            .replace("$RRFK", RrfK.toString), 6)} AS rrf
       |  FROM sparse s
       |  FULL OUTER JOIN dense de
       |    ON de.qdoc = s.qdoc AND de.doc_id = s.doc_id
       |    AND de.chunk_idx = s.chunk_idx),
       |top AS (
       |  SELECT qdoc, doc_id,
       |    row_number() OVER (PARTITION BY qdoc
       |      ORDER BY rrf DESC, doc_id, chunk_idx) AS rk
       |  FROM fused
       |  QUALIFY rk <= $TopK)""".stripMargin

  /** The recall fold over `top` (both variants' final SELECT). */
  private def recallTail: String =
    s"""hits AS (
       |  SELECT qdoc, CAST(sum(CASE WHEN doc_id = qdoc THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hits
       |  FROM top GROUP BY 1)
       |SELECT q.doc_id, CAST(q.n_relevant AS BIGINT) AS n_relevant,
       |  coalesce(h.n_hits, 0) AS n_hits,
       |  CAST((coalesce(h.n_hits, 0) * 1000000) // q.n_relevant
       |    AS BIGINT) AS recall_ppm
       |FROM elig q LEFT JOIN hits h ON h.qdoc = q.doc_id
       |ORDER BY doc_id""".stripMargin

  /** The nDCG fold over `top` — the pq_ndcg integer-weight discipline
    * with the SAME driver-side constants as the Spark side. */
  private def ndcgTail: String = {
    val weightCase = Similarity.DcgWeights.zipWithIndex
      .map { case (wt, i) => s"WHEN ${i + 1} THEN $wt" }
      .mkString("CASE t.rk ", " ", " ELSE 0 END")
    val idcgPrefix = Similarity.DcgWeights.scanLeft(0L)(_ + _).tail
    val idcgCase = idcgPrefix.zipWithIndex
      .map { case (c, i) => s"WHEN ${i + 1} THEN $c" }
      .mkString(s"CASE least(q.n_relevant, $TopK) ", " ", " ELSE 0 END")
    s"""dcg AS (
       |  SELECT t.qdoc,
       |    CAST(sum(CASE WHEN t.doc_id = t.qdoc
       |      THEN $weightCase ELSE 0 END) AS BIGINT) AS dcg_scaled
       |  FROM top t GROUP BY 1)
       |SELECT q.doc_id, CAST(q.n_relevant AS BIGINT) AS n_relevant,
       |  coalesce(d.dcg_scaled, 0) AS dcg_scaled,
       |  CAST((coalesce(d.dcg_scaled, 0) * 1000000)
       |    // ($idcgCase) AS BIGINT) AS ndcg_ppm
       |FROM elig q LEFT JOIN dcg d ON d.qdoc = q.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "chunk_retrieval_recall" ->
      s"""$retrievalPrefix,
         |densed AS (SELECT * FROM dense0),
         |$retrievalRankCtes,
         |$recallTail""".stripMargin,
    // same tiers + fusion, ORDER-sensitive fold
    "chunk_retrieval_ndcg" ->
      s"""$retrievalPrefix,
         |densed AS (SELECT * FROM dense0),
         |$retrievalRankCtes,
         |$ndcgTail""".stripMargin,
    // IVF-served: the dense dots restricted to probed-cell members —
    // frozen centroids = the IvfC lexicographically first chunks,
    // assignment/probe by the tier's own 6-dp cosine; everything else
    // (sparse tier, fusion, grading) verbatim
    "chunk_retrieval_recall_ivf" ->
      s"""$retrievalPrefix,
         |cent AS (
         |  SELECT doc_id, chunk_idx,
         |    CAST(row_number() OVER (ORDER BY doc_id, chunk_idx)
         |      AS BIGINT) AS cid
         |  FROM (SELECT doc_id, chunk_idx FROM chu
         |        ORDER BY doc_id, chunk_idx LIMIT $IvfC) x),
         |cvc AS (
         |  SELECT c.cid, v.b, v.v AS cv
         |  FROM cent c JOIN cvec v
         |    ON v.doc_id = c.doc_id AND v.chunk_idx = c.chunk_idx),
         |cvn AS (SELECT cid, sum(cv * cv) AS cc2 FROM cvc GROUP BY 1),
         |adot AS (
         |  SELECT v.doc_id, v.chunk_idx, c.cid, sum(v.v * c.cv) AS dot
         |  FROM cvec v JOIN cvc c ON c.b = v.b
         |  GROUP BY 1, 2, 3),
         |acos AS (
         |  SELECT a.doc_id, a.chunk_idx, a.cid,
         |    ${ScalarFns.roundSql(
            """CAST(a.dot AS DOUBLE)
              |      / (sqrt(CAST(n.cn2 AS DOUBLE))
              |         * sqrt(CAST(cn.cc2 AS DOUBLE)))""".stripMargin,
            6)} AS cos
         |  FROM adot a
         |  JOIN cnorm n ON n.doc_id = a.doc_id
         |    AND n.chunk_idx = a.chunk_idx
         |  JOIN cvn cn ON cn.cid = a.cid),
         |assign AS (
         |  SELECT doc_id, chunk_idx, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id, chunk_idx
         |      ORDER BY cos DESC, cid) AS rn FROM acos) x
         |  WHERE rn = 1),
         |qdot AS (
         |  SELECT q.qdoc, c.cid, sum(q.qv * c.cv) AS dot
         |  FROM qvec q JOIN cvc c ON c.b = q.b
         |  GROUP BY 1, 2),
         |qcos AS (
         |  SELECT d.qdoc, d.cid,
         |    ${ScalarFns.roundSql(
            """CAST(d.dot AS DOUBLE)
              |      / (sqrt(CAST(qn.qn2 AS DOUBLE))
              |         * sqrt(CAST(cn.cc2 AS DOUBLE)))""".stripMargin,
            6)} AS cos
         |  FROM qdot d
         |  JOIN qnorm qn ON qn.qdoc = d.qdoc
         |  JOIN cvn cn ON cn.cid = d.cid),
         |probe AS (
         |  SELECT qdoc, cid FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qdoc
         |      ORDER BY cos DESC, cid) AS rn FROM qcos) x
         |  WHERE rn <= $IvfProbe),
         |icand AS (
         |  SELECT p.qdoc, a.doc_id, a.chunk_idx
         |  FROM probe p JOIN assign a ON a.cid = p.cid
         |  WHERE NOT (a.doc_id = p.qdoc AND a.chunk_idx = 0)),
         |densed AS (
         |  SELECT d.qdoc, d.doc_id, d.chunk_idx, d.dot
         |  FROM dense0 d
         |  JOIN icand c ON c.qdoc = d.qdoc AND c.doc_id = d.doc_id
         |    AND c.chunk_idx = d.chunk_idx),
         |$retrievalRankCtes,
         |$recallTail""".stripMargin,
    // banded: the dense dots restricted to MinHash-band candidates —
    // everything else (sparse tier, fusion, grading) verbatim
    "chunk_retrieval_recall_banded" ->
      s"""$retrievalPrefix,
         |sigs AS (
         |  SELECT doc_id, chunk_idx, band,
         |    min(substr(md5(term), 1 + band * 8, 8)) AS m
         |  FROM cg, (SELECT unnest([0, 1, 2, 3]) AS band) bands
         |  GROUP BY 1, 2, 3),
         |qs AS (
         |  SELECT e.doc_id AS qdoc, s.band, s.m
         |  FROM elig e JOIN sigs s
         |    ON s.doc_id = e.doc_id AND s.chunk_idx = 0),
         |cand AS (
         |  SELECT DISTINCT q.qdoc, s.doc_id, s.chunk_idx
         |  FROM qs q JOIN sigs s ON s.band = q.band AND s.m = q.m
         |  WHERE NOT (s.doc_id = q.qdoc AND s.chunk_idx = 0)),
         |densed AS (
         |  SELECT d.qdoc, d.doc_id, d.chunk_idx, d.dot
         |  FROM dense0 d
         |  JOIN cand c ON c.qdoc = d.qdoc AND c.doc_id = d.doc_id
         |    AND c.chunk_idx = d.chunk_idx),
         |$retrievalRankCtes,
         |$recallTail""".stripMargin)

}
