package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{ScalarFns, Shingles}

/** Repetition signals + ranked keyword retrieval over `documents` —
  * the two text-analysis families (north-star [N] N4, SURVEY.md §2.11)
  * a pretraining curation pipeline runs between quality filtering and
  * dedup: intra-document REPETITION detection (the "rep" signals of
  * Gopher-style filtering: a document that keeps repeating itself is
  * low-value even when its token counts look fine; reference semantics
  * generalize `tools.py:38-81`'s quality gates) and BM25-family ranked
  * retrieval (find the documents most relevant to a term set — the
  * triage query every corpus investigation starts with).
  *
  * Determinism contract (same discipline as [[Similarity]]):
  *  - per-document fractions are computed by ONE fixed expression tree
  *    in IEEE double (division/multiplication are exactly-rounded, so
  *    both engines agree bit-for-bit), then rounded via
  *    [[ScalarFns.roundN]];
  *  - per-SOURCE averages sum the already-rounded per-doc values as
  *    exact decimals (order-independent across partitions), then divide
  *    once — the moneyAvg pattern;
  *  - the BM25 idf is the RATIONAL Robertson–Spärck-Jones weight
  *    (N − df + 0.5)/(df + 0.5) WITHOUT the usual log: ln() is libm-
  *    dependent (JVM intrinsic vs DuckDB's libm can differ in the last
  *    ulp) while rational arithmetic is exactly-rounded IEEE on both
  *    engines. log is monotone, so for a singleton term the ranking is
  *    unchanged; for multi-term scores this weights high-idf terms more
  *    than classic BM25 — documented, deliberate, and the per-term
  *    machinery (df, tf, length normalization) is exactly BM25's.
  */
object TextSignals extends graft.QueryModule {

  private def toks: Column = Shingles.sparkToks

  /** Flag thresholds for the repetition report — referenced by BOTH the
    * Spark query and the oracle so they cannot drift. */
  private val Dup3Flag = 0.05
  private val TopBiFlag = 0.10

  /** N4 repetition signals, per source:
    *   dup3_frac  = 1 − distinct/total word-3-grams   (self-plagiarism)
    *   topbi_frac = count(most frequent word-2-gram)/total 2-grams
    *                (boilerplate loops)
    * averaged over docs (≥3 tokens), plus how many docs trip either
    * flag threshold.
    *
    * Scale shape: grams explode → ONE partial-agg shuffle at
    * (doc, gram) granularity → doc-level partial agg → tiny source
    * agg. No joins wider than doc granularity; nothing is collected.
    * At 100 TB the (doc, gram) shuffle is the honest cost and it is
    * map-side combined (counts), exactly like the dedup shingle path. */
  def repSignals(spark: SparkSession, dir: String): DataFrame = {
    // fanned out: the double explode pass is CPU-bound and the
    // bench-scale file is one split (Tables.fanOut scaladoc)
    val base = Tables.fanOut(spark, Tables(spark, dir, "documents"))
      .withColumn("t", toks)
      .filter(size(col("t")) >= 3)
    // (doc, gram) rows for both gram orders in ONE scan + ONE explode:
    // both gram arrays come off the same token array and concatenate as
    // (n, g) structs before the generator, so the documents scan and
    // the tokenizer run once — not once per gram order as a plain
    // UNION of two explodes would (two scans of a 100 TB corpus). One
    // partial-agg shuffle still serves both signals.
    val gramStructs =
      s"concat(transform(${Shingles.sparkExprN(3)}, " +
        "g -> named_struct('n', 3, 'g', g)), " +
        s"transform(${Shingles.sparkExprN(2)}, " +
        "g -> named_struct('n', 2, 'g', g)))"
    val grams = base.select(col("doc_id"),
        explode(expr(gramStructs)).as("x"))
      .select(col("doc_id"), col("x.n").as("n"), col("x.g").as("g"))
    val perGram = grams.groupBy(col("doc_id"), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
    // ONE doc-level aggregation pivots both gram orders out of the same
    // (doc, n, g) counts via conditional aggregates. The obvious
    // alternative — filter n=3 and n=2 into two frames and self-join —
    // makes Catalyst duplicate the entire scan→tokenize→explode subtree
    // into both join branches, running the generator twice; this shape
    // keeps the corpus pass genuinely single.
    val perDoc = perGram.groupBy(col("doc_id"))
      .agg(sum(when(col("n") === 3, col("c"))).as("total3"),
        count(when(col("n") === 3, lit(1))).as("distinct3"),
        sum(when(col("n") === 2, col("c"))).as("total2"),
        max(when(col("n") === 2, col("c"))).as("top2"))
    val fracs = perDoc.select(col("doc_id"),
      ScalarFns.roundN(lit(1.0)
        - col("distinct3").cast("double") / col("total3"), 6)
        .as("dup3_frac"),
      ScalarFns.roundN(
        col("top2").cast("double") / col("total2"), 6).as("topbi_frac"))
    fracs
      .join(Tables(spark, dir, "documents").select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        ScalarFns.roundN(sum(col("dup3_frac").cast("decimal(18,6)"))
          .cast("double") / count(lit(1)), 4).as("avg_dup3_frac"),
        ScalarFns.roundN(sum(col("topbi_frac").cast("decimal(18,6)"))
          .cast("double") / count(lit(1)), 4).as("avg_topbi_frac"),
        sum(when(col("dup3_frac") > Dup3Flag
          || col("topbi_frac") > TopBiFlag, 1L).otherwise(0L))
          .as("n_flagged"))
      .orderBy("source")
  }

  /** BM25 hyperparameters (classic defaults). */
  private val K1 = 1.2
  private val B = 0.75

  /** The fixed retrieval term set: one high-df, one mid-df, one
    * lower-df corpus term — the score must mix different idf weights
    * or the length normalization dominates and the test is trivial. */
  private[graft] val QueryTerms = Seq("join", "vector", "spark")

  /** N4/N3 ranked keyword retrieval: BM25-family score of every
    * document against [[QueryTerms]], top 20.
    *
    * Scale shape — the part that matters at 100 TB: per-term tf is
    * `size(filter(t, …))` (MAP-ONLY, no explode, no shuffle), corpus
    * statistics (N, avgdl, per-term df) reduce to ONE broadcast row,
    * and the score is a fixed per-row expression — so the whole query
    * is one corpus scan + a TakeOrderedAndProject. An inverted index
    * would only change WHERE tf comes from; the plan shape downstream
    * is identical.
    *
    * Determinism: score = s(t1) + s(t2) + s(t3) written LEFT-TO-RIGHT
    * as one expression (not an aggregate), every operand derived by
    * exactly-rounded IEEE ops — see object doc for the log-free idf. */
  def bm25Search(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    bm25Scores(spark, dir)
      .filter(col("bm25") > 0.0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)

  /** The UNRANKED BM25 score list (every doc, no filter/order/limit) —
    * the sparse tier shared by [[bm25Search]] and the hybrid-retrieval
    * fusion family ([[Hybrid]]), so both grade off ONE definition. */
  private[graft] def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .withColumn("t", toks)
      .withColumn("dl", size(col("t")).cast("double"))
    val withTf = QueryTerms.zipWithIndex.foldLeft(d) { case (df, (w, i)) =>
      df.withColumn(s"tf$i",
        expr(s"size(filter(t, x -> x = '$w'))").cast("double"))
    }
    val statsAggs = count(lit(1)).cast("double").as("nn") +:
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +:
      QueryTerms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast("double")
          .as(s"df$i"))
    val stats = withTf.agg(statsAggs.head, statsAggs.tail: _*)
    val score = QueryTerms.indices.map { i =>
      val idf = (col("nn") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5))
      val tfn = col(s"tf$i") * lit(K1 + 1.0) /
        (col(s"tf$i") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))
      idf * tfn
    }.reduceLeft(_ + _)
    withTf.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("source"),
        ScalarFns.roundN(score, 6).as("bm25"))
  }

  /** N4 per-document KEYWORD EXTRACTION (tf-idf salience) — the
    * document-side dual of [[bm25Search]] (which ranks docs for a
    * query; this names each doc's most characteristic terms): the
    * per-doc top-2 non-stopword terms by normalized term frequency ×
    * inverse document frequency. The tags a corpus browser / topic
    * audit shows next to every document.
    *
    * LOG-FREE like the BM25 idf (object doc): salience is the exact
    * rational (tf · N)/(df · dl) in PPM by floor division — BIGINT end
    * to end, and log is monotone in 1/df so a single term's salience
    * ranking against itself across docs is unchanged; cross-term the
    * high-idf emphasis is the documented BM25-family deviation.
    *
    * Scale shape: token explode → ONE (doc, term) partial-agg shuffle;
    * df reaggregates the TF TABLE (type granularity, never the
    * corpus); scoring joins tf against df KEYED ON THE TERM —
    * hash-partitioned both sides, no broadcast assumption (the LM
    * join discipline); the per-doc top-2 is a window over many small
    * doc groups. */
  def docKeywordsTfidf(spark: SparkSession, dir: String,
      topK: Int = 2): DataFrame = {
    val d = Tables.fanOut(spark, Tables(spark, dir, "documents"))
      .withColumn("t", toks)
    val dl = d.select(col("doc_id"), size(col("t")).cast("long").as("dl"))
    val tf = d.select(col("doc_id"), explode(col("t")).as("term"))
      .filter(!col("term").isin(TextOps.stopwords: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nn = dl.agg(count(lit(1)).as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("salience_ppm").desc, col("tf").desc, col("term"))
    tf.join(df_, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(nn))
      .selectExpr("doc_id", "term", "tf", "df",
        """CAST((CAST(tf AS DECIMAL(38,0)) * nn * 1000000)
          |  div (df * dl) AS BIGINT) AS salience_ppm""".stripMargin)
      .withColumn("kw_rank", row_number().over(w))
      .filter(col("kw_rank") <= topK)
      .select(col("doc_id"), col("kw_rank").cast("long").as("kw_rank"),
        col("term"), col("tf"), col("df"), col("salience_ppm"))
      .orderBy("doc_id", "kw_rank")
  }

  /** Coverage gate for the LM quality report (basis points). */
  private val LowCovBp = 5000L

  /** N-GRAM LM QUALITY SCORING — the CCNet/KenLM move the LLaMA-class
    * data pipelines run: train a cheap n-gram language model on a
    * trusted slice, score every candidate document by how well the
    * model predicts it, gate the outliers. Here the trigram LM is
    * trained on the md5-half 0-7 of the corpus (the decontamination
    * split idiom) and scores the 8-f half.
    *
    * NO LOGARITHMS — a perplexity would be Σ ln p with libm-dependent
    * last-ulp drift (the BM25/PSI lesson above); instead two exact
    * integer signals per document: conditional-probability mass in
    * PPM — Σ floor(10⁶·c₃/c₂) over its trigrams, floor-div both
    * engines — and trigram COVERAGE in basis points (the fraction the
    * LM has seen at all; unseen trigrams score 0 ppm). Monotone in the
    * same direction as perplexity for the gate's purpose, and
    * bit-exact under the hash grade. Exact while 10⁶·c₃ < 2⁶³, i.e.
    * any single trigram below ~9·10¹² training occurrences.
    *
    * Scale shape: trigram explode → ONE (gram) partial-agg shuffle for
    * the LM table (counts map-side combined); prefix counts reaggregate
    * the LM TABLE (type granularity), never the corpus; scoring is an
    * equi-join of eval grams against the LM keyed on the gram — at
    * 100 TB both sides hash-partition on the gram, no broadcast
    * assumption; then doc- and source-granularity aggregates. */
  def ngramLmQuality(spark: SparkSession, dir: String): DataFrame = {
    // bench-scale documents is ONE parquet split — without the fan-out
    // the trigram explode runs single-threaded (the Similarity lesson)
    val d = graft.Tables.fanOut(spark, Tables(spark, dir, "documents"))
      .select(col("doc_id"), col("source"), toks.as("t"))
      .filter(size(col("t")) >= 3)
      .withColumn("half",
        when(substring(md5(col("doc_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "train")
          .otherwise("eval"))
    val tri = d.select(col("doc_id"), col("source"), col("half"),
      explode(expr(Shingles.sparkExprN(3))).as("g"))
    val c3 = tri.filter(col("half") === "train")
      .groupBy(col("g")).agg(count(lit(1)).as("c3"))
      // trigram prefix = the string minus its last token (tokens are
      // single-space joined; arithmetic identical in the oracle)
      .withColumn("pfx", expr(
        "substring(g, 1, length(g) - length(element_at(split(g, ' '), 3)) - 1)"))
    val c2 = c3.groupBy(col("pfx")).agg(sum(col("c3")).as("c2"))
    val lm = c3.join(c2, Seq("pfx"))
      .select(col("g"),
        expr("CAST((CAST(c3 AS DECIMAL(38,0)) * 1000000) div c2 AS BIGINT)")
          .as("ppm"))
    val perDoc = tri.filter(col("half") === "eval")
      .join(lm, Seq("g"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("ppm").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum(coalesce(col("ppm"), lit(0L))).as("sum_ppm"))
      .select(col("source"),
        expr("sum_ppm div n_tri").as("mean_ppm"),
        expr("10000 * n_hit div n_tri").as("cov_bp"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(mean_ppm) div count(1)").as("avg_ppm"),
        expr("sum(cov_bp) div count(1)").as("avg_cov_bp"),
        sum(when(col("cov_bp") < LowCovBp, 1L).otherwise(0L)).as("n_low"))
      .orderBy(col("source"))
  }

  // ----------------------------------------------------------------
  // BPE TOKENIZER TRAINING (r8) — the one LLM-pipeline step the board
  // didn't yet represent: learn the merge table itself. Byte-level
  // BPE, fully deterministic, graded cross-engine with ZERO floats:
  //
  //  - repr₀: every character bracketed ('h e' → '{h}{ }{e}') — the
  //    brackets are outside the corpus charset (space + a-y), so a
  //    pair pattern '{a}{b}' can never match across token boundaries;
  //  - per round: count ALL adjacent token pairs (overlaps included),
  //    winner = max count with lexicographic tie-break, then ONE
  //    `replace(repr, '{a}{b}', '{ab}')` — both engines' replace is
  //    sequential non-overlapping left-to-right, which IS the BPE
  //    merge rule;
  //  - trained on a deterministic md5 sample (~1/16 of docs) — the
  //    production shape (tokenizers train on a corpus sample).
  //
  // The oracle unrolls all [[BpeRounds]] rounds in DuckDB with the
  // winner computed IN-SQL per round (the kmeans_converged
  // discipline: the iterative control loop graded against a
  // declarative unrolling, data-driven at every step). Scale: each
  // round is one explode + partial-agg shuffle over the sample and a
  // map-only replace — the loop collects exactly one (pattern, count)
  // row per round, planner-metadata scale.
  // ----------------------------------------------------------------

  private[graft] val BpeRounds = 5

  def bpeMergesLearned(spark: SparkSession, dir: String): DataFrame = {
    var repr = Tables(spark, dir, "documents")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
      .select(col("doc_id"),
        regexp_replace(col("text"), "(.)", "{$1}").as("repr"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.Buffer[(Int, String, Long)]()
    try {
      for (r <- 1 to BpeRounds) {
        val w = repr
          .select(expr("""regexp_extract_all(repr, '\\{[^{}]*\\}', 0)""")
            .as("t"))
          .filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(t) - 1)," +
              " i -> concat(element_at(t, i), element_at(t, i + 1)))"))
            .as("pr"))
          .groupBy(col("pr")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pr")).limit(1).head()
        val pat = w.getString(0)
        merges += ((r, pat, w.getLong(1)))
        if (r < BpeRounds) {
          // column-form replace (no SQL-literal interpolation of a
          // data-derived pattern — corpus text must never reach a SQL
          // string even though the current charset is brace-safe)
          val next = repr.select(col("doc_id"),
            replace(col("repr"), lit(pat), lit(pat.replace("}{", "")))
              .as("repr"))
            .localCheckpoint(true)
          graft.operators.Similarity.releaseCheckpoint(repr)
          repr = next
        }
      }
    } finally graft.operators.Similarity.releaseCheckpoint(repr)
    import spark.implicits._
    merges.toSeq.toDF("merge_round", "pair_pattern", "n_pairs")
      .orderBy("merge_round")
  }

  /** N4 PREFIX AUTOCOMPLETE — the search-box companion to the postings
    * tier: for every word prefix of length 2–4 with at least 2 distinct
    * completions in the corpus, the top-3 completions by corpus
    * frequency (ties → lexicographic).
    *
    * Scale shape — the part that matters: prefixes explode off the
    * DISTINCT TERM TABLE (vocabulary granularity, ≪ corpus; Heaps' law
    * keeps it sublinear), not off token instances — the corpus pays
    * exactly one (term) partial-agg shuffle and the 3× prefix fan-out
    * multiplies only the vocabulary. Ranking windows partition by
    * prefix: millions of tiny groups, no global sort. All counts
    * BIGINT. */
  def termAutocomplete(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables(spark, dir, "documents")
      .withColumn("t", toks)
      .select(explode(col("t")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("term_count"))
    val prefixed = terms
      .select(col("term"), col("term_count"),
        explode(array(lit(2), lit(3), lit(4))).as("plen"))
      .filter(length(col("term")) >= col("plen"))
      .select(expr("substring(term, 1, plen)").as("prefix"),
        col("term"), col("term_count"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prefix"))
      .orderBy(col("term_count").desc, col("term"))
    prefixed
      .withColumn("n_candidates",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("prefix"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("n_candidates") >= 2 && col("rank") <= 3)
      .select(col("prefix"), col("rank"), col("term"), col("term_count"),
        col("n_candidates"))
      .orderBy(col("prefix"), col("rank"))
  }

  /** Low-diversity threshold (ppm) for the Simpson gate — probed at
    * sf0.01: corpus diversity spans [0.78, 0.96], 5th percentile
    * ≈ 0.906, so 0.9 flags a live ~4-5 % low-diversity tail. */
  private[graft] val DiversityLowPpm = 900000L

  /** N-text QUALITY SIGNAL: per-source TOKEN DIVERSITY via the
    * GINI-SIMPSON index — the log-free diversity measure (Shannon
    * entropy is the textbook choice, but ln is libm-divergent across
    * engines; 1 − Σp² carries the same "repetitive template / spam"
    * signal as an EXACT RATIONAL): per doc,
    * `div_ppm = 10⁶ − (Σ cnt(term)²·10⁶) div n²`, all BIGINT (cnt ≤ n,
    * doc length platform-bounded; the ×10⁶ widened DECIMAL(38,0)/
    * HUGEINT for the 100 TB envelope). The per-source report is the
    * curation gate's acceptance row: doc count, mean diversity
    * (floored ppm), min, and how many docs fall under the
    * [[DiversityLowPpm]] low-diversity line — the C4-style "remove
    * boilerplate/repetitive pages" screen, graded.
    *
    * 100 TB: one token explode → (doc, term) partial-agg shuffle →
    * per-doc fold → ONE source-granularity aggregate. No windows, no
    * joins. */
  /** The per-doc Gini-Simpson frame (doc_id, source, n_tok, div_ppm) —
    * the source report folds it, and the [[CurationPipeline]] diversity
    * GATE consumes it directly (a doc with zero tokens emits no row —
    * the pipeline treats absent as fail-the-screen in both engines).
    * S6-cached (r13): THREE graded consumers (the source report and
    * both composed-pipeline rows) each re-ran the tokenize + two-level
    * fold over `documents`; the frame is doc-granularity, so one pass
    * serves all of them. `n_tok` (Σc ≡ the doc's whitespace token
    * count) rides along so the pipeline's account no longer pays its
    * own tokenize pass for the same number. */
  private[operators] def docDiversity(spark: SparkSession,
      dir: String): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|doc_diversity|$dir",
      ttlSeconds = 300)(
      Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"), explode(toks).as("term"))
        .groupBy(col("doc_id"), col("source"), col("term"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("ss"))
        .selectExpr("doc_id", "source", "CAST(n AS BIGINT) AS n_tok",
          """1000000L - CAST((CAST(ss AS DECIMAL(38,0)) * 1000000)
            |  DIV (n * n) AS BIGINT) AS div_ppm""".stripMargin))

  def tokenDiversityBySource(spark: SparkSession, dir: String): DataFrame =
    docDiversity(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(sum(div_ppm) DIV count(*) AS BIGINT)")
          .as("mean_div_ppm"),
        min(col("div_ppm")).as("min_div_ppm"),
        sum(when(col("div_ppm") < DiversityLowPpm, 1L).otherwise(0L))
          .as("n_low_diversity"))
      .orderBy("source")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "token_diversity_by_source" -> (tokenDiversityBySource _),
    "term_autocomplete" -> (termAutocomplete(_, _)),
    "bpe_merges_learned" -> (bpeMergesLearned _),
    "rep_signals" -> (repSignals _),
    "ngram_lm_quality" -> (ngramLmQuality _),
    "bm25_search" -> ((s: SparkSession, d: String) => bm25Search(s, d)),
    "doc_keywords_tfidf" -> ((s: SparkSession, d: String) =>
      docKeywordsTfidf(s, d)))

  /** The merge loop unrolled: per round the winner is computed IN-SQL
    * (cnt DESC, pair ASC) and the next repr derives from it via the
    * same boundary-safe replace. */
  private def bpeOracle: String = {
    val parts = scala.collection.mutable.Buffer(
      """rep1 AS (
        |  SELECT doc_id, regexp_replace(text, '(.)', '{\1}', 'g') AS repr
        |  FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0')"""
        .stripMargin)
    for (r <- 1 to BpeRounds) {
      parts += s"""t$r AS (
         |  SELECT doc_id,
         |    regexp_extract_all(repr, '\\{[^{}]*\\}') AS t FROM rep$r),
         |pc$r AS (
         |  SELECT pr, count(*) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         |      i -> t[i] || t[i + 1])) AS pr
         |    FROM t$r) GROUP BY 1),
         |w$r AS (SELECT pr, cnt FROM pc$r ORDER BY cnt DESC, pr LIMIT 1)"""
        .stripMargin
      if (r < BpeRounds)
        parts += s"""rep${r + 1} AS (
           |  SELECT d.doc_id,
           |    replace(d.repr, w.pr, replace(w.pr, '}{', '')) AS repr
           |  FROM rep$r d, w$r w)""".stripMargin
    }
    val arms = (1 to BpeRounds).map(r =>
      s"SELECT $r AS merge_round, pr AS pair_pattern, " +
        s"CAST(cnt AS BIGINT) AS n_pairs FROM w$r").mkString(" UNION ALL ")
    s"""WITH ${parts.mkString(",\n")}
       |SELECT * FROM ($arms) ORDER BY merge_round""".stripMargin
  }

  /** DuckDB twin of [[bm25Scores]] — the full (doc_id, source, bm25)
    * list with no filter/order/limit; operand order written identically
    * to the Spark Column tree. Shared with the [[Hybrid]] oracles. */
  private[graft] def bm25ScoresSql: String = {
    val scoreSql = TextSignals.QueryTerms.indices.map { i =>
      s"((nn - df$i + 0.5) / (df$i + 0.5)) * " +
        s"(tf$i * ${K1 + 1.0} / (tf$i + $K1 * ((1.0 - $B) + $B * dl / avgdl)))"
    }.mkString(" + ")
    val tfDefs = QueryTerms.zipWithIndex.map { case (w, i) =>
      s"CAST(len(list_filter(t, x -> x = '$w')) AS DOUBLE) AS tf$i"
    }.mkString(",\n    ")
    val dfDefs = QueryTerms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
      .mkString(",\n    ")
    s"""SELECT d.doc_id, doc.source,
       |  ${ScalarFns.roundSql(scoreSql, 6)} AS bm25
       |FROM (
       |  SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
       |    $tfDefs
       |  FROM (${Shingles.duckToks}) toks0) d
       |JOIN documents doc ON d.doc_id = doc.doc_id
       |CROSS JOIN (
       |  SELECT CAST(count(*) AS DOUBLE) AS nn,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
       |    $dfDefs
       |  FROM (
       |    SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
       |      $tfDefs
       |    FROM (${Shingles.duckToks}) toks1) d1) stats""".stripMargin
  }

  val oracles: Map[String, String] = {
    val g3 = Shingles.duckExprN(3)
    val g2 = Shingles.duckExprN(2)
    Map(
      "token_diversity_by_source" ->
        s"""WITH c AS (
           |  SELECT doc_id, source, term, CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT doc_id, source, unnest(t) AS term
           |        FROM (${Shingles.duckToksWithSource}) toks) u
           |  GROUP BY 1, 2, 3),
           |d AS (
           |  SELECT doc_id, source,
           |    1000000 - CAST((CAST(sum(c * c) AS HUGEINT) * 1000000)
           |      // (sum(c) * sum(c)) AS BIGINT) AS div_ppm
           |  FROM c GROUP BY 1, 2)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(div_ppm) // count(*) AS BIGINT) AS mean_div_ppm,
           |  CAST(min(div_ppm) AS BIGINT) AS min_div_ppm,
           |  CAST(sum(CASE WHEN div_ppm < $DiversityLowPpm THEN 1 ELSE 0
           |    END) AS BIGINT) AS n_low_diversity
           |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
      "term_autocomplete" ->
        s"""WITH terms AS (
           |  SELECT term, CAST(count(*) AS BIGINT) AS term_count
           |  FROM (SELECT unnest(t) AS term
           |        FROM (${Shingles.duckToks}) toks) u
           |  GROUP BY 1),
           |pfx AS (
           |  SELECT substr(term, 1, plen) AS prefix, term, term_count
           |  FROM terms, (SELECT unnest([2, 3, 4]) AS plen) l
           |  WHERE len(term) >= plen),
           |ranked AS (
           |  SELECT prefix, term, term_count,
           |    CAST(count(*) OVER (PARTITION BY prefix) AS BIGINT)
           |      AS n_candidates,
           |    CAST(row_number() OVER (PARTITION BY prefix
           |      ORDER BY term_count DESC, term) AS BIGINT) AS rank
           |  FROM pfx)
           |SELECT prefix, rank, term, term_count, n_candidates
           |FROM ranked WHERE n_candidates >= 2 AND rank <= 3
           |ORDER BY prefix, rank""".stripMargin,
      "bpe_merges_learned" -> bpeOracle,
      // same tokenizer, same stopword literal, same ppm floor division
      "doc_keywords_tfidf" ->
        s"""WITH d AS (
           |  SELECT doc_id,
           |    list_filter(string_split(text, ' '), x -> x <> '') AS t
           |  FROM documents),
           |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d),
           |tf AS (
           |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, unnest(t) AS term FROM d)
           |  WHERE term NOT IN (${TextOps.stopArrSql})
           |  GROUP BY 1, 2),
           |df AS (
           |  SELECT term, CAST(count(*) AS BIGINT) AS df
           |  FROM tf GROUP BY 1),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM dl),
           |sc AS (
           |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
           |    CAST((tf.tf * nn.nn * 1000000) // (df.df * dl.dl)
           |      AS BIGINT) AS salience_ppm
           |  FROM tf JOIN df ON tf.term = df.term
           |  JOIN dl ON tf.doc_id = dl.doc_id
           |  CROSS JOIN nn),
           |rk AS (
           |  SELECT doc_id, term, tf, df, salience_ppm,
           |    CAST(row_number() OVER (PARTITION BY doc_id
           |      ORDER BY salience_ppm DESC, tf DESC, term)
           |      AS BIGINT) AS kw_rank
           |  FROM sc)
           |SELECT doc_id, kw_rank, term, tf, df, salience_ppm
           |FROM rk WHERE kw_rank <= 2
           |ORDER BY doc_id, kw_rank""".stripMargin,
      "ngram_lm_quality" ->
        s"""WITH toks AS (
           |  SELECT doc_id, source,
           |    list_filter(string_split(text, ' '), x -> x <> '') AS t
           |  FROM documents),
           |d AS (
           |  SELECT doc_id, source, t,
           |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
           |      IN ('0','1','2','3','4','5','6','7') THEN 'train'
           |      ELSE 'eval' END AS half
           |  FROM toks WHERE len(t) >= 3),
           |tri AS (
           |  SELECT doc_id, source, half, unnest($g3) AS g FROM d),
           |c3 AS (SELECT g, count(*) AS c3 FROM tri
           |       WHERE half = 'train' GROUP BY 1),
           |c3p AS (
           |  SELECT g, c3,
           |    substr(g, 1, len(g) - len(string_split(g, ' ')[3]) - 1) AS pfx
           |  FROM c3),
           |c2 AS (SELECT pfx, sum(c3) AS c2 FROM c3p GROUP BY 1),
           |lm AS (SELECT c3p.g, CAST(1000000 * c3p.c3 // c2.c2 AS BIGINT)
           |         AS ppm
           |       FROM c3p JOIN c2 USING (pfx)),
           |ev AS (SELECT tri.doc_id, tri.source, lm.ppm
           |       FROM tri LEFT JOIN lm USING (g) WHERE tri.half = 'eval'),
           |pd AS (
           |  SELECT doc_id, source, count(*) AS n_tri,
           |    sum(CASE WHEN ppm IS NOT NULL THEN 1 ELSE 0 END) AS n_hit,
           |    sum(coalesce(ppm, 0)) AS sum_ppm
           |  FROM ev GROUP BY 1, 2),
           |ds AS (SELECT source, CAST(sum_ppm // n_tri AS BIGINT) AS mean_ppm,
           |        CAST(10000 * n_hit // n_tri AS BIGINT) AS cov_bp FROM pd)
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(mean_ppm) // count(*) AS BIGINT) AS avg_ppm,
           |  CAST(sum(cov_bp) // count(*) AS BIGINT) AS avg_cov_bp,
           |  CAST(sum(CASE WHEN cov_bp < $LowCovBp THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_low
           |FROM ds GROUP BY 1 ORDER BY 1""".stripMargin,
      "rep_signals" ->
        s"""WITH toks AS (
           |  ${Shingles.duckToks}),
           |grams AS (
           |  SELECT doc_id, 3 AS n, unnest($g3) AS g
           |  FROM toks WHERE len(t) >= 3
           |  UNION ALL
           |  SELECT doc_id, 2 AS n, unnest($g2) AS g
           |  FROM toks WHERE len(t) >= 3),
           |pg AS (
           |  SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
           |pd AS (
           |  SELECT doc_id, n, sum(c) AS total, count(*) AS distinct_g,
           |    max(c) AS top_c
           |  FROM pg GROUP BY 1, 2),
           |d3 AS (
           |  SELECT doc_id, ${ScalarFns.roundSql(
              "1.0 - CAST(distinct_g AS DOUBLE) / total", 6)} AS dup3_frac
           |  FROM pd WHERE n = 3),
           |d2 AS (
           |  SELECT doc_id, ${ScalarFns.roundSql(
              "CAST(top_c AS DOUBLE) / total", 6)} AS topbi_frac
           |  FROM pd WHERE n = 2)
           |SELECT d.source, count(*) AS n_docs,
           |  ${ScalarFns.roundSql(
              "CAST(sum(CAST(dup3_frac AS DECIMAL(18,6))) AS DOUBLE) / count(*)",
              4)} AS avg_dup3_frac,
           |  ${ScalarFns.roundSql(
              "CAST(sum(CAST(topbi_frac AS DECIMAL(18,6))) AS DOUBLE) / count(*)",
              4)} AS avg_topbi_frac,
           |  CAST(sum(CASE WHEN dup3_frac > $Dup3Flag
           |    OR topbi_frac > $TopBiFlag THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_flagged
           |FROM d3 JOIN d2 USING (doc_id)
           |JOIN documents d USING (doc_id)
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "bm25_search" ->
        s"""SELECT doc_id, source, bm25
           |FROM ($bm25ScoresSql) scores
           |WHERE bm25 > 0.0
           |ORDER BY bm25 DESC, doc_id
           |LIMIT 20""".stripMargin)
  }
}
