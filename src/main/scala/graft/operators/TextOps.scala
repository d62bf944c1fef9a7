package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ScalarFns.{roundN, roundSql}

/** Text-analysis operators for a training-data pipeline (north-star [N]
  * rows, SURVEY.md §2.11 N1/N4): exact dedup, term stats, language
  * stats, quality scoring, n-gram-heuristic language ID, BPE-ish token
  * counting, SimHash fingerprinting. All pure `functions._` column
  * pipelines — tokenization is `split`+`explode` (a Catalyst Generator),
  * so everything stays codegen'd and distributes trivially: per-doc maps
  * then hash aggregates.
  *
  * Scale notes: per-doc scoring is map-only (no shuffle). Term stats
  * shuffle once on the term after a map-side partial count. SimHash is
  * explode → one hash aggregate keyed by doc_id — at 100 TB the explode
  * multiplies rows by tokens/doc, but partial aggregation collapses them
  * back before the exchange.
  */
object TextOps extends graft.QueryModule {

  /** Shared stopword list (quality scoring + language ID). */
  val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
  /** SQL-quoted stopword list — ONE definition shared by every Spark
    * expression and every DuckDB oracle that tests stopword membership;
    * a list or quoting change in one consumer but not another would
    * silently break Spark↔oracle hash parity. */
  val stopArrSql: String = stopwords.map(s => s"'$s'").mkString(", ")

  private def toks: Column = graft.functions.Shingles.sparkToks

  /** N1 exact dedup: per-source duplicate accounting
    * (`dropDuplicates("text")` is the action form; this is the audit). */
  def exactDedupStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_texts"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_dupes"))
      .orderBy("source")

  /** Canonical text normalization (the step before exact dedup in a
    * training-data pipeline): lowercase, strip non-alphanumerics,
    * collapse whitespace, trim. */
  def normalized(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** DuckDB twin of [[normalized]] — oracle-critical, lives ONLY here.
    * (DuckDB regexp_replace needs the 'g' flag: its default is
    * first-match, Spark's is replace-all.) */
  def normSql(e: String): String =
    s"trim(regexp_replace(regexp_replace(lower($e), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Minimum token count for docQuality's 'fair' tier — shared with the
    * pipeline_yield quality gate on BOTH engines. */
  val QualityMinTokens = 10

  /** N1+ normalization-aware dedup audit: distinct raw texts vs
    * distinct NORMALIZED texts per source — the delta is the duplicate
    * mass that only normalization exposes (case/punctuation variants).
    * Map-only normalize, one partial-aggregated shuffle. */
  def normalizedDedup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("norm", normalized(col("text")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_raw"),
        countDistinct(col("norm")).as("n_distinct_norm"),
        (countDistinct(col("text")) - countDistinct(col("norm")))
          .as("n_norm_collisions"))
      .orderBy("source")

  /** Prefix-fingerprint window: the first this-many normalized tokens. */
  private[graft] val PrefixFpTokens = 32

  /** N2 PREFIX-FINGERPRINT dedup tier — the truncation-robust exact
    * tier between whole-doc hashing and shingle LSH: fingerprint the
    * FIRST [[PrefixFpTokens]] normalized tokens, so a truncated copy,
    * a doc re-crawled with a different tail, or a template with an
    * appended footer all collide on the prefix even though the
    * whole-doc hash differs. Reported groups are the INTERESTING
    * ones: ≥2 docs sharing the prefix whose FULL normalized texts
    * differ (whole-doc duplicates are the exact tier's job, prefix
    * dupes with identical bodies would double-count it).
    *
    * Scale: one map-side fingerprint + one (fp) partial-agg shuffle —
    * the cheapest dedup pass in the family; the fingerprint doubles as
    * a shard/bucket key at 100 TB. */
  def prefixDupGroups(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("norm", normalized(col("text")))
      .withColumn("fp", substring(md5(
        concat_ws(" ", slice(split(col("norm"), " "), 1, PrefixFpTokens))),
        1, 8))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("norm")).as("n_distinct_full"),
        min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_docs") >= 2 && col("n_distinct_full") >= 2)
      .orderBy("fp")

  /** N4 term stats: top-20 corpus terms (explode → count → top-k). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(explode(toks).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(20)

  /** N4+ heavy hitters with bounded memory: the top-20 exact terms
    * scored against the corpus-wide Count-Min sketch
    * ([[graft.plans.CmsSketch]] — a 4×256 counter array built in ONE
    * pass, merged by elementwise sum). n_cms ≥ n_exact always (CMS
    * never underestimates); the gap is the collision overestimate. At
    * 100 TB the sketch replaces the exact term group-by wherever ±N/w
    * error is acceptable — constant memory instead of a shuffle keyed
    * by every distinct term. */
  def cmsTermCounts(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables(spark, dir, "documents").select(explode(toks).as("term"))
    val sketch = terms.agg(expr("cms_sketch(term)").as("cms"))
    val ests = (0 until graft.plans.CmsSketch.D).map { i =>
      element_at(col("cms"), lit(i * graft.plans.CmsSketch.W + 1) +
        conv(substring(md5(concat(lit(s"$i:"), col("term"))), 1, 2),
          16, 10).cast("int"))
    }
    tokenStats(spark, dir).withColumnRenamed("n", "n_exact")
      .crossJoin(broadcast(sketch))
      .select(col("term"), col("n_exact"), least(ests: _*).as("n_cms"))
      .orderBy("term")
  }

  /** N4: per-language corpus distribution. */
  def langStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        roundN(sum(col("n_chars")).cast("double") / count(lit(1)), 2).as("avg_chars"))
      .orderBy("lang")

  /** N4 quality scoring: token count, stopword ratio, mean token length,
    * bucketed quality label — the length/stopword heuristics used to
    * filter LLM training corpora. Map-only (no shuffle). */
  def docQuality(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .withColumn("t", toks)
      .withColumn("n_tokens", size(col("t")).cast("bigint"))
      .withColumn("n_stop",
        expr(s"size(filter(t, x -> x in ($stopArrSql)))").cast("bigint"))
      .withColumn("stop_ratio",
        roundN(col("n_stop").cast("double") / col("n_tokens"), 4))
      .withColumn("avg_token_len",
        roundN(length(regexp_replace(col("text"), " ", "")).cast("double")
          / col("n_tokens"), 2))
      .withColumn("quality",
        when(col("n_tokens") >= 50 &&
             col("n_stop").cast("double") / col("n_tokens") >= 0.05, "good")
          .when(col("n_tokens") >= QualityMinTokens, "fair")
          .otherwise("poor"))
      .select("doc_id", "lang", "n_tokens", "n_stop", "stop_ratio",
        "avg_token_len", "quality")
      .orderBy("doc_id")
  }

  /** Language-marker word sets for the n-gram-heuristic language ID. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "is", "and", "of", "to"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "y", "que", "una"),
    "de" -> Seq("der", "die", "und", "das", "ein"))

  /** N4 language ID (marker-hit heuristic) → confusion matrix against
    * the labeled `lang` column. */
  def languageId(spark: SparkSession, dir: String): DataFrame = {
    def hits(words: Seq[String]): String =
      s"size(filter(t, x -> x in (${words.map(w => s"'$w'").mkString(", ")})))"
    // Hoist the 4 marker-hit counts into named columns BEFORE the CASE:
    // inlining them repeats each array scan 5× in the decision tree
    // (Catalyst does not CSE lambda-function subtrees), turning 4 array
    // passes per row into 20.
    val hitCols = Seq("en", "fr", "es", "de").map(l =>
      expr(hits(langMarkers(l))).as(s"h_$l"))
    Tables(spark, dir, "documents")
      .withColumn("t", toks)
      .select((col("lang") +: hitCols): _*)
      .withColumn("predicted", expr(
        """CASE WHEN h_en > h_fr AND h_en > h_es AND h_en > h_de AND h_en > 0 THEN 'en'
          |     WHEN h_fr > h_en AND h_fr > h_es AND h_fr > h_de AND h_fr > 0 THEN 'fr'
          |     WHEN h_es > h_en AND h_es > h_fr AND h_es > h_de AND h_es > 0 THEN 'es'
          |     WHEN h_de > h_en AND h_de > h_fr AND h_de > h_es AND h_de > 0 THEN 'de'
          |     ELSE 'und' END""".stripMargin))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted")
  }

  /** BPE-ish tokenizer regex: letter runs | digit runs | single other. */
  val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** N4 token counting with the BPE-ish regex, rolled up per source. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("n_bpe",
        size(expr(s"regexp_extract_all(text, '$bpePattern', 0)")).cast("bigint"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bpe")).as("total_tokens"),
        roundN(sum(col("n_bpe")).cast("double") / count(lit(1)), 2).as("avg_tokens"))
      .orderBy("source")

  /** 16-bit SimHash per document (document fingerprinting, N2/N4):
    * bit i is the sign of Σ_tokens (high-bit of hex char i of md5(token)
    * ? +1 : −1). Same md5 on DuckDB → oracle-identical.
    * ResultCache-shared (r5): the bucket view and the radius search
    * both consume the fingerprint table — one per-token-md5 corpus
    * pass serves both. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|simhash|$dir",
      ttlSeconds = 300)(simhashUncached(spark, dir))

  private def simhashUncached(spark: SparkSession, dir: String): DataFrame = {
    val high = Seq("8", "9", "a", "b", "c", "d", "e", "f")
      .map(s => s"'$s'").mkString(", ")
    // hash each token ONCE, then slice 16 hex chars — not 16 md5 calls
    // (Catalyst CSE does not dedup across aggregate functions)
    val bitSums = (1 to 16).map(i =>
      sum(expr(s"CASE WHEN substring(h, $i, 1) IN ($high) THEN 1 ELSE -1 END"))
        .as(s"s$i"))
    val bits = (1 to 16).map(i =>
      when(col(s"s$i") > 0, "1").otherwise("0"))
    // fanned out: per-token md5 over the corpus is CPU-bound and the
    // bench-scale file is one split (Tables.fanOut scaladoc)
    Tables.fanOut(spark, Tables(spark, dir, "documents"))
      .select(col("doc_id"), explode(toks).as("term"))
      .select(col("doc_id"), md5(col("term")).as("h"))
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), concat(bits: _*).as("simhash16"))
      .orderBy("doc_id")
  }

  /** Winnowing document fingerprints (the MOSS scheme): hash each word
    * 3-gram (rolling-hash analog), slide a 4-hash window, keep the
    * window minimum; the distinct kept hashes fingerprint the document.
    * Guarantees any shared run of ≥ 6 tokens between two docs shares a
    * fingerprint. Min over md5 hex strings = engine-independent. */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
    // fanned out: the shingle md5s + per-doc sliding window are
    // CPU-bound and the bench-scale file is one split; the window's
    // own (doc_id) shuffle is co-partitioned with the fan-out key.
    // Emission is the POSITIONED streaming generator (r5): same
    // 0-based ordinal as the posexplode-of-HOF form it replaced
    // (parity in WordGramSpec), no per-row token/gram arrays.
    Tables.fanOut(spark, Tables(spark, dir, "documents"))
      .select(col("doc_id"),
        expr("word_grams_pos(text, 3)").as(Seq("pos", "s")))
      .withColumn("sel", min(md5(col("s"))).over(win))
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("sel")).as("n_fingerprints"),
        min(col("sel")).as("min_fp"),
        max(col("sel")).as("max_fp"))
      .orderBy("doc_id")
  }

  /** SimHash bucket sizes — identical fingerprints = near-dup buckets. */
  def simhashBuckets(spark: SparkSession, dir: String): DataFrame =
    simhash(spark, dir)
      .groupBy(col("simhash16"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .orderBy("simhash16")

  /** N2 simhash RADIUS search (r5): document pairs at Hamming distance
    * ≤ 1 on the 16-bit fingerprint — exact-bucket equality (the
    * `simhash_buckets` view) misses near-dups that flip a single bit.
    * The scale shape is the standard simhash probe-table trick
    * (Manku/Jain/Sarma, WWW'07): each doc emits its fingerprint plus
    * all 16 one-bit flips, and candidates come from EQUI-joining
    * probes against exact fingerprints — 17·N probe rows, never the
    * N²/2 all-pairs Hamming scan (at radius r the probe count is
    * C(bits, ≤r): the memory/recall knob a deployment tunes). Each
    * qualifying pair matches exactly once (its distance-d differing
    * bit has exactly one matching flip; d = 0 matches on the identity
    * probe), so no distinct is needed. */
  def simhashNeighbors(spark: SparkSession, dir: String,
      radius: Int = 1): DataFrame = {
    require(radius >= 0 && radius <= 16, s"radius $radius out of [0,16]")
    // every fingerprint within Hamming ≤ radius of fa = fa XOR mask,
    // one mask per ≤radius-bit subset — C(16,≤r) masks (17 at r=1, 137
    // at r=2), generated once on the driver. A pair at distance d ≤ r
    // matches EXACTLY once (the unique mask equal to fa⊕fb), so no
    // distinct is needed; the integer form replaces r nested string
    // surgeries and makes the distance a codegen'd bit_count.
    val masks: Seq[Long] = (0 to radius).flatMap(d =>
      (0 until 16).combinations(d)
        .map(_.foldLeft(0L)((acc, b) => acc | (1L << b))).toSeq)
    val fp = simhash(spark, dir)
      .select(col("doc_id"),
        expr("CAST(conv(simhash16, 2, 10) AS BIGINT)").as("fpi"))
    val probes = fp.select(col("doc_id").as("doc_a"), col("fpi").as("fai"),
      explode(array(masks.map(m => col("fpi").bitwiseXOR(lit(m))): _*))
        .as("probe"))
    probes.join(
        fp.select(col("doc_id").as("doc_b"), col("fpi").as("fbi")),
        col("probe") === col("fbi") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(fai ^ fbi) AS BIGINT)").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** N4 quality FUNNEL (Gopher-style sequential filter rules): each doc
    * passes through ordered rules — token-count bounds, mean-word-length
    * bounds, symbol-ratio cap, minimum stopword evidence — and the
    * report counts, per source, how many docs each rule removes AMONG
    * the survivors of the previous rules. This per-rule attrition view
    * is how curation pipelines tune thresholds: a rule that kills 40 %
    * of a source is visible at a glance. Map-only flag columns + ONE
    * grouped aggregate — no per-rule rescans, no extra shuffle. */
  def qualityFunnel(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .withColumn("t", toks)
      .withColumn("n_tokens", size(col("t")).cast("bigint"))
      .withColumn("avg_tok",
        length(regexp_replace(col("text"), " ", "")).cast("double")
          / col("n_tokens"))
      .withColumn("sym_ratio",
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("double")
          / length(col("text")))
      .withColumn("n_stop",
        expr(s"size(filter(t, x -> x in ($stopArrSql)))").cast("bigint"))
      .withColumn("f1", col("n_tokens").between(10, 5000))
      .withColumn("f2", col("avg_tok").between(3.0, 10.0))
      .withColumn("f3", col("sym_ratio") <= 0.10)
      .withColumn("f4", col("n_stop") >= 2)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(!col("f1"), 1L).otherwise(0L)).as("fail_len"),
        sum(when(col("f1") && !col("f2"), 1L).otherwise(0L)).as("fail_wordlen"),
        sum(when(col("f1") && col("f2") && !col("f3"), 1L).otherwise(0L))
          .as("fail_symbol"),
        sum(when(col("f1") && col("f2") && col("f3") && !col("f4"), 1L)
          .otherwise(0L)).as("fail_stop"),
        sum(when(col("f1") && col("f2") && col("f3") && col("f4"), 1L)
          .otherwise(0L)).as("n_keep"))
      .orderBy("source")
  }

  /** The graded phrase (chosen to occur at every shipped SF). */
  private[graft] val PhraseTerms = Seq("fast", "table")

  /** N4 PHRASE SEARCH over a positional posting list — the exact-match
    * retrieval primitive BM25 ranking can't give (Lucene/Elastic
    * "match_phrase"): tokenize with positions, keep ONLY the queried
    * terms' postings (the pushdown a prebuilt term-partitioned index
    * gives for free at 100 TB — the phrase query touches postings
    * ∝ term frequency, never the corpus), then adjacency is an
    * EQUI-join on (doc, pos+1) between the two terms' posting lists —
    * never a substring scan over text. Both engines tokenize by
    * single-space split with 0/1-based positions whose offset cancels
    * in the adjacency predicate. Longer phrases chain one positional
    * join per extra term (each a further equi-join of a posting
    * list — linear, like the funnel's as-of chain). */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .filter(col("term").isin(PhraseTerms: _*))
    val a = toks.filter(col("term") === PhraseTerms(0))
      .select(col("doc_id"), col("source"), col("pos"))
    val b = toks.filter(col("term") === PhraseTerms(1))
      .select(col("doc_id").as("d2"), col("pos").as("p2"))
    a.join(b, col("doc_id") === col("d2") && col("p2") === col("pos") + 1)
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .orderBy("source")
  }

  /** Proximity-search window: positions within this many tokens. */
  private[graft] val ProximitySlop = 5

  /** N4 PROXIMITY (slop) SEARCH — Lucene's `match_phrase` with
    * `slop`: the retrieval tier between exact phrase adjacency and
    * bag-of-words BM25. Same positional postings as [[phraseSearch]],
    * but the positional predicate is a BAND (|p₁ − p₂| ≤
    * [[ProximitySlop]]) instead of the equi `p₂ = p₁ + 1`, and the
    * result RANKS matching docs by their closest co-occurrence
    * (min_dist asc — tighter proximity ⇒ more phrase-like), doc_id
    * tiebreak. Every phrase-adjacent doc necessarily appears here
    * with min_dist = 1 (spec-pinned superset law).
    *
    * Scale: postings ∝ term frequency, never the corpus; the band
    * join is doc-keyed with per-doc tf-bounded fan-out — at 100 TB it
    * rides the partition-pruned stored postings exactly like the
    * phrase/boolean tier. */
  def proximitySearch(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .filter(col("term").isin(PhraseTerms: _*))
    val a = toks.filter(col("term") === PhraseTerms(0))
      .select(col("doc_id"), col("source"), col("pos"))
    val b = toks.filter(col("term") === PhraseTerms(1))
      .select(col("doc_id").as("d2"), col("pos").as("p2"))
    a.join(b, col("doc_id") === col("d2") &&
        abs(col("p2") - col("pos")) <= ProximitySlop)
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("p2") - col("pos"))).cast("long").as("min_dist"))
      .orderBy(col("min_dist"), col("doc_id"))
  }

  /** Heavy-hitter threshold parameter: report terms with
    * count · HhK > N (share > 1/HhK). 30 splits the corpus vocabulary
    * roughly in half at every SF — the HAVING filter provably bites. */
  private[graft] val HhK = 30

  /** N4++ EXACT heavy hitters with BOUNDED-MEMORY candidate pruning —
    * the Misra-Gries two-phase: phase 1 runs an MG summary with
    * [[HhK]] counters INSIDE each partition (`mapPartitions` — this is
    * the genuinely imperative per-partition logic the rarely-used
    * escape hatch exists for) and emits only its surviving keys;
    * phase 2 exactly recounts the ≤ partitions·k candidate terms via a
    * broadcast semi join and applies the threshold count·k > N.
    *
    * Why the result is EXACT regardless of partitioning: a term with
    * global count > N/k must have local count > nₚ/k in at least one
    * partition (pigeonhole over the partition sums), and Misra-Gries
    * with k counters never evicts a key whose remaining local count
    * exceeds nₚ/k — so the candidate union is a SUPERSET of the true
    * heavy hitters, and the exact recount + threshold removes every
    * false candidate. The candidate set only bounds the recount cost.
    *
    * Scale: the full-vocabulary group-by (the naive plan, and the
    * DuckDB oracle — deliberately independent) shuffles every distinct
    * term; this plan shuffles ≤ partitions·k candidate terms after a
    * map-only pass with k counters of state — the classic
    * local-sketch-then-verify shape (same family as the stratified
    * top-k sampler, applied to frequency). */
  /** The Misra-Gries fold over one stream chunk: k counters, returns
    * the surviving keys. ONE definition shared by the operator's
    * `mapPartitions` and the spec's direct guarantee test — a spec
    * testing a private re-implementation would keep passing after the
    * production loop broke (r7c review finding). */
  private[graft] def misraGries(it: Iterator[String], k: Int): Set[String] = {
    val counters = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      counters.get(t) match {
        case Some(c) => counters(t) = c + 1
        case None if counters.size < k => counters(t) = 1L
        case None =>
          counters.keys.toList.foreach { key =>
            val v = counters(key) - 1
            if (v == 0L) counters.remove(key) else counters(key) = v
          }
      }
    }
    counters.keySet.toSet
  }

  /** Phase 2, shared by the batch operator and the streamed monitor
    * (ONE definition, cannot drift): exact recount of the candidate
    * terms via broadcast semi join + the count·k > N threshold. */
  private[graft] def recountHeavyHitters(spark: SparkSession, dir: String,
      candTerms: Seq[String], total: Long): DataFrame = {
    import spark.implicits._
    val cands = candTerms.toDF("term")
    Tables(spark, dir, "documents")
      .select(explode(toks).as("term"))
      .join(broadcast(cands), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .filter(col("n") * lit(HhK) > lit(total))
      .select(col("term"), col("n"),
        expr(s"CAST((CAST(n AS DECIMAL(38,0)) * 1000000) div ${total}L" +
          " AS BIGINT)").as("share_ppm"))
      .orderBy(col("n").desc, col("term"))
  }

  def heavyHittersExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Tables(spark, dir, "documents")
      .select(explode(toks).as("term")).as[String]
    val k = HhK
    // ONE map-only pass emits each partition's MG survivors AND its
    // element count; the result is catalog-scale (≤ partitions·(k+1)
    // rows), collected like any broadcast build side — so N comes for
    // free and the corpus is scanned exactly twice (MG pass + exact
    // recount), not three times (r7c review finding)
    val phase1 = terms.mapPartitions { it =>
      var np = 0L
      val survivors = misraGries(it.map { t => np += 1; t }, k)
      survivors.iterator.map(t => (t, 0L)) ++ Iterator((null: String, np))
    }.collect()
    val total = phase1.collect { case (null, np) => np }.sum
    val cands = phase1.collect { case (t, _) if t != null => t }
      .distinct.toSeq
    recountHeavyHitters(spark, dir, cands, total)
  }

  /** Term-bucket count for the STORED inverted index (8 partition
    * directories; thousands at 100 TB). */
  private[graft] val TermBuckets = 8

  /** Driver-side twin of the index's partition-column expression —
    * first md5 nibble of the term, mod [[TermBuckets]]. A spec pins
    * the two in lockstep (the BloomSketch.position discipline). */
  private[graft] def termBucket(t: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Integer.parseInt(
      "%02x".format(md.digest(t.getBytes("UTF-8"))(0)).substring(0, 1),
      16) % TermBuckets
  }

  // once-per-(JVM, corpus) stored positional postings, PARTITIONED by
  // term bucket — the layout that turns phrase search's "only the
  // queried terms' postings" from a runtime filter into PARTITION
  // PRUNING at the scan
  private val postingsDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def postingsDir(spark: SparkSession, dir: String): String =
    postingsDirs.computeIfAbsent(dir, { _ =>
      val f = graft.Tables.scratchDir("graft_postings_").getAbsolutePath
      Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .withColumn("tb",
          pmod(conv(substring(md5(col("term")), 1, 1), 16, 10).cast("int"),
            lit(TermBuckets)))
        .write.mode("overwrite").partitionBy("tb").parquet(f)
      f
    })

  /** Shared adjacency resolution over ANY stored postings path — the
    * query half of the indexed/maintained/compacted family, so the
    * three layouts cannot drift. Buckets computed on the driver land
    * as PartitionFilters: ≤2 of [[TermBuckets]] directories open. */
  private def phraseFromPostings(spark: SparkSession, path: String): DataFrame =
    phraseFromPostingsIdx(spark.read.parquet(path))

  /** Same adjacency resolution over an index FRAME — the erased read
    * path routes the DV-filtered view through here, so the four
    * layouts (one-shot, maintained, compacted, erased) share one query
    * definition and cannot drift. */
  private def phraseFromPostingsIdx(postings: DataFrame): DataFrame = {
    val buckets = PhraseTerms.map(termBucket).distinct
    val idx = postings
      .filter(col("tb").isin(buckets: _*) &&
        col("term").isin(PhraseTerms: _*))
    val a = idx.filter(col("term") === PhraseTerms(0))
      .select(col("doc_id"), col("source"), col("pos"))
    val b = idx.filter(col("term") === PhraseTerms(1))
      .select(col("doc_id").as("d2"), col("pos").as("p2"))
    a.join(b, col("doc_id") === col("d2") && col("p2") === col("pos") + 1)
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .orderBy("source")
  }

  /** N4 phrase search against the STORED index — the same adjacency
    * resolution as [[phraseSearch]], but reading a PREBUILT positional
    * posting table partitioned by term bucket: the query's two term
    * buckets are computed on the driver and land as PartitionFilters,
    * so the scan opens ≤2 of [[TermBuckets]] directories — the
    * physical realization of "query cost ∝ term frequency, never
    * corpus size" the inline form's scaladoc promises. Same oracle as
    * `phrase_search` on purpose: the index is a layout change, and the
    * hash match proves it lossless. `TextSimilaritySpec` asserts the
    * executed scan carries a `tb`-partition filter and reads fewer
    * partition directories than exist. */
  def phraseSearchIndexed(spark: SparkSession, dir: String): DataFrame =
    phraseFromPostings(spark, postingsDir(spark, dir))

  // ----------------------------------------------------------------
  // Posting-index MAINTENANCE lifecycle (r7 verdict #3) — the same
  // append/compaction moves the dedup index got in r7
  // ([[IncrementalDedup]] `_maintained`/`_compacted`), applied to the
  // stored inverted index: a real corpus's postings grow daily, and a
  // rebuild-the-index-per-ingest shop doesn't have an index, it has a
  // nightly batch job.
  //
  //  - DAY 1: postings of the base slice (md5(doc_id) first nibble
  //    ≥ '2', ~7/8 of the corpus) written under the SAME term-bucket
  //    partitioning as the one-shot index.
  //  - DAY 2 (append): the new docs' postings land as an ADDED FILE
  //    SET inside the existing tb=… directories — day-1 files are
  //    never rewritten (spec asserts their name+length set unchanged),
  //    and day-2 postings are wholly contained in the delta files, so
  //    day-2 docs are findable without touching a day-1 file.
  //  - COMPACTION: base ∪ delta folded per bucket into one
  //    term-sorted file each — pure layout, same oracle.
  //
  // All three read paths answer the SAME phrase query through
  // [[phraseFromPostings]] and are graded by the verbatim
  // `phrase_search` oracle over the full corpus: growth and folding
  // must both be invisible to the query's semantics. At 100 TB the
  // append is the daily ingest-ETL postings job (cost ∝ new docs) and
  // the fold runs per bucket-partition when its delta-file count
  // crosses a threshold — the [[Compaction]] arithmetic.
  // ----------------------------------------------------------------

  /** Day-2 (newly ingested) docs: md5 first nibble '0'/'1' (~1/8). */
  private[graft] def isDay2 =
    substring(md5(col("doc_id").cast("string")), 1, 1) < "2"

  /** Maintained index state: (root, day-1 files, delta files). */
  private[graft] final case class PostingsState(root: String,
      day1Files: Map[String, Long], deltaFiles: Map[String, Long])

  private def listParquet(root: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root))
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(f => f.getAbsolutePath -> f.length).toMap
  }

  private def postingsOf(spark: SparkSession, dir: String,
      dayFilter: org.apache.spark.sql.Column): DataFrame =
    Tables(spark, dir, "documents")
      .filter(dayFilter)
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .withColumn("tb",
        pmod(conv(substring(md5(col("term")), 1, 1), 16, 10).cast("int"),
          lit(TermBuckets)))

  private val maintainedStates =
    new java.util.concurrent.ConcurrentHashMap[String, PostingsState]()
  private[graft] def maintainedPostings(spark: SparkSession,
      dir: String): PostingsState =
    maintainedStates.computeIfAbsent(dir, { _ =>
      val root = graft.Tables.scratchDir("graft_postings_m_").getAbsolutePath
      // day 1: the base corpus slice, one-shot build
      postingsOf(spark, dir, !isDay2)
        .write.mode("overwrite").partitionBy("tb").parquet(root)
      val day1 = listParquet(root)
      // day 2: the new docs' postings APPENDED as a delta file set
      // under the same partitioning — no day-1 file is opened, let
      // alone rewritten
      postingsOf(spark, dir, isDay2)
        .write.mode("append").partitionBy("tb").parquet(root)
      val all = listParquet(root)
      PostingsState(root, day1, all -- day1.keys)
    })

  // compacted fold of the maintained index, once per (JVM, corpus)
  private val compactedPostingsDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def compactedPostingsDir(spark: SparkSession,
      dir: String): String =
    compactedPostingsDirs.computeIfAbsent(dir, { _ =>
      val out = graft.Tables.scratchDir("graft_postings_c_").getAbsolutePath
      spark.read.parquet(maintainedPostings(spark, dir).root)
        .repartition(TermBuckets, col("tb"))
        .sortWithinPartitions("tb", "term", "doc_id", "pos")
        .write.mode("overwrite").partitionBy("tb").parquet(out)
      out
    })

  /** GRADED: the phrase query over the GROWN index (base + delta) —
    * verbatim `phrase_search` oracle: the append must be exactly
    * corpus growth, nothing lost, nothing doubled. */
  def phraseSearchMaintained(spark: SparkSession, dir: String): DataFrame =
    phraseFromPostings(spark, maintainedPostings(spark, dir).root)

  /** GRADED: the phrase query over the COMPACTED fold — same oracle:
    * the fold is pure layout. */
  def phraseSearchCompacted(spark: SparkSession, dir: String): DataFrame =
    phraseFromPostings(spark, compactedPostingsDir(spark, dir))

  // ----------------------------------------------------------------
  // ERASURE propagation into the postings index (r8 verdict #1):
  // erasing a document from the corpus must retire its postings too,
  // or a phrase query keeps surfacing the erased doc's id. The delete
  // delta is [[IndexErasure]]'s position-delete file set over the
  // MAINTAINED (base ∪ appended) index — the full lifecycle now reads
  // build → append → compact → erase, and the erased class (md5
  // nibble 'a' ⊂ day-1) retires rows from day-1 files only, while
  // touching neither day-1 nor day-2 files (spec pins the file set).
  // The PHYSICAL fold then rewrites the index THROUGH the erased view
  // into clean term-bucket partitions (the [[Erasure]] compaction
  // move): a raw scan of the folded index contains no erased doc id
  // at all — bytes gone, not hidden. Both read paths are graded by
  // the phrase oracle over the SURVIVING corpus: retirement must
  // reduce to predicate semantics on documents.
  // ----------------------------------------------------------------

  /** The maintained postings index through the delete delta. */
  private def erasedPostingsView(spark: SparkSession, dir: String): DataFrame =
    IndexErasure.erasedView(spark, maintainedPostings(spark, dir).root,
      IndexErasure.erased(col("doc_id")))

  /** GRADED: phrase search over the DV-erased maintained index. */
  def phraseSearchErased(spark: SparkSession, dir: String): DataFrame =
    phraseFromPostingsIdx(erasedPostingsView(spark, dir))

  // physical fold of the erased index, once per (JVM, corpus)
  private val erasedFoldedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def erasedFoldedPostingsDir(spark: SparkSession,
      dir: String): String =
    erasedFoldedDirs.computeIfAbsent(dir, { _ =>
      val out = graft.Tables.scratchDir("graft_postings_e_").getAbsolutePath
      erasedPostingsView(spark, dir)
        .repartition(TermBuckets, col("tb"))
        .sortWithinPartitions("tb", "term", "doc_id", "pos")
        .write.mode("overwrite").partitionBy("tb").parquet(out)
      out
    })

  /** GRADED: phrase search over the PHYSICAL erasure fold — plain
    * scan, no delete files; same surviving-corpus oracle, and
    * `IndexErasureSpec` asserts a raw scan of the folded files
    * contains zero erased doc ids. */
  def phraseSearchErasedFolded(spark: SparkSession, dir: String): DataFrame =
    phraseFromPostings(spark, erasedFoldedPostingsDir(spark, dir))

  /** BOOLEAN retrieval over the STORED postings index — the other half
    * of an inverted index's query surface next to positional phrase
    * search: `join AND hash AND NOT slow`, evaluated as postings
    * algebra (doc-level presence lists intersected by LEFT SEMI and
    * subtracted by LEFT ANTI — the classic merge of posting lists as
    * Spark joins). The three query terms open ≤ 3 of the 8 term-bucket
    * directories (the same PartitionFilters path `phrase_search_indexed`
    * spec-asserts); the oracle knows nothing of the index — it
    * restates the boolean predicate as EXISTS / NOT EXISTS over the
    * raw corpus, so the grade proves the index lossless for boolean
    * queries too. */
  val BoolTerms: Seq[String] = Seq("join", "hash", "slow")
  def booleanSearchIndexed(spark: SparkSession, dir: String): DataFrame =
    booleanFromPostings(spark.read.parquet(postingsDir(spark, dir)))

  /** GRADED: the boolean query over the DV-erased ONE-SHOT postings
    * index — [[IndexErasure]]'s delete delta applied to the second
    * stored-postings layout (the maintained root carries the phrase
    * twins); oracle = the EXISTS/NOT-EXISTS restatement over the
    * surviving corpus. */
  def booleanSearchIndexedErased(spark: SparkSession, dir: String): DataFrame =
    booleanFromPostings(
      IndexErasure.erasedView(spark, postingsDir(spark, dir),
        IndexErasure.erased(col("doc_id"))))

  private def booleanFromPostings(postings: DataFrame): DataFrame = {
    val terms = BoolTerms
    val buckets = terms.map(termBucket).distinct
    val idx = postings
      .filter(col("tb").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(col("doc_id"), col("source"), col("term")).distinct()
    val a = idx.filter(col("term") === terms(0))
      .select(col("doc_id"), col("source"))
    val b = idx.filter(col("term") === terms(1)).select(col("doc_id").as("d2"))
    val c = idx.filter(col("term") === terms(2)).select(col("doc_id").as("d3"))
    a.join(b, col("doc_id") === col("d2"), "left_semi")
      .join(c, col("doc_id") === col("d3"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "boolean_search_indexed" -> (booleanSearchIndexed _),
    "boolean_search_erased" -> (booleanSearchIndexedErased _),
    "phrase_search_erased" -> (phraseSearchErased _),
    "phrase_search_erased_folded" -> (phraseSearchErasedFolded _),
    "heavy_hitters_exact" -> (heavyHittersExact _),
    "phrase_search_indexed" -> (phraseSearchIndexed _),
    "phrase_search_maintained" -> (phraseSearchMaintained _),
    "phrase_search_compacted" -> (phraseSearchCompacted _),
    "phrase_search"     -> (phraseSearch _),
    "proximity_search"  -> (proximitySearch _),
    "quality_funnel"    -> (qualityFunnel _),
    "exact_dedup_stats" -> (exactDedupStats _),
    "normalized_dedup"  -> (normalizedDedup _),
    "prefix_dup_groups" -> (prefixDupGroups _),
    "token_stats"       -> (tokenStats _),
    "cms_term_counts"   -> (cmsTermCounts _),
    "lang_stats"        -> (langStats _),
    "doc_quality"       -> (docQuality _),
    "language_id"       -> (languageId _),
    "token_count_bpe"   -> (tokenCount _),
    "simhash_buckets"   -> (simhashBuckets _),
    "simhash_neighbors" -> ((s: SparkSession, d: String) =>
      simhashNeighbors(s, d)),
    // the radius knob exercised (r5 verdict #4): 137 probes/doc, pairs
    // at Hamming ≤ 2 — TextSimilaritySpec asserts r2 ⊇ r1
    "simhash_neighbors_r2" -> ((s: SparkSession, d: String) =>
      simhashNeighbors(s, d, radius = 2)),
    "winnow_fingerprints" -> (winnowFingerprints _))


  private def oracleHits(words: Seq[String]): String =
    s"len(list_filter(t, x -> x IN (${words.map(w => s"'$w'").mkString(", ")})))"

  val oracles: Map[String, String] = {
    val Seq(en, fr, es, de) =
      Seq("en", "fr", "es", "de").map(l => oracleHits(langMarkers(l)))
    val highSql = Seq("8", "9", "a", "b", "c", "d", "e", "f")
      .map(s => s"'$s'").mkString(", ")
    val simhashBitSums = (1 to 16).map(i =>
      s"sum(CASE WHEN substr(h, $i, 1) IN ($highSql) THEN 1 ELSE -1 END) AS s$i")
      .mkString(",\n    ")
    val simhashConcat = (1 to 16).map(i =>
      s"CASE WHEN s$i > 0 THEN '1' ELSE '0' END").mkString(" || ")
    // positional postings via unnest + generate_subscripts (1-based;
    // the +1 adjacency offset cancels against Spark's 0-based pos).
    // ONE definition serves both phrase queries: the stored index is a
    // layout change and must be lossless to hash-match.
    def phraseOracleOver(docFilter: String) =
      s"""WITH p AS (
         |  SELECT doc_id, source,
         |    unnest(string_split(text, ' ')) AS term,
         |    generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM documents WHERE $docFilter),
         |q AS (SELECT * FROM p
         |      WHERE term IN ('${PhraseTerms(0)}', '${PhraseTerms(1)}')),
         |hits AS (
         |  SELECT a.doc_id, a.source
         |  FROM q a JOIN q b
         |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |    AND a.term = '${PhraseTerms(0)}'
         |    AND b.term = '${PhraseTerms(1)}')
         |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occurrences
         |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin
    val phraseOracle = phraseOracleOver("TRUE")
    // the erased twins: the SAME phrase query, restated over the
    // SURVIVING corpus — the oracle knows nothing of delete files;
    // the retirement must reduce to predicate semantics
    val phraseErasedOracle =
      phraseOracleOver(IndexErasure.survivorSql("doc_id"))
    Map(
      // deliberately the NAIVE full-vocabulary plan: grading the
      // two-phase MG form against it proves the candidate pruning
      // lossless
      "heavy_hitters_exact" ->
        s"""WITH t AS (
           |  SELECT unnest(list_filter(string_split(text, ' '),
           |    x -> x <> '')) AS term
           |  FROM documents),
           |nn AS (SELECT count(*) AS tot FROM t),
           |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1)
           |SELECT c.term, c.cnt AS n,
           |  CAST(1000000 * c.cnt // nn.tot AS BIGINT) AS share_ppm
           |FROM c, nn WHERE c.cnt * $HhK > nn.tot
           |ORDER BY n DESC, term""".stripMargin,
      "phrase_search_indexed" -> phraseOracle,
      // the band predicate twin of the phrase oracle — 1-based vs
      // 0-based positions cancel in |Δ| exactly as in the equi form
      "proximity_search" ->
        s"""WITH p AS (
           |  SELECT doc_id, source,
           |    unnest(string_split(text, ' ')) AS term,
           |    generate_subscripts(string_split(text, ' '), 1) AS pos
           |  FROM documents),
           |q AS (SELECT * FROM p
           |      WHERE term IN ('${PhraseTerms(0)}', '${PhraseTerms(1)}')),
           |hits AS (
           |  SELECT a.doc_id, a.source, abs(b.pos - a.pos) AS dist
           |  FROM q a JOIN q b
           |    ON a.doc_id = b.doc_id
           |    AND abs(b.pos - a.pos) <= $ProximitySlop
           |    AND a.term = '${PhraseTerms(0)}'
           |    AND b.term = '${PhraseTerms(1)}')
           |SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(min(dist) AS BIGINT) AS min_dist
           |FROM hits GROUP BY 1, 2
           |ORDER BY min_dist, doc_id""".stripMargin,
      // boolean predicate restated over the RAW corpus — EXISTS / NOT
      // EXISTS know nothing of the postings layout
      "boolean_search_indexed" ->
        """WITH t AS (
          |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
          |  FROM documents),
          |p AS (SELECT DISTINCT doc_id, source, term FROM t)
          |SELECT a.source, CAST(count(*) AS BIGINT) AS n_docs
          |FROM (SELECT doc_id, source FROM p WHERE term = 'join') a
          |WHERE EXISTS (SELECT 1 FROM p b
          |        WHERE b.doc_id = a.doc_id AND b.term = 'hash')
          |  AND NOT EXISTS (SELECT 1 FROM p c
          |        WHERE c.doc_id = a.doc_id AND c.term = 'slow')
          |GROUP BY 1 ORDER BY a.source""".stripMargin,
      // the maintained (base + delta) and compacted layouts must both
      // answer the phrase query identically to the one-shot index —
      // growth and folding are layout changes, graded by the same SQL
      "phrase_search_maintained" -> phraseOracle,
      "phrase_search_compacted" -> phraseOracle,
      "phrase_search_erased" -> phraseErasedOracle,
      "phrase_search_erased_folded" -> phraseErasedOracle,
      "boolean_search_erased" ->
        s"""WITH t AS (
          |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
          |  FROM documents
          |  WHERE ${IndexErasure.survivorSql("doc_id")}),
          |p AS (SELECT DISTINCT doc_id, source, term FROM t)
          |SELECT a.source, CAST(count(*) AS BIGINT) AS n_docs
          |FROM (SELECT doc_id, source FROM p WHERE term = 'join') a
          |WHERE EXISTS (SELECT 1 FROM p b
          |        WHERE b.doc_id = a.doc_id AND b.term = 'hash')
          |  AND NOT EXISTS (SELECT 1 FROM p c
          |        WHERE c.doc_id = a.doc_id AND c.term = 'slow')
          |GROUP BY 1 ORDER BY a.source""".stripMargin,
      "phrase_search" -> phraseOracle,
      // same sequential-rule semantics, same token/char definitions as
      // the Spark side; DuckDB regexp_replace needs the 'g' flag to
      // strip ALL symbol chars, like Spark does by default
      "quality_funnel" ->
        s"""WITH d AS (
           |  SELECT source, text,
           |    list_filter(string_split(text, ' '), x -> x <> '') AS t
           |  FROM documents),
           |f AS (
           |  SELECT source,
           |    (len(t) BETWEEN 10 AND 5000) AS f1,
           |    (CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(t)
           |       BETWEEN 3.0 AND 10.0) AS f2,
           |    (CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
           |       / length(text) <= 0.10) AS f3,
           |    (len(list_filter(t, x -> x IN ($stopArrSql))) >= 2) AS f4
           |  FROM d)
           |SELECT source, count(*) AS n_raw,
           |  CAST(sum(CASE WHEN NOT f1 THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
           |  CAST(sum(CASE WHEN f1 AND NOT f2 THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordlen,
           |  CAST(sum(CASE WHEN f1 AND f2 AND NOT f3 THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol,
           |  CAST(sum(CASE WHEN f1 AND f2 AND f3 AND NOT f4 THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
           |  CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
           |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
      "exact_dedup_stats" ->
        """SELECT source, count(*) AS n_docs,
          |  count(DISTINCT text) AS n_distinct_texts,
          |  count(*) - count(DISTINCT text) AS n_dupes
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      // DuckDB regexp_replace replaces FIRST match unless 'g' — Spark
      // replaces all by default, so the flag is load-bearing
      "prefix_dup_groups" ->
        s"""WITH n AS (
           |  SELECT doc_id, ${normSql("text")} AS norm FROM documents),
           |f AS (
           |  SELECT doc_id, norm,
           |    substr(md5(array_to_string(
           |      list_slice(string_split(norm, ' '), 1, $PrefixFpTokens),
           |      ' ')), 1, 8) AS fp
           |  FROM n)
           |SELECT fp, count(*) AS n_docs,
           |  count(DISTINCT norm) AS n_distinct_full,
           |  min(doc_id) AS min_doc_id
           |FROM f GROUP BY 1
           |HAVING count(*) >= 2 AND count(DISTINCT norm) >= 2
           |ORDER BY fp""".stripMargin,
      "normalized_dedup" ->
        s"""WITH n AS (
          |  SELECT source, text, ${normSql("text")} AS norm
          |  FROM documents)
          |SELECT source, count(*) AS n_docs,
          |  count(DISTINCT text) AS n_distinct_raw,
          |  count(DISTINCT norm) AS n_distinct_norm,
          |  count(DISTINCT text) - count(DISTINCT norm) AS n_norm_collisions
          |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
      "token_stats" ->
        """SELECT term, count(*) AS n
          |FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
          |      FROM documents)
          |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin,
      "cms_term_counts" -> {
        // bucket of row i for a term = first md5 byte of "i:" || term,
        // via the same nibble arithmetic as the HLL oracle
        def bucket(i: Int, e: String) =
          s"(instr('0123456789abcdef', substr(md5('$i:' || $e), 1, 1)) - 1) * 16" +
            s" + instr('0123456789abcdef', substr(md5('$i:' || $e), 2, 1)) - 1"
        val counters = (0 until 4).map(i =>
          s"c$i AS (SELECT ${bucket(i, "term")} AS b, count(*) AS cnt" +
            s" FROM terms GROUP BY 1)").mkString(",\n          |")
        val joins = (0 until 4).map(i =>
          s"JOIN c$i x$i ON x$i.b = ${bucket(i, "e.term")}").mkString("\n          |")
        s"""WITH terms AS (
          |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
          |  FROM documents),
          |exact AS (
          |  SELECT term, count(*) AS n_exact FROM terms
          |  GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20),
          |$counters
          |SELECT e.term, e.n_exact,
          |  CAST(least(x0.cnt, x1.cnt, x2.cnt, x3.cnt) AS BIGINT) AS n_cms
          |FROM exact e
          |$joins
          |ORDER BY e.term""".stripMargin
      },
      "lang_stats" ->
        s"""SELECT lang, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
          |  ${roundSql("CAST(sum(n_chars) AS DOUBLE) / count(*)", 2)} AS avg_chars
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "doc_quality" ->
        s"""WITH d AS (
           |  SELECT doc_id, lang, text,
           |    list_filter(string_split(text, ' '), x -> x <> '') AS t
           |  FROM documents)
           |SELECT doc_id, lang,
           |  CAST(len(t) AS BIGINT) AS n_tokens,
           |  CAST(len(list_filter(t, x -> x IN ($stopArrSql))) AS BIGINT) AS n_stop,
           |  ${roundSql(s"CAST(len(list_filter(t, x -> x IN ($stopArrSql))) AS DOUBLE) / len(t)", 4)} AS stop_ratio,
           |  ${roundSql("CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(t)", 2)} AS avg_token_len,
           |  CASE WHEN len(t) >= 50
           |         AND CAST(len(list_filter(t, x -> x IN ($stopArrSql))) AS DOUBLE) / len(t) >= 0.05
           |       THEN 'good'
           |       WHEN len(t) >= $QualityMinTokens THEN 'fair' ELSE 'poor' END AS quality
           |FROM d ORDER BY doc_id""".stripMargin,
      "language_id" ->
        s"""WITH d AS (
           |  SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS t
           |  FROM documents),
           |p AS (
           |  SELECT lang,
           |    CASE WHEN $en > $fr AND $en > $es AND $en > $de AND $en > 0 THEN 'en'
           |         WHEN $fr > $en AND $fr > $es AND $fr > $de AND $fr > 0 THEN 'fr'
           |         WHEN $es > $en AND $es > $fr AND $es > $de AND $es > 0 THEN 'es'
           |         WHEN $de > $en AND $de > $fr AND $de > $es AND $de > 0 THEN 'de'
           |         ELSE 'und' END AS predicted
           |  FROM d)
           |SELECT lang, predicted, count(*) AS n_docs
           |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "token_count_bpe" ->
        s"""SELECT source, count(*) AS n_docs,
           |  CAST(sum(len(regexp_extract_all(text, '$bpePattern'))) AS BIGINT) AS total_tokens,
           |  ${roundSql(s"CAST(sum(len(regexp_extract_all(text, '$bpePattern'))) AS DOUBLE) / count(*)", 2)} AS avg_tokens
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
      "simhash_buckets" ->
        s"""WITH terms AS (
           |  SELECT doc_id, md5(unnest(list_filter(string_split(text, ' '), x -> x <> ''))) AS h
           |  FROM documents),
           |sums AS (
           |  SELECT doc_id,
           |    $simhashBitSums
           |  FROM terms GROUP BY 1),
           |fp AS (SELECT doc_id, $simhashConcat AS simhash16 FROM sums)
           |SELECT simhash16, count(*) AS n_docs, min(doc_id) AS min_doc
           |FROM fp GROUP BY 1 ORDER BY 1""".stripMargin,
      // same fingerprint rebuild + the probe-table expansion (identity
      // + 16 one-bit flips) equi-joined against exact fingerprints —
      // each ≤1-Hamming pair matches exactly once
      "simhash_neighbors" ->
        s"""WITH terms AS (
           |  SELECT doc_id, md5(unnest(list_filter(string_split(text, ' '), x -> x <> ''))) AS h
           |  FROM documents),
           |sums AS (
           |  SELECT doc_id,
           |    $simhashBitSums
           |  FROM terms GROUP BY 1),
           |fp AS (SELECT doc_id, $simhashConcat AS simhash16 FROM sums),
           |probes AS (
           |  SELECT f.doc_id AS doc_a, f.simhash16 AS fa,
           |    CASE WHEN t.k = 0 THEN f.simhash16
           |         ELSE substr(f.simhash16, 1, t.k - 1)
           |              || (CASE WHEN substr(f.simhash16, t.k, 1) = '1'
           |                       THEN '0' ELSE '1' END)
           |              || substr(f.simhash16, t.k + 1, 16 - t.k) END AS probe
           |  FROM fp f CROSS JOIN generate_series(0, 16) AS t(k))
           |SELECT p.doc_a, b.doc_id AS doc_b,
           |  CAST(len(list_filter(generate_series(1, 16), i ->
           |    substr(p.fa, i, 1) <> substr(b.simhash16, i, 1))) AS BIGINT)
           |    AS hamming
           |FROM probes p JOIN fp b
           |  ON p.probe = b.simhash16 AND p.doc_a < b.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin,
      // radius-2 twin: the oracle side drops the probe table entirely
      // and checks the ground truth directly — pairwise Hamming over
      // the same fingerprint CTE (N²/2 is fine at oracle scale; the
      // probe expansion is the SPARK side's scale story, asserted by
      // the r1-oracle parity and the TextSimilaritySpec containment test)
      "simhash_neighbors_r2" ->
        s"""WITH terms AS (
           |  SELECT doc_id, md5(unnest(list_filter(string_split(text, ' '), x -> x <> ''))) AS h
           |  FROM documents),
           |sums AS (
           |  SELECT doc_id,
           |    $simhashBitSums
           |  FROM terms GROUP BY 1),
           |fp AS (SELECT doc_id, $simhashConcat AS simhash16 FROM sums),
           |pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(len(list_filter(generate_series(1, 16), i ->
           |      substr(a.simhash16, i, 1) <> substr(b.simhash16, i, 1)))
           |      AS BIGINT) AS hamming
           |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, hamming FROM pairs
           |WHERE hamming <= 2 ORDER BY doc_a, doc_b""".stripMargin,
      "winnow_fingerprints" ->
        s"""WITH toks AS (
          |  ${graft.functions.Shingles.duckToks}),
          |sh AS (
          |  SELECT doc_id,
          |    unnest(${graft.functions.Shingles.duckExpr}) AS s,
          |    unnest(range(len(t) - 2)) AS pos
          |  FROM toks WHERE len(t) >= 3),
          |sel AS (
          |  SELECT doc_id,
          |    min(md5(s)) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
          |  FROM sh)
          |SELECT doc_id, count(DISTINCT sel) AS n_fingerprints,
          |  min(sel) AS min_fp, max(sel) AS max_fp
          |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin)
  }
}
