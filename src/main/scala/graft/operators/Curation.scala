package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{ScalarFns, Shingles}

/** Training-MIX curation operators (north-star [N] family, SURVEY.md
  * §2.11): the three decisions a large-scale pretraining-data pipeline
  * makes AFTER cleaning/dedup — which rows to sample, which rows are
  * benchmark-contaminated, and how many tokens each source contributes
  * to the final mix.
  *
  * Scale/determinism contract shared by all three:
  *  - sampling membership is a PURE FUNCTION of the row key
  *    (md5-hash threshold), so the sample is reproducible on any
  *    cluster size, needs no stored membership table, and never
  *    shuffles the corpus — the 100 TB property that `rand() < r`
  *    (nondeterministic, unrepeatable) and reservoir sampling
  *    (driver-bound) both lack;
  *  - contamination is n-gram containment against a BROADCAST
  *    benchmark gram set — benchmark suites are bounded (millions of
  *    grams) while the corpus is not, so the corpus side streams
  *    map-only;
  *  - budget allocation is integer arithmetic over one tiny per-source
  *    aggregate (sources ≪ rows), exactly mirrorable in the oracle —
  *    Spark `div` ≡ DuckDB `//`.
  */
object Curation extends graft.QueryModule {

  /** Sampling threshold: keep a doc when the first 8 hex chars of
    * md5(doc_id) sort below this — 0x33333333/2^32 ≈ 20 %. Fixed-width
    * lowercase hex compares identically in Spark and DuckDB. The keep
    * predicate lives HERE ONCE in both dialects (Shingles-style twin
    * discipline): every query and oracle below references these, so the
    * hash input, prefix width and threshold can never drift apart. */
  private val SampleHexThreshold = "33333333"

  /** Spark column twin of [[keepSql]]. */
  private[graft] def keepCol: org.apache.spark.sql.Column =
    substring(md5(col("doc_id").cast("string")), 1, 8) <
      lit(SampleHexThreshold)

  /** DuckDB twin of [[keepCol]]; `ref` qualifies the key column where
    * the surrounding query joins several doc_id-bearing tables. */
  private def keepSql(ref: String = "doc_id"): String =
    s"substr(md5(CAST($ref AS VARCHAR)), 1, 8) < '$SampleHexThreshold'"

  /** N-mix: deterministic hash-stratified sample accounting per source.
    * The aggregate reports realized rates; a pipeline materializing the
    * sample itself would reuse the identical `keep` predicate as a
    * filter (map-only, no shuffle, no stored sample membership). */
  def hashSample(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("keep", keepCol)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("sample_rate",
        ScalarFns.roundN(col("n_sampled").cast("double") / col("n_docs"), 4))
      .orderBy("source")

  /** The sample ITSELF (membership-level grading, not just counts):
    * the filter a pipeline would apply before training-shard writes.
    * Map-only — the predicate reaches the scan; no shuffle but the
    * output sort. */
  def hashSampleDocs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .filter(keepCol)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  /** Benchmark membership: every 97th doc stands in for a held-out eval
    * set. Production would join an external benchmark table; the
    * modulus keeps the demo self-contained and the oracle exact. */
  private val BenchMod = 97

  /** N-mix: train/benchmark DECONTAMINATION (the GPT-3-style n-gram
    * collision check): a training doc is contaminated when it shares at
    * least one word-8-gram with any benchmark doc. 8 grams ≈ a quoted
    * sentence fragment — long enough that organic collisions are rare,
    * short enough to catch partial inclusions. Benchmark grams are
    * deduped and BROADCAST; the training side is a map-only semi-join
    * probe plus one per-source partial aggregate. Docs under 8 tokens
    * have no grams and count as clean (they cannot quote a benchmark). */
  /** Contaminated doc_ids — the shared expensive product of the whole
    * decontamination family (`decontam_stats`, `decontam_docs`,
    * `curation_funnel` all consume exactly this set): the corpus gram
    * explode + benchmark distinct + broadcast probe run ONCE per
    * (session, dir) through the S6 cache, like `neardupPairs` and
    * `ivfAssign`. The Spark block and its DuckDB twin ([[contamCte]])
    * each live in one place so the two dialects cannot drift. */
  private[graft] def contaminatedDocIds(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|decontam|$dir",
      ttlSeconds = 300)(contaminatedDocIdsUncached(spark, dir))

  private[graft] def contaminatedDocIdsUncached(spark: SparkSession, dir: String): DataFrame = {
    // fanned out: the 8-gram emission is CPU-bound and the bench-scale
    // file is one split (Tables.fanOut scaladoc). Emission is the
    // streaming word_grams generator (r5; value-parity with the HOF
    // form property-tested in WordGramSpec) — the generator emits zero
    // rows under 8 tokens, exactly the HOF form's size(t) >= 8 guard.
    val grams = graft.Tables.fanOut(spark, Tables(spark, dir, "documents"))
      .select(col("doc_id"), expr("word_grams(text, 8)").as("g"))
    val benchGrams = grams.filter(col("doc_id") % BenchMod === 0)
      .select(col("g")).distinct()
    grams.filter(col("doc_id") % BenchMod =!= 0)
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** DuckDB twin of [[contaminatedDocIds]] — CTE chain ending with
    * `cont(doc_id)`; every decontamination oracle builds on this one
    * string. */
  private def contamCte: String =
    s"""WITH toks AS (
       |  ${Shingles.duckToks}),
       |grams AS (
       |  SELECT DISTINCT doc_id, unnest(${Shingles.duckExprN(8)}) AS g
       |  FROM toks WHERE len(t) >= 8),
       |bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % $BenchMod = 0),
       |cont AS (
       |  SELECT DISTINCT gr.doc_id FROM grams gr JOIN bg ON gr.g = bg.g
       |  WHERE gr.doc_id % $BenchMod <> 0)""".stripMargin

  def decontamStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    docs.filter(col("doc_id") % BenchMod =!= 0)
      .join(contaminatedDocIds(spark, dir).withColumn("c", lit(1)),
        Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_contaminated"))
      .withColumn("contamination_rate",
        ScalarFns.roundN(
          col("n_contaminated").cast("double") / col("n_docs"), 4))
      .orderBy("source")
  }

  /** The contaminated rows themselves (membership-level grading):
    * exactly the doc_ids `decontamStats` counts, with the doc's source
    * for triage. The production pipeline applies this as an anti-join
    * filter before shard writes. */
  def decontamDocs(spark: SparkSession, dir: String): DataFrame =
    contaminatedDocIds(spark, dir)
      .join(Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .orderBy("doc_id")

  /** N-mix: per-source token-budget allocation — a two-round bounded
    * WATERFILL over integer token counts:
    *
    *   budget B      = ¾ of the corpus' total tokens (scale-free);
    *   weights w     = 1 or 2 by source-name length parity (stands in
    *                   for an editorial up/down-weighting table);
    *   round 1       = each source gets min(avail, B·w ÷ Σw);
    *   round 2       = the integer leftover of round 1 is re-offered to
    *                   the sources that still have capacity, in
    *                   proportion to their weight.
    *
    * Σalloc ≤ B holds by construction (integer division never
    * over-grants). All arithmetic is BIGINT `div` — bit-identical to
    * the oracle's `//` — and runs on the per-source aggregate (sources
    * ≪ docs), so the corpus pays exactly one partial-agg shuffle. */
  def tokenBudgetMix(spark: SparkSession, dir: String): DataFrame = {
    val avail = Tables(spark, dir, "documents")
      .withColumn("t", Shingles.sparkToks)
      .groupBy(col("source"))
      .agg(sum(size(col("t")).cast("bigint")).as("n_tokens_available"))
      .withColumn("w", (length(col("source")) % 2 + 1).cast("bigint"))
    val totals = avail.agg(
      sum(col("n_tokens_available")).as("tot_avail"),
      sum(col("w")).as("sum_w"))
    val r1 = avail.crossJoin(broadcast(totals))
      .withColumn("budget", expr("(3 * tot_avail) div 4"))
      .withColumn("base_alloc",
        least(col("n_tokens_available"), expr("(budget * w) div sum_w")))
    val r1Totals = r1.agg(
      sum(col("base_alloc")).as("allocated"),
      sum(when(col("n_tokens_available") > col("base_alloc"), col("w"))
        .otherwise(0L)).as("hungry_w"))
    r1.crossJoin(broadcast(r1Totals))
      .withColumn("leftover", col("budget") - col("allocated"))
      .withColumn("alloc_tokens",
        when(col("n_tokens_available") > col("base_alloc") &&
            col("hungry_w") > 0,
          least(col("n_tokens_available"),
            col("base_alloc") + expr("(leftover * w) div hungry_w")))
          .otherwise(col("base_alloc")))
      .select(col("source"), col("n_tokens_available"), col("w"),
        col("base_alloc"), col("alloc_tokens"),
        ScalarFns.roundN(col("alloc_tokens").cast("double")
          / col("n_tokens_available"), 4).as("sampling_rate"))
      .orderBy("source")
  }

  /** N-mix: TEMPERATURE-BASED source weighting (α = 0.5) — the
    * multilingual-LM mixing rule (mBERT/XLM practice: p_i ∝ n_i^α,
    * α < 1 upsamples small sources relative to proportional sampling).
    * α = 0.5 makes the weight `√n` — sqrt is an EXACTLY-ROUNDED IEEE
    * op (unlike pow/ln, which are libm-dependent across engines), so
    * the weight is deterministic; it is then fixed-pointed to
    * `floor(√n·10⁶)` BIGINT so the Σw denominator is an exact integer
    * sum (a Σ of raw doubles would be partition-order-dependent).
    * Budget = ¾ of total tokens (the [[tokenBudgetMix]] convention);
    * the α = 1 proportional allocation rides along as the reference
    * column, and rate_ppm > 10⁶ on a small source is the upsampling
    * (multi-epoch) signal, deliberately uncapped. Products widened
    * DECIMAL(38,0)/HUGEINT before the multiply (B·w overflows BIGINT
    * at the 100 TB framing). Per-source aggregate: ONE partial-agg
    * shuffle, then arithmetic on a sources-sized frame. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val avail = Tables(spark, dir, "documents")
      .withColumn("t", Shingles.sparkToks)
      .groupBy(col("source"))
      .agg(sum(size(col("t")).cast("bigint")).as("n_tokens_available"))
      .withColumn("w_fp", expr(
        "CAST(floor(sqrt(CAST(n_tokens_available AS DOUBLE)) * 1000000.0) AS BIGINT)"))
    val totals = avail.agg(
      sum(col("n_tokens_available")).as("tot_avail"),
      sum(col("w_fp")).as("sum_w"))
    avail.crossJoin(broadcast(totals))
      .withColumn("budget", expr("(3 * tot_avail) div 4"))
      // `div` (IntegralDivide) truncates DECIMAL quotients exactly,
      // matching the oracle's HUGEINT `//`; floor(DECIMAL `/`) does
      // NOT — Spark decimal division rounds HALF_UP to result scale
      // before the floor, so a fractional part within 5e-7 of 1 would
      // floor one higher than the oracle (r10 advice).
      .withColumn("alloc_temp", expr(
        "CAST((CAST(budget AS DECIMAL(38,0)) * w_fp) div sum_w AS BIGINT)"))
      .withColumn("alloc_prop", expr(
        "CAST((CAST(budget AS DECIMAL(38,0)) * n_tokens_available) div tot_avail AS BIGINT)"))
      .withColumn("rate_ppm", expr(
        "CAST((CAST(alloc_temp AS DECIMAL(38,0)) * 1000000) div n_tokens_available AS BIGINT)"))
      .select(col("source"), col("n_tokens_available"), col("w_fp"),
        col("alloc_temp"), col("alloc_prop"), col("rate_ppm"))
      .orderBy("source")
  }

  /** N-score: per-source QUANTILE NORMALIZATION — the calibration step
    * that makes per-source quality scores comparable before a single
    * global threshold is applied (different sources' raw score
    * distributions differ; rank-based remapping onto the GLOBAL
    * distribution removes the source effect — the genomics
    * quantile-normalization standard applied to corpus scores). Score
    * here = n_chars (the stand-in quality signal the curation tier
    * already uses).
    *
    *   pr_ppm  = per-source rank position, `floor((rk−1)·10⁶/(n−1))`
    *             (rk totally ordered by (score, doc_id); a singleton
    *             source pins to 500000 — both engines), exact integers;
    *   pos     = `floor(pr_ppm·(N−1)/10⁶)+1` into the global order;
    *   qnorm   = the global member VALUE at that position
    *             (percentile_disc semantics — no interpolated floats).
    *
    * Scale shape: the per-doc window partitions by SOURCE (many small
    * groups); the global side is reduced to VALUE granularity first
    * (distinct n_chars ≪ docs — a bounded domain) so its running-sum
    * window runs over the value table, and the position lookup is a
    * BROADCAST interval join against that table. At 100 TB the global
    * value table swaps for the graded equi-depth [[graft.plans.HistSketch]]
    * quantile map; the per-doc side is unchanged. */
  def quantileNormalizeSources(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val nSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    val ranked = docs
      .withColumn("rk", row_number().over(wSrc).cast("long"))
      .withColumn("n", count(lit(1)).over(nSrc))
      .withColumn("pr_ppm",
        when(col("n") === 1, lit(500000L))
          .otherwise(expr(
            "CAST((CAST(rk - 1 AS DECIMAL(38,0)) * 1000000) div (n - 1) AS BIGINT)")))
    // global distribution at value granularity: value v covers global
    // positions [cum_hi − cnt + 1, cum_hi] of the (n_chars, doc_id)
    // total order
    val wVal = org.apache.spark.sql.expressions.Window.orderBy(col("n_chars"))
    val gvals = docs.groupBy(col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum_hi", sum(col("cnt")).over(wVal))
      .select(col("n_chars").as("qnorm_chars"),
        (col("cum_hi") - col("cnt") + 1).as("lo"), col("cum_hi").as("hi"))
    val nTot = docs.agg(count(lit(1)).as("n_total"))
    ranked.crossJoin(broadcast(nTot))
      .withColumn("pos", expr("(pr_ppm * (n_total - 1)) div 1000000L + 1"))
      .join(broadcast(gvals),
        col("pos") >= col("lo") && col("pos") <= col("hi"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("pr_ppm"),
        col("qnorm_chars"))
      .orderBy("doc_id")
  }

  /** N-mix CAPSTONE — the full training-mix funnel in ONE flagged-frame
    * aggregate (the `pipeline_yield` pattern applied to curation): per
    * source, survivors of each successive gate
    *
    *   raw (benchmark docs excluded) → quality (token floor) →
    *   decontaminated (no benchmark 8-gram) → hash-sampled,
    *
    * plus the surviving token mass — the number a mix planner actually
    * budgets against. Every gate is a map-side boolean (the
    * contamination flag via one broadcast semi-join), so the whole
    * funnel costs the corpus ONE partial-agg shuffle regardless of how
    * many gates compose. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val cont = contaminatedDocIds(spark, dir)
      .withColumn("contaminated", lit(true))
    docs.filter(col("doc_id") % BenchMod =!= 0)
      .withColumn("n_tok", size(Shingles.sparkToks).cast("bigint"))
      .join(cont, Seq("doc_id"), "left")
      .withColumn("q", col("n_tok") >= TextOps.QualityMinTokens)
      .withColumn("dc", col("q") && col("contaminated").isNull)
      .withColumn("samp", col("dc") && keepCol)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("dc"), 1L).otherwise(0L)).as("n_decontam"),
        sum(when(col("samp"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("samp"), col("n_tok")).otherwise(0L)).as("tokens_final"))
      .orderBy("source")
  }

  /** N-mix: WEIGHTED sampling without replacement — Duffield/Lund/
    * Thorup PRIORITY SAMPLING, the scheme that gives unbiased
    * weighted-subset estimates with a fixed sample size k:
    *
    *   u_i      = md5-uniform in (0, 1]   (deterministic per doc_id)
    *   priority = w_i / u_i               (w_i = n_chars: long docs
    *                                       proportionally likelier)
    *   sample   = top-k by priority.
    *
    * Everything is RATIONAL double arithmetic (no ln/pow, which are
    * libm-dependent across engines — the standard exponential-jump
    * formulation of weighted reservoir sampling is NOT cross-engine
    * reproducible; priority sampling is, which is why it's the variant
    * implemented). u = (v+1)/2³² from the first 8 md5 nibbles of the
    * key: pure hash → the sample is reproducible on any cluster layout,
    * no membership table, no RNG state. A Horvitz–Thompson estimator
    * would additionally carry τ = the (k+1)-th priority and weight each
    * kept row by max(w, τ) — same plan + one more window row.
    *
    * Scale shape: map-only priority computation; top-k compiles to
    * TakeOrderedAndProject (per-partition heap + driver merge of k
    * rows), never a full sort. */
  /** Default sample size — interpolated into BOTH the query's limit
    * and the oracle's LIMIT so they cannot drift (r3 advice). */
  val PriorityK: Int = 50

  def prioritySample(spark: SparkSession, dir: String,
      k: Int = PriorityK): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("v", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("priority", ScalarFns.roundN(
        col("n_chars").cast("double")
          / ((col("v").cast("double") + lit(1.0)) / lit(4294967296.0)), 4))
      .select(col("doc_id"), col("source"), col("n_chars"), col("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(k)

  /** Exact-k-per-stratum sample salt width — splits a hot stratum over
    * this many deterministic cells in phase 1 (the knob that grows with
    * stratum size at 100 TB). */
  private[graft] val StratifiedSalt = 32
  private[graft] val StratifiedK = 8

  /** EXACT-k-per-stratum sample (k docs per language), deterministic
    * (md5 order — reproducible on any cluster, like every sampler in
    * this family) and SKEW-PROOF via salted two-phase top-k: a single
    * `row_number() OVER (PARTITION BY lang)` sends each whole stratum
    * to ONE task, so a dominant language serializes the job at 100 TB.
    * Phase 1 partitions by (lang, xxhash64(doc_id) % [[StratifiedSalt]])
    * — a DETERMINISTIC salt, so results never depend on physical
    * partitioning — and keeps each cell's local top-k; each global
    * winner is necessarily its own cell's local winner (pigeonhole), so
    * phase 2 ranks only ≤ salt·k survivors per stratum. The oracle is
    * the plain unsalted window — grading proves the two-phase form
    * exact, not approximate. */
  def stratifiedSampleK(spark: SparkSession, dir: String,
      k: Int = StratifiedK, salt: Int = StratifiedSalt): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .withColumn("skey", md5(col("doc_id").cast("string")))
      .withColumn("cell", pmod(xxhash64(col("doc_id")), lit(salt.toLong)))
    val local = Window.partitionBy(col("lang"), col("cell"))
      .orderBy(col("skey"), col("doc_id"))
    val global = Window.partitionBy(col("lang"))
      .orderBy(col("skey"), col("doc_id"))
    keyed
      .withColumn("rk1", row_number().over(local)).filter(col("rk1") <= k)
      .withColumn("rk", row_number().over(global)).filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  // ----------------------------------------------------------------
  // Training-MIX apportionment (Hamilton / largest-remainder): a data
  // mixture spec says "B documents, proportional to source
  // availability" — floor allocations alone UNDER-fill the budget and
  // naive rounding over-fills; the classic largest-remainder rule hits
  // B exactly. Every step is integer arithmetic on counts (floor
  // quota = B·n_s div N, remainder = B·n_s mod N, the top B − Σfloor
  // remainders — ties broken by source name — get +1), so both
  // engines derive the IDENTICAL allocation. The global rank window
  // runs over |sources| rows — catalog scale, not data scale; the
  // sample itself is md5-order top-allotted per source (the
  // [[hashSample]] determinism idiom), graded by sum(doc_id) so
  // MEMBERSHIP, not just size, is pinned. allotted ≤ n_avail holds
  // structurally whenever B < N (floor < n_avail strictly).
  // ----------------------------------------------------------------

  private[graft] val MixBudget = 300L

  private[graft] def apportionFrame(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySource = Tables(spark, dir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_avail"))
    val totals = bySource.agg(sum(col("n_avail")).as("n_total"))
    val wRank = Window.orderBy(col("rem").desc, col("source"))
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bySource.crossJoin(broadcast(totals))
      .withColumn("q_floor", expr(s"(n_avail * $MixBudget) div n_total"))
      .withColumn("rem", (col("n_avail") * MixBudget) % col("n_total"))
      .withColumn("short", lit(MixBudget) - sum(col("q_floor")).over(wAll))
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("allotted",
        col("q_floor") + when(col("rnk") <= col("short"), 1L).otherwise(0L))
  }

  /** GRADED: the allocation table — Σallotted = B exactly. */
  def sourceMixApportion(spark: SparkSession, dir: String): DataFrame =
    apportionFrame(spark, dir)
      .select(col("source"), col("n_avail"), col("allotted"))
      .orderBy("source")

  /** GRADED: the drawn sample — md5-order top-`allotted` per source,
    * membership pinned by sum(doc_id). */
  def sourceMixSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("skey"), col("doc_id"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("skey", md5(col("doc_id").cast("string")))
      .join(broadcast(apportionFrame(spark, dir)
        .select(col("source"), col("allotted"))), Seq("source"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("allotted"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("sum_doc_id"))
      .orderBy("source")
  }

  /** REPRODUCIBLE GLOBAL SHUFFLE — the permutation every training run
    * applies to its corpus before sharding, made a deterministic
    * FUNCTION OF THE DATA instead of an RNG seed: position = exact
    * global rank under (md5(doc_id), doc_id). Reruns, resumed jobs and
    * independent engines derive the identical order — which is what
    * makes a training run auditable and a data bug bisectable back
    * through the exact batch sequence.
    *
    * Scale shape: the rank is the [[Concentration]] two-phase bucket
    * decomposition, never a single global sort — the first hex nibble
    * of the shuffle key range-buckets rows into 16 (hundreds at
    * 100 TB; hex prefixes are MONOTONE in the key, so a bucket's rows
    * all rank after every earlier bucket's), in-bucket ranks run in
    * parallel, and broadcast per-bucket count offsets finish the
    * global position. The oracle ranks with one naive global window —
    * the hash match proves the decomposition exact, ties included. */
  def docShuffleOrder(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("sk"))
      .withColumn("bucket", substring(col("sk"), 1, 1))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("sk"), col("doc_id"))
    val local = d.withColumn("lrank", row_number().over(wIn))
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offs = d.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
      .withColumn("offset", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select(col("bucket").as("obucket"), col("offset"))
    local.join(broadcast(offs), col("bucket") === col("obucket"))
      .select((col("offset") + col("lrank")).as("pos"), col("doc_id"))
      .orderBy("pos")
  }

  /** Per-source admission cap K (C4/RefinedWeb practice: no single
    * domain may exceed a fixed share of the corpus). 10 leaves every
    * sf0.01+ source over the cap (25+ docs) and every sf0.001 source
    * under it — both branches exercised at every graded SF. */
  private[graft] val CapK = 10

  /** N-mix: PER-DOMAIN ADMISSION CAP — the frequency-cap rule of the
    * C4 / RefinedWeb / FineWeb cleaning recipes (Raffel et al. 2020;
    * Penedo et al. 2023): no source contributes more than [[CapK]]
    * documents; the survivors are chosen by DETERMINISTIC HASH RANK
    * (md5-hex prefix of doc_id, then doc_id — the [[hashSample]]
    * uniform, so admission is unbiased and reproducible, never
    * "first K by ingest order"). The graded report is the per-source
    * admission account: docs and character mass kept vs dropped, and
    * the kept share in ppm (integral division, exact).
    *
    * Conservation laws (spec-pinned): n_kept + n_dropped = n_docs;
    * chars_kept + chars_dropped = chars_total; n_kept = min(n_docs,
    * K); n_kept < K ⟹ n_dropped = 0.
    *
    * 100 TB shape: rank is a window over SOURCE partitions (domains ≪
    * docs, groups sort-local). The scale path — the same admission set
    * from a bounded-heap per-source TopK (membership only needs
    * rank ≤ K, not the rank itself) — is the GRADED twin
    * [[sourceCapTopk]], window-free by plan assertion; this window
    * form stays graded as its ground-truth shape. Mass = the stored
    * n_chars column — no tokenize pass. */
  def sourceCapSample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(substring(md5(col("doc_id").cast("string")), 1, 8),
        col("doc_id"))
    Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rk") <= CapK, 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(col("rk") <= CapK, col("n_chars")).otherwise(0L))
          .as("chars_kept"))
      .selectExpr("source", "n_docs", "n_kept",
        "n_docs - n_kept AS n_dropped", "chars_total", "chars_kept",
        "chars_total - chars_kept AS chars_dropped",
        """CAST((CAST(n_kept AS DECIMAL(38,0)) * 1000000) div n_docs
          |  AS BIGINT) AS kept_share_ppm""".stripMargin)
      .orderBy("source")
  }

  /** GRADED: the documented 100 TB scale path of the admission cap
    * MADE REAL (r11 verdict #5): the IDENTICAL admission set as
    * [[sourceCapSample]] — per-source top-[[CapK]] by (md5-hex
    * prefix, doc_id) — computed by the bounded-heap
    * [[graft.plans.TopKAgg]] aggregate instead of a per-source rank
    * window. Membership needs rank ≤ K, never the rank itself, so the
    * full per-group sort the window form runs (one task per source —
    * a single hot domain serializes the job on a Zipfian crawl) is
    * replaced by a MERGEABLE partial aggregate whose shuffle carries
    * ≤ K (value, key) pairs per (source, partition), independent of
    * domain skew. Order mapping: TopKAgg keeps value DESC then key
    * ASC; value = −u32(first 8 md5 nibbles) makes value-DESC ≡
    * hex-prefix ASC (u32 < 2³² is EXACT in a double — no rounding can
    * reorder), and the key tiebreak is doc_id ASC — the window's
    * total order, ties included. The report joins the K-row-per-source
    * admit list back for its char mass (doc-granularity equi-join) and
    * finishes with the same source-granularity account. Oracle: the
    * `source_cap_sample` window SQL VERBATIM — hash equality proves
    * select-k ≡ rank-k; PlanAuditSpec pins that this plan contains NO
    * Window node. */
  def sourceCapTopk(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
    val admits = d
      .withColumn("negu", -expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
        .cast("double"))
      .groupBy(col("source"))
      .agg(expr(s"top_k_by(negu, doc_id, $CapK)").as("top"))
      .select(col("source"),
        explode(expr("transform(top, p -> p.key)")).as("doc_id"))
    val kept = admits.join(d, Seq("source", "doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars_total"))
      .join(kept, Seq("source"))
      .selectExpr("source", "n_docs", "n_kept",
        "n_docs - n_kept AS n_dropped", "chars_total", "chars_kept",
        "chars_total - chars_kept AS chars_dropped",
        """CAST((CAST(n_kept AS DECIMAL(38,0)) * 1000000) div n_docs
          |  AS BIGINT) AS kept_share_ppm""".stripMargin)
      .orderBy("source")
  }

  /** N-mix cap lifecycle: MAINTAINED per-domain cap — the HONEST
    * maintenance row for hash-rank admission, and the deliberate
    * contrast to [[Packing]]'s append-stable shards: rank-based
    * membership is NOT append-stable. Day-2 docs (the
    * [[IncrementalDedup]] ingest nibbles {0,1}) re-rank WITHIN their
    * source against the stored day-1 admits, and a new doc whose hash
    * ranks inside the top-K EVICTS a day-1 admit — silently keeping
    * the day-1 list would bias admission toward early-crawled pages,
    * exactly the bias the hash rank exists to remove. The graded
    * report makes the churn first-class: per source, the day-1
    * admission count, the final count, how many day-1 admits were
    * evicted, and how many day-2 docs were admitted; conservation
    * (final = day1 − evicted + day2) is spec-pinned. The day-1 admit
    * list is barriered (localCheckpoint) as the stored artifact; the
    * final membership is the ONE-SHOT rule over the union, so the
    * oracle (from-scratch both memberships) proves the re-rank
    * algebra. Scale shape: two source-partitioned rank windows (the
    * [[sourceCapSample]] TopK-at-scale note applies to both) + one
    * source-granularity anti-join fold. */
  def sourceCapMaintained(spark: SparkSession, dir: String): DataFrame = {
    val isIngest = substring(md5(col("doc_id").cast("string")), 1, 1)
      .isin("0", "1")
    val d = Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"))
    def admits(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(substring(md5(col("doc_id").cast("string")), 1, 8),
          col("doc_id"))
      df.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= CapK)
        .select(col("source"), col("doc_id"))
    }
    val day1 = admits(d.filter(!isIngest)).localCheckpoint(true)
    val fin = admits(d)
    val day1N = day1.groupBy(col("source"))
      .agg(count(lit(1)).as("n_day1_admits"))
    val finN = fin
      .withColumn("ing", isIngest)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_final_admits"),
        sum(when(col("ing"), 1L).otherwise(0L)).as("n_day2_admits"))
    val evictedN = day1.join(fin, Seq("source", "doc_id"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("n_evicted"))
    d.select(col("source")).distinct()
      .join(day1N, Seq("source"), "left")
      .join(finN, Seq("source"), "left")
      .join(evictedN, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_day1_admits"), lit(0L)).as("n_day1_admits"),
        coalesce(col("n_final_admits"), lit(0L)).as("n_final_admits"),
        coalesce(col("n_evicted"), lit(0L)).as("n_evicted"),
        coalesce(col("n_day2_admits"), lit(0L)).as("n_day2_admits"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_cap_sample" -> (sourceCapSample _),
    "source_cap_topk" -> (sourceCapTopk _),
    "source_cap_maintained" -> (sourceCapMaintained _),
    "doc_shuffle_order" -> (docShuffleOrder _),
    "source_mix_apportion" -> (sourceMixApportion _),
    "source_mix_sample" -> (sourceMixSample _),
    "stratified_sample_k" -> ((s: SparkSession, d: String) => stratifiedSampleK(s, d)),
    "priority_sample"  -> ((s: SparkSession, d: String) => prioritySample(s, d)),
    "hash_sample"      -> (hashSample _),
    "hash_sample_docs" -> (hashSampleDocs _),
    "decontam_stats"   -> (decontamStats _),
    "decontam_docs"    -> (decontamDocs _),
    "token_budget_mix" -> (tokenBudgetMix _),
    "temperature_mix"  -> (temperatureMix _),
    "quantile_normalize_sources" -> (quantileNormalizeSources _),
    "curation_funnel"  -> (curationFunnel _))

  /** DuckDB twin of the first-8-nibble uniform: polynomial over the hex
    * nibbles (the HLL-oracle idiom; conv() has no DuckDB equivalent). */
  private def u32Sql(key: String): String = {
    val terms = (1 to 8).map { j =>
      val mult = 1L << (4 * (8 - j))
      s"(instr('0123456789abcdef', substr(h, $j, 1)) - 1) * $mult"
    }.mkString(" + ")
    s"(SELECT $terms FROM (SELECT md5(CAST($key AS VARCHAR)) AS h))"
  }

  /** Shared apportionment CTE — ends at `alloc(source, n_avail,
    * allotted)`, the identical Hamilton arithmetic. */
  private val apportionCte: String =
    s"""WITH s AS (SELECT source, count(*) AS n_avail
       |           FROM documents GROUP BY 1),
       |t AS (SELECT CAST(sum(n_avail) AS BIGINT) AS n_total FROM s),
       |q AS (SELECT source, n_avail,
       |    (n_avail * $MixBudget) // t.n_total AS q_floor,
       |    (n_avail * $MixBudget) % t.n_total AS rem
       |  FROM s, t),
       |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rnk,
       |    $MixBudget - sum(q_floor) OVER () AS short FROM q),
       |alloc AS (
       |  SELECT source, n_avail,
       |    CAST(q_floor + CASE WHEN rnk <= short THEN 1 ELSE 0 END AS BIGINT)
       |      AS allotted
       |  FROM r)""".stripMargin

  /** The admission-cap ground truth (naive window form) — shared by
    * the window-form query AND its bounded-heap TopK twin, so the two
    * graded rows provably answer the same question. */
  private val sourceCapOracle: String =
    s"""WITH r AS (
       |  SELECT source, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
       |        doc_id) AS rk
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN rk <= $CapK THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(count(*) - sum(CASE WHEN rk <= $CapK THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dropped,
       |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
       |  CAST(sum(CASE WHEN rk <= $CapK THEN n_chars ELSE 0 END)
       |    AS BIGINT) AS chars_kept,
       |  CAST(sum(n_chars) - sum(CASE WHEN rk <= $CapK THEN n_chars
       |    ELSE 0 END) AS BIGINT) AS chars_dropped,
       |  CAST((sum(CASE WHEN rk <= $CapK THEN 1 ELSE 0 END) * 1000000)
       |    // count(*) AS BIGINT) AS kept_share_ppm
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    // the naive single-window ground truth the two-phase rank must equal
    "doc_shuffle_order" ->
      """SELECT CAST(row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS pos, doc_id
        |FROM documents ORDER BY pos""".stripMargin,
    "source_mix_apportion" ->
      s"""$apportionCte
         |SELECT source, n_avail, allotted FROM alloc
         |ORDER BY source""".stripMargin,
    "source_mix_sample" ->
      s"""$apportionCte,
         |ranked AS (
         |  SELECT d.source, d.doc_id,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
         |  FROM documents d),
         |picked AS (
         |  SELECT ranked.source, ranked.doc_id
         |  FROM ranked JOIN alloc ON ranked.source = alloc.source
         |  WHERE ranked.rk <= alloc.allotted)
         |SELECT source, count(*) AS n_sampled,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
         |FROM picked GROUP BY 1 ORDER BY 1""".stripMargin,
    "stratified_sample_k" ->
      s"""SELECT lang, rk, doc_id FROM (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= $StratifiedK ORDER BY lang, rk""".stripMargin,
    "priority_sample" ->
      s"""WITH v AS (
         |  SELECT doc_id, source, n_chars,
         |    ${u32Sql("doc_id")} AS v
         |  FROM documents)
         |SELECT doc_id, source, n_chars,
         |  ${ScalarFns.roundSql(
            "CAST(n_chars AS DOUBLE) / ((CAST(v AS DOUBLE) + 1.0) / 4294967296.0)",
            4)} AS priority
         |FROM v
         |ORDER BY priority DESC, doc_id
         |LIMIT $PriorityK""".stripMargin,
    "source_cap_maintained" ->
      s"""WITH ing AS (
         |  SELECT source, doc_id,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
         |      AS is_ing
         |  FROM documents),
         |a1 AS (
         |  SELECT source, doc_id FROM (
         |    SELECT source, doc_id,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
         |          doc_id) AS rk
         |    FROM ing WHERE NOT is_ing) x
         |  WHERE rk <= $CapK),
         |af AS (
         |  SELECT source, doc_id, is_ing FROM (
         |    SELECT source, doc_id, is_ing,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8),
         |          doc_id) AS rk
         |    FROM ing) x
         |  WHERE rk <= $CapK),
         |d1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_day1_admits
         |  FROM a1 GROUP BY 1),
         |fn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_final_admits,
         |    CAST(sum(CASE WHEN is_ing THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_day2_admits
         |  FROM af GROUP BY 1),
         |ev AS (SELECT a1.source, CAST(count(*) AS BIGINT) AS n_evicted
         |  FROM a1 LEFT JOIN af
         |    ON af.source = a1.source AND af.doc_id = a1.doc_id
         |  WHERE af.doc_id IS NULL GROUP BY 1),
         |spine AS (SELECT DISTINCT source FROM documents)
         |SELECT s.source,
         |  coalesce(d1.n_day1_admits, 0) AS n_day1_admits,
         |  coalesce(fn.n_final_admits, 0) AS n_final_admits,
         |  coalesce(ev.n_evicted, 0) AS n_evicted,
         |  coalesce(fn.n_day2_admits, 0) AS n_day2_admits
         |FROM spine s
         |LEFT JOIN d1 ON d1.source = s.source
         |LEFT JOIN fn ON fn.source = s.source
         |LEFT JOIN ev ON ev.source = s.source
         |ORDER BY s.source""".stripMargin,
    "source_cap_sample" -> sourceCapOracle,
    // the window ground truth VERBATIM — hash equality proves the
    // bounded-heap select-k admission ≡ the rank-k window admission
    "source_cap_topk" -> sourceCapOracle,
    "hash_sample" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN ${keepSql()} THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sampled,
         |  ${ScalarFns.roundSql(
            s"""CAST(sum(CASE WHEN ${keepSql()} THEN 1 ELSE 0 END) AS DOUBLE)
               |    / count(*)""".stripMargin, 4)} AS sample_rate
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "hash_sample_docs" ->
      s"""SELECT doc_id, source, lang, n_chars FROM documents
         |WHERE ${keepSql()}
         |ORDER BY doc_id""".stripMargin,
    "decontam_stats" ->
      s"""$contamCte
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contaminated,
         |  ${ScalarFns.roundSql(
            """CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               |    AS DOUBLE) / count(*)""".stripMargin, 4)} AS contamination_rate
         |FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
         |WHERE d.doc_id % $BenchMod <> 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "decontam_docs" ->
      s"""$contamCte
         |SELECT c.doc_id, d.source
         |FROM cont c JOIN documents d ON c.doc_id = d.doc_id
         |ORDER BY c.doc_id""".stripMargin,
    "token_budget_mix" ->
      s"""WITH toks AS (
         |  ${Shingles.duckToks}),
         |avail AS (
         |  SELECT source,
         |    CAST(sum(len(t)) AS BIGINT) AS n_tokens_available,
         |    CAST(len(source) % 2 + 1 AS BIGINT) AS w
         |  FROM toks JOIN documents USING (doc_id)
         |  GROUP BY source),
         |tot AS (
         |  SELECT CAST(sum(n_tokens_available) AS BIGINT) AS tot_avail,
         |    CAST(sum(w) AS BIGINT) AS sum_w FROM avail),
         |r1 AS (
         |  SELECT a.*, (3 * t.tot_avail) // 4 AS budget,
         |    least(a.n_tokens_available,
         |      (((3 * t.tot_avail) // 4) * a.w) // t.sum_w) AS base_alloc
         |  FROM avail a, tot t),
         |r1tot AS (
         |  SELECT CAST(sum(base_alloc) AS BIGINT) AS allocated,
         |    CAST(sum(CASE WHEN n_tokens_available > base_alloc
         |      THEN w ELSE 0 END) AS BIGINT) AS hungry_w
         |  FROM r1)
         |SELECT r.source, r.n_tokens_available, r.w, r.base_alloc,
         |  CAST(CASE WHEN r.n_tokens_available > r.base_alloc
         |        AND rt.hungry_w > 0
         |    THEN least(r.n_tokens_available,
         |      r.base_alloc + ((r.budget - rt.allocated) * r.w) // rt.hungry_w)
         |    ELSE r.base_alloc END AS BIGINT) AS alloc_tokens,
         |  ${ScalarFns.roundSql(
            """CAST(CASE WHEN r.n_tokens_available > r.base_alloc
               |        AND rt.hungry_w > 0
               |    THEN least(r.n_tokens_available,
               |      r.base_alloc + ((r.budget - rt.allocated) * r.w) // rt.hungry_w)
               |    ELSE r.base_alloc END AS DOUBLE) / r.n_tokens_available"""
              .stripMargin, 4)} AS sampling_rate
         |FROM r1 r, r1tot rt
         |ORDER BY r.source""".stripMargin,
    "temperature_mix" ->
      s"""WITH toks AS (
         |  ${Shingles.duckToks}),
         |avail AS (
         |  SELECT source,
         |    CAST(sum(len(t)) AS BIGINT) AS n_tokens_available,
         |    CAST(floor(sqrt(CAST(sum(len(t)) AS DOUBLE)) * 1000000.0)
         |      AS BIGINT) AS w_fp
         |  FROM toks JOIN documents USING (doc_id)
         |  GROUP BY source),
         |tot AS (
         |  SELECT CAST(sum(n_tokens_available) AS BIGINT) AS tot_avail,
         |    CAST(sum(w_fp) AS BIGINT) AS sum_w FROM avail)
         |SELECT a.source, a.n_tokens_available, a.w_fp,
         |  CAST((CAST((3 * t.tot_avail) // 4 AS HUGEINT) * a.w_fp)
         |    // t.sum_w AS BIGINT) AS alloc_temp,
         |  CAST((CAST((3 * t.tot_avail) // 4 AS HUGEINT)
         |    * a.n_tokens_available) // t.tot_avail AS BIGINT) AS alloc_prop,
         |  CAST((CAST((CAST((3 * t.tot_avail) // 4 AS HUGEINT) * a.w_fp)
         |    // t.sum_w AS HUGEINT) * 1000000) // a.n_tokens_available
         |    AS BIGINT) AS rate_ppm
         |FROM avail a, tot t
         |ORDER BY a.source""".stripMargin,
    "quantile_normalize_sources" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, n_chars FROM documents),
         |ranked AS (
         |  SELECT doc_id, source, n_chars,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars, doc_id) AS BIGINT) AS rk,
         |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
         |  FROM d),
         |pr AS (
         |  SELECT doc_id, source, n_chars,
         |    CASE WHEN n = 1 THEN 500000
         |      ELSE ((rk - 1) * 1000000) // (n - 1) END AS pr_ppm
         |  FROM ranked),
         |gvals AS (
         |  SELECT n_chars AS qnorm_chars,
         |    sum(cnt) OVER (ORDER BY n_chars) - cnt + 1 AS lo,
         |    sum(cnt) OVER (ORDER BY n_chars) AS hi
         |  FROM (SELECT n_chars, CAST(count(*) AS BIGINT) AS cnt
         |        FROM d GROUP BY 1) v),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d)
         |SELECT p.doc_id, p.source, p.n_chars, p.pr_ppm, g.qnorm_chars
         |FROM pr p, tot t, gvals g
         |WHERE (p.pr_ppm * (t.n_total - 1)) // 1000000 + 1
         |  BETWEEN g.lo AND g.hi
         |ORDER BY p.doc_id""".stripMargin,
    "curation_funnel" ->
      s"""$contamCte,
         |f AS (
         |  SELECT d.doc_id, d.source, len(t.t) AS n_tok,
         |    len(t.t) >= ${TextOps.QualityMinTokens} AS q,
         |    (len(t.t) >= ${TextOps.QualityMinTokens}
         |      AND c.doc_id IS NULL) AS dc,
         |    (len(t.t) >= ${TextOps.QualityMinTokens}
         |      AND c.doc_id IS NULL AND ${keepSql("d.doc_id")}) AS samp
         |  FROM documents d
         |  JOIN toks t ON d.doc_id = t.doc_id
         |  LEFT JOIN cont c ON d.doc_id = c.doc_id
         |  WHERE d.doc_id % $BenchMod <> 0)
         |SELECT source, count(*) AS n_raw,
         |  CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN dc THEN 1 ELSE 0 END) AS BIGINT) AS n_decontam,
         |  CAST(sum(CASE WHEN samp THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  CAST(sum(CASE WHEN samp THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS tokens_final
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)
}
