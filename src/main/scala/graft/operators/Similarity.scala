package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.Extensions

/** Near-duplicate detection + similarity search (north-star [N] rows,
  * SURVEY.md §2.11 N2/N3/N5).
  *
  * Determinism contract with the DuckDB oracle:
  *  - MinHash uses `min(md5(band || ':' || shingle))` — lexicographic min
  *    over fixed-length hex strings is engine-independent, unlike
  *    Murmur3/`hash()` which differs between engines.
  *  - Cosine similarity folds products LEFT-TO-RIGHT in double
  *    (Spark `aggregate` HOF ≡ DuckDB `list_reduce`), so the float
  *    summation order — normally nondeterministic across engines — is
  *    pinned identical on both sides.
  *
  * Scale notes: LSH candidate generation is a union of 4 *equi*-joins on
  * band minhashes (never an OR-condition nested-loop join) — each is a
  * shuffle hash join keyed by a 32-char hash, which survives any data
  * size. Brute-force cosine broadcasts the single query vector (the
  * scan side streams); the LSH-banded variant prunes candidates before
  * any pairwise math. The Jaccard verification joins candidates back to
  * the exploded shingle table — cost ∝ candidates × shingles/doc, not
  * docs².
  */
object Similarity extends graft.QueryModule {

  /** Word-3-gram emission over an arbitrary (doc_id, text) frame — so
    * callers can restrict the DOCUMENT set (e.g. to LSH candidates)
    * before any shingle exists (joins are not pushed below a
    * Generate). Emission is the streaming [[graft.plans.WordGrams]]
    * generator (r5: the char_grams playbook applied to the word path —
    * no per-row token/gram arrays); values are identical to the HOF
    * `explode(transform(...))` form over [[graft.functions.Shingles]],
    * property-asserted in WordGramSpec, and the generator subsumes the
    * `size(t) >= 3` guard (fewer than 3 tokens ⇒ zero rows). */
  private[graft] def shinglesOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), expr("word_grams(text, 3)").as("s"))
  }

  /** See [[graft.Tables.fanOut]] — the signature stages here are
    * CPU-bound (hashing every gram occurrence) and were profiled as
    * majority single-threaded without it. */
  private def fanOut(spark: SparkSession, docs: DataFrame,
      key: String = "doc_id"): DataFrame =
    Tables.fanOut(spark, docs, key)

  /** 4-band (b=4, r=1) MinHash signatures per doc from an already
    * generated shingle stream — the shape for this file's GramStore
    * callers, whose grams are a shared materialized table. (A
    * consumer that starts from TEXT signs each doc row-locally with
    * [[graft.plans.DedupSignature]] instead: no generate, no regroup.)
    * The 4 minhashes are fixed 8-hex-char (32-bit) SLICES of ONE md5
    * per shingle — not 4 salted digests — computed in a codegen'd
    * PROJECTION (min(string) aggregates are ObjectHashAggregate: no
    * cross-aggregate CSE, so digests embedded in the min() updates
    * would re-hash per minhash). Operates on the RAW shingle stream:
    * min is duplicate-invariant, so no distinct is needed ahead of it.
    * Slices of one digest are independent uniform bits and
    * lexicographic min over fixed-width lowercase hex ≡ numeric min —
    * DuckDB rebuilds identical values with substr(md5(s)). */
  private[graft] def signaturesFrom(sh: DataFrame): DataFrame = {
    val slices = (0 to 3).map(i =>
      substring(md5(col("s")), 1 + 8 * i, 8).as(s"h$i"))
    val sigCols = (0 to 3).map(i => min(col(s"h$i")).as(s"m$i"))
    sh.select(Seq(col("doc_id")) ++ slices: _*)
      .groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** Run a ResultCache build whose persisted intermediates must stay
    * alive until the cache's SERVING COPY is materialized: `build`
    * receives a `defer` registrar; every registered frame is released
    * only after getOrCompute returns (wrap materialized) — or on the
    * failure path. This lets builders return a LAZY result (no eager
    * persist+count of their own): the cache's one materialization pass
    * reads the pinned intermediates directly, instead of the r4 shape's
    * TWO passes (builder count, then wrap count). On a cache HIT the
    * build never runs and nothing is registered. */
  private def cachedWithPins(key: String, ttlSeconds: Long = 300)(
      build: (DataFrame => DataFrame) => DataFrame): DataFrame = {
    val deferred = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def defer(df: DataFrame): DataFrame = { deferred += df; df }
    try graft.sources.ResultCache.getOrCompute(key, ttlSeconds)(build(defer))
    finally deferred.foreach { df =>
      try { df.unpersist(); () } catch { case _: Throwable => () }
    }
  }

  /** N2 MinHash+LSH near-dup pairs with exact n-gram-Jaccard
    * verification: candidates from any shared band minhash, then
    * jaccard = |A∩B| / (|A|+|B|−|A∩B|) over distinct word-3-gram sets.
    *
    * The pair table is a shared expensive intermediate (the cluster
    * build and the graded pair query both consume it), so it is routed
    * through the keyed TTL [[graft.sources.ResultCache]] — ONE owner
    * for its persisted blocks, released by the TTL sweep like every
    * other cached result (round-2 advice: no session-lifetime leak). */
  def neardupPairs(spark: SparkSession, dir: String): DataFrame =
    // TTL 600 (not the default 300): the pair table is KB-sized and its
    // consumers span the bench board — `neardup_pairs` builds it and
    // `lsh_recall_audit`/`source_overlap_matrix` read it ~200 s later
    // at sf0.1; under a load-stretched board a 300 s TTL could expire
    // between owner and reader, re-billing the build to the audit (the
    // exact r10 attribution defect the bench-order pins fix).
    cachedWithPins(
      s"${graft.sources.ResultCache.sessionId(spark)}|neardup_pairs|$dir",
      ttlSeconds = 600)(
      neardupPairsUncached(spark, dir, _))

  private def neardupPairsUncached(spark: SparkSession, dir: String,
      defer: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // r9 shape: both gram passes read the SHARED distinct substrate
    // (GramStore — the "materialize a shingle TABLE once and share it
    // across runs" deployment note of earlier rounds, now literal).
    // The r5-era raw-stream signature pass and its per-pass text
    // regeneration are gone; the one distinct left in this builder is
    // the candidate-pair distinct.
    // MEMORY_AND_DISK: Spark's unified memory manager evicts cached
    // blocks to disk under execution pressure — this cannot starve the
    // executors' heap at scale.
    // Intermediates are pinned via `defer` ([[cachedWithPins]]):
    // released after the cache's serving copy materializes, on EVERY
    // exit path — a failed build must not leave corpus-sized blocks
    // pinned for the session lifetime.
    def pin(df: DataFrame): DataFrame =
      defer(df.persist(StorageLevel.MEMORY_AND_DISK))
    // ONE shared gram substrate for BOTH gram passes (signatures
    // below, candidate set-build further down) — and for the exact
    // set-similarity join and the recall audit outside this file
    // ([[graft.sources.GramStore.wordGrams3]]: distinct (doc, gram)
    // scratch parquet, built once per (JVM, corpus)). Sharing the
    // DISTINCT table with the exact tier is sound here because min()
    // is duplicate-invariant — the signature over the distinct set
    // equals the signature over the raw stream — and the r8-era
    // text-scan regeneration (documents decoded + tokenized per pass)
    // disappears: both passes are column-pruned scans of the
    // substrate's files, already split across cores by the parquet
    // reader (no [[fanOut]] needed).
    val grams = graft.sources.GramStore.wordGrams3(spark, dir)
      .select(col("doc_id"), col("tok").as("s"))
    // One shuffle, not four: unpivot the 4 band minhashes to
    // (doc, band, m) rows and self-join on (band, m). Identical
    // candidate set to four per-band joins, but a single exchange.
    val bands = pin(signaturesFrom(grams)
      .select(col("doc_id"), explode(array((0 to 3).map(i =>
        struct(lit(i).as("band"), col(s"m$i").as("m"))): _*)).as("bm"))
      .select(col("doc_id"), col("bm.band").as("band"), col("bm.m").as("m")))
      // 4 rows/doc — tiny
    // persist + materialize: `cand` feeds the verification join AND the
    // broadcast candidate-doc list below (multiple broadcast exchanges)
    // — unpersisted, every consumer would re-run the LSH self-join
    val cand = pin(bands.select(col("doc_id").as("doc_a"), col("band"), col("m"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("m")),
        Seq("band", "m"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()) // pair granularity — tiny; persisted, NOT counted:
    // the first consumer (the candDocs broadcast build below)
    // materializes the blocks as a side effect, the later verify join
    // reads them — an eager count here would be a whole extra pass

    // SEMI-JOIN REDUCTION before the expensive verification joins: the
    // broadcast candidate-doc prune is applied to the substrate scan,
    // so non-candidate documents' grams never reach the set build and
    // its shuffle is ∝ candidate shingles.
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    // VERIFICATION on per-doc GRAM-HASH SETS, not an exploded gram
    // join. One aggregation builds each candidate doc's distinct
    // 64-bit gram-hash array (collect_set ≡ distinct-then-collect, so
    // this single shuffle SUBSUMES the r4 corpus-wide gram distinct);
    // candidate pairs then take the whole set table via ONE broadcast
    // and compute |A∩B| with one codegen'd array_intersect per pair.
    // The r4 form shuffled (pairs × grams/doc) exploded rows — ~13M at
    // sf0.1 — through two joins and a groupBy; this form's only
    // verification shuffle is the doc-level set build (rows ∝
    // candidate docs), and the per-pair work is an in-memory merge.
    // Hashes: set sizes and intersection cardinalities are
    // hash-invariant absent a collision (P ≈ grams²/2⁶⁵ ≈ 5e-8 at
    // sf0.1, one n_inter off by one if hit — the cross-SF selfcheck
    // sweep guards the actual corpora; swap h back to s for
    // certainty). At 100 TB the per-doc set table of the CANDIDATE
    // docs can exceed broadcast budgets — there the same plan minus
    // the broadcast hint is a pair-keyed shuffle join whose volume is
    // ∝ pairs, never ∝ exploded grams.
    //
    // The set table is PINNED and materialized before the broadcasts:
    // both join sides alias one broadcast frame and usually share a
    // single exchange (ReuseExchange), but broadcast builds run on
    // concurrent driver threads and a missed reuse would re-run the
    // gram regeneration — measured as bimodal build times. With the
    // blocks pinned, even a duplicated broadcast build is a cheap
    // cached-block scan.
    val dgSets = pin(grams
      .join(broadcast(candDocs), Seq("doc_id"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs")))
    dgSets.count()
    val dg = broadcast(dgSets)

    // LAZY return — no builder-side persist/count: the ResultCache's
    // single materialization pass executes this plan once, reading the
    // pinned cand blocks and the reused set-table broadcast; the pins
    // are released right after that pass ([[cachedWithPins]]).
    cand
      .join(dg.as("x"), col("doc_a") === col("x.doc_id"))
      .join(dg.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("x.hs"), col("y.hs"))).cast("bigint").as("n_inter"),
        size(col("x.hs")).as("na"), size(col("y.hs")).as("nb"))
      // the oracle's inter CTE inner-joins on matching grams, so a
      // candidate pair sharing ZERO grams emits no row — mirror that
      .filter(col("n_inter") > 0)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        graft.functions.ScalarFns.roundN(col("n_inter").cast("double")
          / (col("na") + col("nb") - col("n_inter")), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  // CHARACTER 9-gram shingles of the lowercased text — the robustness
  // twin of the word-3-gram shingles: word-grams miss near-dups that
  // differ by tokenization (punctuation, hyphenation, run-together
  // whitespace edits); char-grams see through them. 9 chars ≈ 1.5
  // words: long enough that cross-doc collisions are rare (5-grams
  // like " the " appear in every doc and were measured to collapse
  // LSH into all-pairs — 5M candidates at sf0.1), short enough to
  // survive small edits. Since r10 the distinct (doc, gram) frame is
  // served by [[graft.sources.GramStore.charGrams9]] (the streaming
  // CharGrams generator, not the HOF explode(transform(...)) form —
  // CharGramSpec asserts value equality); the HOF twin below is the
  // spec's equivalence oracle only.

  /** The HOF formulation the generator replaced — kept ONLY as the
    * equivalence oracle for CharGramSpec (never on a graded path). */
  private[graft] def charShinglesHof(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("lt", lower(col("text")))
      .filter(length(col("lt")) >= 9)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(lt) - 8), i -> substring(lt, i, 9))"))
        .as("s"))

  /** N2 char-shingle near-dup pairs: 8 MinHashes in 4 bands × 2 ROWS
    * (band key = concatenated pair of minhashes), then exact
    * char-Jaccard verification; only pairs at/over `threshold` emit.
    *
    * Why r=2 AND a ≥2-band vote where the word variant uses r=1 and
    * any-band: char-gram Jaccard between unrelated docs is much higher
    * than word-gram Jaccard (shared substrings are everywhere). A 1-row
    * band collides with probability J — measured 1.3M candidate pairs
    * at sf0.1; squaring it (r=2) leaves 36k; requiring TWO of the four
    * bands to agree leaves 325 — while every one of the 256 true ≥0.5
    * pairs keeps ≥2 band votes (254 keep ≥3). Analytically the vote
    * costs recall 1−(1−J²)⁴−4J²(1−J²)³ ≈ 2 % at J=0.9, ≈ 0 at J≥0.95 —
    * the accepted LSH trade for a 100× cheaper verification join. At a
    * larger corpus the noise floor grows quadratically, so r and the
    * vote threshold are the knobs to raise. Same semi-join-pruned
    * verification shape as the word variant: shuffle bytes ∝ candidate
    * shingles, not corpus shingles. */
  /** Emit threshold for char-gram pairs — referenced by BOTH the query
    * default and the oracle SQL so they cannot diverge (a caller-chosen
    * threshold flows into the ResultCache key but would NOT be graded:
    * the driver only ever runs the default). */
  private[graft] val CharJaccardThreshold = 0.5

  def neardupPairsChar(spark: SparkSession, dir: String,
      threshold: Double = CharJaccardThreshold): DataFrame =
    cachedWithPins(
      s"${graft.sources.ResultCache.sessionId(spark)}|neardup_pairs_char|$dir|$threshold")(
      neardupPairsCharUncached(spark, dir, threshold, _))

  private def neardupPairsCharUncached(spark: SparkSession, dir: String,
      threshold: Double, defer: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    def pin(df: DataFrame): DataFrame =
      defer(df.persist(StorageLevel.MEMORY_AND_DISK))
    // MinHash signatures come straight off the RAW gram stream: min is
    // DUPLICATE-INVARIANT (min over a multiset ≡ min over its set), so
    // the r3-era corpus-wide `distinct` — a full shuffle of every gram
    // occurrence, profiled at ~4 s of the query's 10.7 s at sf0.1 —
    // buys nothing here and is gone. The only corpus-wide pass left is
    // this one streaming generator scan feeding a partial-agged
    // groupBy; exact-Jaccard verification below re-generates grams for
    // CANDIDATE docs only, where the distinct is a few hundred docs'
    // worth instead of the corpus's.
    // 8 minhashes from TWO md5 digests, not eight: minhash i is a
    // fixed 8-hex-char (32-bit) SLICE of md5((i div 4) || ':' || s).
    // Hashing was the profiled hot spot once the corpus distinct was
    // gone (~11.5M md5 calls at sf0.1 = the bulk of the signature
    // stage); distinct slices of one digest are independent uniform
    // bits, and 32 bits per minhash keeps spurious min-collisions at
    // 2⁻³² — the standard many-hashes-from-one-digest LSH trick.
    // Slices are hex SUBSTRINGS (fixed width, lowercase), so
    // lexicographic min ≡ numeric min and DuckDB's substr(md5(…))
    // rebuilds identical values.
    //
    // The slices are computed in a PROJECTION below the aggregate, not
    // inside the 8 min() update expressions: min(string) has a
    // variable-width buffer, so this aggregate is ObjectHashAggregate,
    // not codegen HashAggregate — there is no cross-aggregate
    // subexpression elimination there, and digests embedded in the agg
    // would be re-hashed per consuming minhash. The whole-stage-
    // codegen'd project evaluates each md5 exactly once per gram.
    val slices = (0 to 7).map { i =>
      substring(md5(concat(lit(s"${i / 4}:"), col("s"))),
        1 + 8 * (i % 4), 8).as(s"h$i")
    }
    val sigCols = (0 to 7).map(i => min(col(s"h$i")).as(s"m$i"))
    // r10 shape (the word variant's r9 move mirrored): BOTH gram
    // passes read the shared RAW-stream substrate
    // ([[graft.sources.GramStore.charGrams9]] — scratch parquet built
    // once per (JVM, corpus) with NO shuffle, already split across
    // cores by the parquet reader, no [[fanOut]] needed here). min()
    // is duplicate-invariant and collect_set dedups, so raw-vs-
    // distinct is output-invariant — and the text is decoded +
    // gram-generated ONCE per JVM instead of twice per run.
    val grams = graft.sources.GramStore.charGrams9(spark, dir)
    val sigs = grams
      .select(Seq(col("doc_id")) ++ slices: _*)
      .groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    // one unpivoted self-join exchange, like the word variant; the band
    // key is the CONCATENATION of the band's two minhashes (fixed-width
    // hex, so concat-equality ⟺ pairwise equality)
    val bands = pin(sigs
      .select(col("doc_id"), explode(array((0 to 3).map(i =>
        struct(lit(i).as("band"),
          concat(col(s"m${2 * i}"), col(s"m${2 * i + 1}")).as("m"))): _*))
        .as("bm"))
      .select(col("doc_id"), col("bm.band").as("band"), col("bm.m").as("m")))
    // each band contributes at most one row per pair (one (doc, band)
    // row per side, equi-joined on the band key), so count(*) IS the
    // band-vote count — no DISTINCT needed before the vote
    val cand = pin(bands.select(col("doc_id").as("doc_a"), col("band"), col("m"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("m")),
        Seq("band", "m"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("nbands"))
      .filter(col("nbands") >= 2)
      .select(col("doc_a"), col("doc_b")))
    // persisted, not counted: the candDocs broadcast build materializes
    // the blocks; the verify join reads them (see the word variant)

    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    // Per-doc gram-hash SETS of CANDIDATE docs only (same shape as the
    // word variant): the broadcast candidate prune is applied to the
    // SUBSTRATE scan, so non-candidate documents' grams never leave
    // the parquet reader; ONE collect_set aggregation; each pair pays
    // a codegen'd array_intersect — verification never shuffles an
    // exploded gram row. Pinned + materialized before the broadcasts
    // (see the word variant: a missed ReuseExchange must read blocks,
    // not re-run the scan).
    // Hash-collision note: see the word variant.
    val dgSets = pin(grams.join(broadcast(candDocs), Seq("doc_id"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs")))
    dgSets.count()
    val dg = broadcast(dgSets)
    // LAZY return (see the word variant): the ResultCache's one
    // materialization pass executes this plan; pins release after.
    cand
      .join(dg.as("x"), col("doc_a") === col("x.doc_id"))
      .join(dg.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("x.hs"), col("y.hs"))).cast("bigint").as("n_inter"),
        size(col("x.hs")).as("na"), size(col("y.hs")).as("nb"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        graft.functions.ScalarFns.roundN(col("n_inter").cast("double")
          / (col("na") + col("nb") - col("n_inter")), 4).as("jaccard"))
      // ≥ threshold also subsumes the oracle's inner-join drop of
      // zero-intersection pairs (jaccard 0 < any positive threshold)
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over a SYMMETRIC edge list (both directions
    * present), labels = component-minimum vertex id. Min-label
    * propagation + POINTER JUMPING, the two-phase contraction that
    * bounds rounds at O(log n) instead of O(diameter):
    *
    *   propagate: label(v) ← min(label(v), min over neighbors' labels)
    *   jump:      label(v) ← label(label(v))   (path halving)
    *
    * The jump step is what star contraction buys: label chains halve
    * every round, so even an adversarial CHAIN graph of n vertices
    * converges in ~2·log₂(n) rounds (asserted on a 1000-vertex chain in
    * TextSimilaritySpec), where plain propagation needs n rounds and
    * round-2's 50-round guard fired. Correctness invariants: label(v)
    * is always the id of a vertex in v's component and ≤ v, labels are
    * pointwise non-increasing, and the combined operator's fixpoint is
    * exactly "constant = component min per component" — so Σlabels
    * strictly decreases until fixpoint and convergence is ONE scalar
    * aggregate per round (the same action that materializes the round's
    * cache — no extra job).
    *
    * Scale shape: every per-round frame spans only the EDGE-ENDPOINT
    * vertices (callers left-join isolated vertices back once at the
    * end), so per-round cost is O(|edges|), not O(|corpus|) — at 100 TB
    * the edge set of a near-dup graph is orders of magnitude smaller
    * than the corpus, and this loop never touches the corpus at all.
    *
    * Returns (labels(doc_id, label) CACHED — caller unpersists, rounds). */
  /** Release the block-manager blocks behind a localCheckpoint'ed frame
    * NOW instead of waiting for the ContextCleaner's post-GC sweep —
    * without this, every loop round would pin a labels-sized checkpoint
    * until the driver happens to collect garbage. Safe to call once the
    * round's `next` cache is materialized: the checkpointed frame is
    * never read again (and MEMORY_AND_DISK caches spill rather than
    * discard, so the truncated lineage is not re-executed in practice;
    * a multi-executor deployment tolerating executor loss would use
    * reliable checkpoints to a shared dir instead). */
  private[operators] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Shuffle parallelism for the component loop's frames. Every frame
    * in the loop spans only EDGE-ENDPOINT vertices (orders of magnitude
    * smaller than the corpus at any scale), but each round runs 2 joins
    * + an agg: at the session's corpus-sized shuffle partitioning that
    * is rounds × 32-task stages of pure scheduling overhead — MEASURED
    * as the majority of neardup_clusters' bench time (11.8 s of 17 s at
    * sf0.1). A production deployment sizes this to |edges|. */
  private[operators] val LoopParts = 8

  /** Session clone the ITERATIVE loops plan under (r12, guide §1.2 +
    * §7.2): every loop frame is explicitly repartitioned to
    * [[LoopParts]] and spans only edge-endpoint vertices, so adaptive
    * execution has nothing to improve — but AQE materializes EVERY
    * exchange inside a round's single action as its own job with a
    * driver re-planning pass, profiled as 35-60 jobs per loop query
    * (~45 ms of scheduling each) against ~1 s of actual compute.
    * Planning the loop body non-adaptively pipelines each round into
    * one job. A clone, never the caller's session (the r3 set/restore
    * race); one per parent (the r5 once-per-JVM idiom). Adaptive stays
    * ON everywhere data sizes are unknown — this is only for loop
    * bodies whose partitioning is pinned by construction. */
  // Weakly keyed (r12 advice): a strong-keyed memo would pin every
  // parent session AND its clone for the JVM's lifetime — the
  // ResultCache.sessionIds discipline. Values (the clones) do not
  // reference their keys (newSession shares only the SparkContext), so
  // entries are collectable once the parent session is dropped.
  private val loopSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()
  private[graft] def loopSession(spark: SparkSession): SparkSession =
    loopSessions.synchronized {
      val cur = loopSessions.get(spark)
      if (cur != null) cur
      else {
        val ss = Extensions.newSession(spark,
          "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> LoopParts.toString)
        loopSessions.put(spark, ss)
        ss
      }
    }

  /** Edge-count gate below which components are solved ON THE DRIVER
    * (union-find over the collected edge list) instead of by the
    * distributed loop. This is the same scale-adaptive move as a
    * broadcast join: Spark's own BroadcastExchangeExec collects a
    * ≤-threshold build side to the driver because shipping it beats
    * shuffling it — here, a ≤1M-edge list (16 MB of longs) beats
    * rounds × multi-stage shuffles of scheduling overhead by ~10×
    * (measured: 1.2 s of loop for a 477-endpoint graph at sf0.1 vs
    * ~0.05 s of union-find). The distributed propagate+jump loop
    * remains the over-threshold path and keeps its own property
    * tests. */
  private[graft] val LocalCcMaxEdges: Long = 1L << 20

  /** Components of a SYMMETRIC edge list — size-gated dispatch: local
    * union-find under [[LocalCcMaxEdges]] (the edge count is ONE cheap
    * action over the — typically cached — pair frame), the distributed
    * [[connectedComponentsLoop]] above it. Both produce identical
    * labels (component-minimum per vertex; property-asserted against
    * each other in ComponentsPropSpec). Returns (labels, rounds);
    * 0 rounds ⇔ local path. Local-path labels come back CACHED (the
    * caller unpersists via defer); loop-path labels come back as a
    * scratch-parquet scan (rebuildable from disk — unpersist is a
    * harmless no-op). */
  private[graft] def connectedComponents(edgesSym: DataFrame): (DataFrame, Int) =
    if (edgesSym.limit((LocalCcMaxEdges + 1).toInt).count() <= LocalCcMaxEdges)
      (localComponents(edgesSym), 0)
    else connectedComponentsLoop(edgesSym)

  /** Driver-side union-find with path compression + union-by-min-root:
    * the final root of every component is its MINIMUM vertex id (each
    * union keeps the smaller root), matching the loop's label
    * semantics exactly. Returns a LocalRelation-backed frame —
    * downstream joins against it fold to broadcasts with zero jobs. */
  private def localComponents(edgesSym: DataFrame): DataFrame = {
    val spark = edgesSym.sparkSession
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edgesSym.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
    import spark.implicits._
    // sorted for a deterministic LocalRelation; label = component min
    parent.keys.toSeq.sorted.map(v => (v, find(v)))
      .toDF("doc_id", "label").cache()
  }

  private[graft] def connectedComponentsLoop(edgesSym: DataFrame): (DataFrame, Int) = {
    // The loop is pinned at LoopParts partitions with EXPLICIT
    // repartition on every shuffle input — never by mutating the
    // session-global spark.sql.shuffle.partitions (r3 advice: a
    // concurrent query planned during a set/restore window silently
    // ran at 8). Co-partitioning does the rest: both join inputs arrive
    // hash-partitioned (key, LoopParts), so EnsureRequirements inserts
    // no conf-sized exchange anywhere in the loop. Trade-off, measured
    // irrelevant at edge-set sizes: an aggregate above an explicit
    // repartition runs its partial step after the exchange, so the
    // shuffle carries raw join-output rows (still ∝ |edges|) instead of
    // map-side-combined ones.
    //
    // localCheckpoint (EAGER), not cache: a cache keeps the edge set's
    // full LOGICAL lineage — here the entire upstream LSH pipeline —
    // and every round's 2 joins re-analyze/canonicalize that tree on
    // the driver. MEASURED: ~2.8 s of pure driver plan work per round
    // vs 0.24 s of actual execution. The checkpoint cuts the loop's
    // plans to a block scan — and PRESERVES physical partitioning
    // (LogicalRDD carries outputPartitioning), so partitioning by dst
    // HERE means the per-round neighbor join never re-shuffles the
    // edge side at all. Blocks are released in the finally.
    val edges = edgesSym.repartition(LoopParts, col("dst")).localCheckpoint(true)
    var labels = edges.select(col("src").as("doc_id"))
      .repartition(LoopParts, col("doc_id")).distinct()
      .withColumn("label", col("doc_id")).cache()
    var lastProp: DataFrame = null
    var ok = false
    try {
      // sum over ZERO rows is SQL NULL — an empty edge set must
      // converge on the spot, not NPE
      def sumOrZero(df: DataFrame): Long = {
        val v = df.agg(sum(col("label"))).first().get(0)
        if (v == null) 0L else v.asInstanceOf[Long]
      }
      var labelSum = sumOrZero(labels)
      var converged = false
      var rounds = 0
      while (!converged && rounds < 64) {
        // labels arrives hash-partitioned (doc_id, LoopParts) — from
        // the initial repartition+distinct in round 1, from the
        // checkpoint-preserved partitioning of `next` afterwards — and
        // edges is checkpointed as (dst, LoopParts): co-partitioned,
        // no exchange on either join input. Only the groupBy's key
        // change (dst→src) shuffles, pinned to LoopParts explicitly.
        val neighborMin = edges
          .join(labels, edges("dst") === labels("doc_id"))
          .repartition(LoopParts, col("src"))
          .groupBy(col("src")).agg(min(col("label")).as("nmin"))
        // The jump join references `prop` TWICE, so without lineage
        // truncation each round's logical plan would contain the
        // previous round's twice — exponential plan growth that OOMs
        // the DRIVER on plan stringification alone by ~round 15. A LAZY
        // localCheckpoint cuts the plan to a block scan (the standard
        // fix for iterative DataFrame algorithms, cf. GraphFrames/
        // Pregel) while keeping the round at ONE driver action: the
        // convergence sum below materializes the checkpoint, the jump
        // join, and the next cache in a single job — per-round
        // scheduling overhead is the real cost at iteration
        // granularity, not data volume.
        val prop = labels.as("l")
          .join(neighborMin, col("l.doc_id") === col("src"), "left")
          .select(col("l.doc_id").as("doc_id"),
            least(col("l.label"), coalesce(col("nmin"), col("l.label"))).as("label"))
          .localCheckpoint(false) // lazy: materialized by the sum below
        // point the failure-path cleanup at THIS round's checkpoint
        // BEFORE the action below: if the action throws after
        // materializing it, the finally must release these blocks, not
        // re-release the previous (already-freed) round's (r3 advice)
        lastProp = prop
        // Jump-join: probe side re-keyed on label (pinned), build side
        // rides prop's checkpoint-preserved (doc_id→pd, LoopParts)
        // partitioning. The output's label column is a COMPUTED
        // coalesce — no attribute survives for propagation — so the
        // next round's labels are re-pinned on doc_id here, where the
        // exchange replaces (not adds to) the one EnsureRequirements
        // would insert at the session's conf size.
        val next = prop.repartition(LoopParts, col("label")).as("a")
          .join(prop.select(col("doc_id").as("pd"), col("label").as("pl")),
            col("a.label") === col("pd"), "left")
          .select(col("a.doc_id").as("doc_id"),
            coalesce(col("pl"), col("a.label")).as("label"))
          .repartition(LoopParts, col("doc_id"))
          .cache()
        val nextSum = sumOrZero(next) // THE round's single driver action
        labels.unpersist()
        releaseCheckpoint(prop) // next is materialized — prop is done
        labels = next
        converged = nextSum == labelSum
        labelSum = nextSum
        rounds += 1
      }
      // Wrong labels must never be returned silently — with pointer
      // jumping 64 rounds covers components of ~2^32 vertices, so this
      // firing means a bug, not a big graph.
      require(converged,
        s"connectedComponents: did not converge in $rounds rounds")
      // Reliable-storage checkpoint (r5 advice): the converged frame's
      // lineage bottoms out in per-round localCheckpoint blocks that
      // were RELEASED as the loop advanced, so handing it out would
      // silently violate ResultCache's rebuild-on-miss contract (a
      // post-grace action would raise "checkpoint block not found"
      // instead of recomputing). Write the labels once and serve the
      // file scan: fully rebuildable from disk, no driver collect —
      // the GraphFrames/Pregel "checkpoint to reliable storage" move,
      // and at 100 TB what you'd do regardless (converged labels are a
      // deliverable table, not a transient).
      val out = graft.Tables.scratchDir("graft_cc_labels_")
      labels.write.mode("overwrite").parquet(out.getAbsolutePath)
      val served = labels.sparkSession.read.parquet(out.getAbsolutePath)
      labels.unpersist()
      ok = true
      (served, rounds)
    } finally {
      // edges are loop-internal — released on EVERY exit path; the
      // returned labels cache is the caller's to release, except on
      // failure, where nothing is returned and it must not stay pinned
      releaseCheckpoint(edges)
      if (!ok) {
        try labels.unpersist() catch { case _: Throwable => () }
        if (lastProp != null)
          try releaseCheckpoint(lastProp) catch { case _: Throwable => () }
      }
    }
  }

  /** N2 near-dup CLUSTERS — the actual dedup deliverable: connected
    * components over the near-dup pair graph (edges = verified pairs at
    * jaccard ≥ threshold on the ROUNDED score, so the edge set is
    * exactly the graded `neardup_pairs` rows), labels = component
    * minimum via [[connectedComponents]] (propagate + pointer-jump,
    * O(log n) rounds, edge-endpoint vertices only — isolated documents
    * never enter the loop and are labeled with their own id by the
    * final left join). Oracle: DuckDB recursive-CTE transitive
    * closure. */
  def neardupClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    // The cluster assignment is a shared expensive intermediate (the
    // pipeline capstone consumes it right after the graded cluster
    // query computes it) — exactly the S6 result-reuse case, so route
    // it through the keyed TTL cache instead of recomputing the whole
    // LSH pipeline per consumer. Key carries session, dir and
    // threshold: a hit can never serve another corpus or cutoff.
    cachedWithPins(
      s"${graft.sources.ResultCache.sessionId(spark)}|neardup_clusters|$dir|$threshold")(
      neardupClustersUncached(spark, dir, threshold, _))

  /** Shared cluster-frame assembly for BOTH cluster queries (lexical
    * LSH pairs and embedding pairs): symmetrize the undirected pair
    * list, run [[connectedComponents]] over the edge-endpoint vertices,
    * then left-join the labels onto the full vertex set — isolated
    * vertices (the vast majority) never enter the loop and keep their
    * own id. This is the single O(|vertices|) pass, outside the
    * iteration. Returns a LAZY frame; the labels cache is registered
    * with `defer`, released after the ResultCache serving copy
    * materializes ([[cachedWithPins]]). */
  private def clusterFrame(vertices: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      defer: DataFrame => DataFrame,
      components: DataFrame => (DataFrame, Int) = connectedComponents)
      : DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
    val (labels, _) = components(edges)
    defer(labels)
    vertices
      .join(labels, vertices(idCol) === labels("doc_id"), "left")
      .select(vertices(idCol),
        coalesce(col("label"), vertices(idCol)).as("cluster"))
      .orderBy(idCol)
  }

  /** Canonical-document SURVIVORSHIP — the step after clustering a
    * dedup pipeline actually ships: per multi-member near-dup cluster,
    * the KEEPER is chosen by a deterministic quality rule (most tokens
    * — the longest duplicate is usually the most complete — then most
    * stopwords as a naturalness tiebreak, then smallest doc_id), and
    * the report prices the decision: members, keeper, kept vs dropped
    * token mass. Exact integers end to end (the `doc_quality`
    * tokenizer twins). Consumes the CACHED cluster frame — zero new
    * LSH work; the per-cluster windows partition on the cluster key
    * (many small groups — embarrassingly parallel at any scale). */
  def neardupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val clu = neardupClusters(spark, dir)
    val q = Tables(spark, dir, "documents")
      .withColumn("t", graft.functions.Shingles.sparkToks)
      .select(col("doc_id"),
        size(col("t")).cast("bigint").as("n_tokens"),
        expr(s"size(filter(t, x -> x in (${TextOps.stopArrSql})))")
          .cast("bigint").as("n_stop"))
    val wC = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
    val wR = wC.orderBy(col("n_tokens").desc, col("n_stop").desc,
      col("doc_id"))
    clu.join(q, Seq("doc_id"))
      .withColumn("n_members", count(lit(1)).over(wC))
      .withColumn("cluster_tokens", sum(col("n_tokens")).over(wC))
      .withColumn("rk", row_number().over(wR))
      .filter(col("rk") === 1 && col("n_members") > 1)
      .select(col("cluster"), col("n_members"),
        col("doc_id").as("keeper_doc"),
        col("n_tokens").as("keeper_tokens"),
        (col("cluster_tokens") - col("n_tokens")).as("dropped_tokens"))
      .orderBy("cluster")
  }

  private def neardupClustersUncached(spark: SparkSession, dir: String,
      threshold: Double, defer: DataFrame => DataFrame): DataFrame =
    // neardupPairs is itself ResultCache-managed, so this read is a
    // cache hit whenever the graded pair query (or a previous cluster
    // build) already ran — and its blocks are owned by the cache, not
    // leaked here.
    clusterFrame(
      Tables(spark, dir, "documents").select(col("doc_id")), "doc_id",
      neardupPairs(spark, dir).filter(col("jaccard") >= threshold),
      "doc_a", "doc_b", defer)

  /** SURVIVOR cluster labels — the erased pipeline's dedup substrate
    * ([[CurationPipeline]] GDPR row): the stored pair table
    * DV-filtered (a pair's candidacy depends only on its own two
    * docs' signatures, so the filtered pair set IS exactly the pair
    * set a survivor-only rebuild would produce — the
    * [[IndexErasure]] per-row-independence principle applied to the
    * LSH pair table), components over survivor vertices only. */
  private[graft] def neardupClustersErased(spark: SparkSession,
      dir: String, threshold: Double = 0.5): DataFrame =
    cachedWithPins(
      s"${graft.sources.ResultCache.sessionId(spark)}|neardup_clusters_erased|$dir|$threshold")(
      defer => clusterFrame(
        Tables(spark, dir, "documents")
          .filter(!IndexErasure.erased(col("doc_id")))
          .select(col("doc_id")), "doc_id",
        neardupPairs(spark, dir).filter(col("jaccard") >= threshold)
          .filter(!IndexErasure.erased(col("doc_a")) &&
            !IndexErasure.erased(col("doc_b"))),
        "doc_a", "doc_b", defer))

  /** The DISTRIBUTED component path GRADED (r6): identical semantics
    * to [[neardupClusters]], but dispatched through
    * [[connectedComponentsLoop]] unconditionally — at bench scale the
    * ≤[[LocalCcMaxEdges]] gate always routes the graded cluster
    * queries to the driver-side union-find, so without this twin the
    * 100 TB path (co-partitioned propagate + pointer-jump rounds,
    * converged labels checkpointed to reliable storage) was exercised
    * only by ScalaTest parity properties, never hash-graded. Same
    * recursive-CTE closure oracle as `neardup_clusters`: the two paths
    * are label-identical by construction, and this row proves it
    * against the oracle instead of asserting it. */
  def neardupClustersLoop(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    cachedWithPins(
      s"${graft.sources.ResultCache.sessionId(spark)}|neardup_clusters_loop|$dir|$threshold")(
      defer => clusterFrame(
        Tables(spark, dir, "documents").select(col("doc_id")), "doc_id",
        neardupPairs(spark, dir).filter(col("jaccard") >= threshold),
        "doc_a", "doc_b", defer,
        components = e => connectedComponentsLoop(e)))

  /** N1–N4 capstone — the complete training-data curation pipeline as
    * ONE graded query, reporting per-source survivor counts at every
    * stage:
    *   n_raw      → all documents
    *   n_quality  → token count ≥ 10 (the doc_quality 'fair'+ rule)
    *   n_exact    → one doc per NORMALIZED text among quality
    *                survivors (keeper = min doc_id)
    *   n_final    → one doc per near-dup CLUSTER among exact
    *                survivors (keeper = min surviving doc_id, so a
    *                cluster whose minimum was dropped upstream still
    *                keeps its best remaining member)
    * Each stage is a flag column, so the yield report is one grouped
    * aggregate over the flagged frame — no per-stage rescans. */
  def pipelineYield(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val d = Tables(spark, dir, "documents")
      .withColumn("norm", TextOps.normalized(col("text")))
      .withColumn("n_tokens", size(graft.functions.Shingles.sparkToks))
      .withColumn("q_pass", col("n_tokens") >= TextOps.QualityMinTokens)
    val flagged = d
      .withColumn("exact_rn", row_number().over(
        w.partitionBy(col("q_pass"), col("norm")).orderBy(col("doc_id"))))
      .withColumn("exact_keep", col("q_pass") && col("exact_rn") === 1)
      .join(neardupClusters(spark, dir), Seq("doc_id"))
      .withColumn("final_rn", row_number().over(
        w.partitionBy(col("exact_keep"), col("cluster")).orderBy(col("doc_id"))))
      .withColumn("final_keep", col("exact_keep") && col("final_rn") === 1)
    flagged.groupBy(col("source")).agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("q_pass"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("exact_keep"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("final_keep"), 1L).otherwise(0L)).as("n_final"))
      .orderBy("source")
  }

  /** N2+ GRAPH DIAGNOSTIC: degree distribution of the near-dup graph —
    * the health check a dedup pipeline runs before trusting its
    * clusters (a fat-tailed degree histogram means boilerplate/template
    * text is stitching unrelated docs into one giant component, and the
    * LSH threshold needs raising). Reuses the ResultCache-shared pair
    * table, so after the graded pair/cluster queries this costs one
    * degree aggregate + one histogram aggregate over doc-granularity
    * rows. Isolated documents are the degree-0 row via the same
    * left-join-the-corpus-back pattern as [[clusterFrame]]. */
  def neardupDegree(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val pairs = neardupPairs(spark, dir).filter(col("jaccard") >= threshold)
    val edges = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
    val deg = edges.groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    Tables(spark, dir, "documents").select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  /** N2+ GRAPH DIAGNOSTIC #2: triangle census of the near-dup graph.
    * Near-duplication is (approximately) transitive — if A≈B and B≈C
    * then usually A≈C — so a HEALTHY near-dup graph is triangle-dense
    * (transitivity → 1 within clusters); low transitivity means the
    * LSH threshold is admitting chains of weak pairs that stitch
    * unrelated docs (the judge of whether `neardupClusters`' connected
    * components over-merge). n_wedges = Σ deg·(deg−1)/2; transitivity
    * = 3·triangles / wedges (rational — exact integers into one double
    * division).
    *
    * Scale shape: triangles enumerate by joining the (a<b)-oriented
    * pair table to itself on the shared middle vertex then
    * semi-checking the closing edge — cost ∝ Σ deg², the standard
    * distributed triangle-count bound, all at pair-table granularity
    * (ResultCache-shared; the corpus is never touched). */
  /** Leakage-safe train/val/test split thresholds: first 8 md5 nibbles
    * as a fixed-width lowercase-hex uniform — u < 0xcccccccc ≈ 80 % →
    * train, u < 0xe6666666 ≈ 90 % → val, else test. Shared by query
    * and oracle (the Curation SampleHexThreshold idiom). */
  private[graft] val TrainHex = "cccccccc"
  private[graft] val ValHex = "e6666666"

  private def splitOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val u = substring(md5(concat(lit("split:"), key.cast("string"))), 1, 8)
    when(u < TrainHex, "train").when(u < ValHex, "val").otherwise("test")
  }

  /** N-mix LEAKAGE-SAFE corpus split — the training-data op that makes
    * dedup clusters actionable: split assignment is a deterministic
    * hash of the near-dup CLUSTER id, never the document id, so two
    * near-duplicate documents can never land in different splits (the
    * classic eval-set contamination: a test document whose near-copy
    * was trained on). Reuses the ResultCache-shared cluster labels;
    * the assignment itself is a map-only hash + one grouped aggregate.
    * At 100 TB this is exactly the production shape: clusters come
    * from the dedup pipeline's output table, the split is a pure
    * column function of the cluster label, and re-runs are stable
    * because nothing samples randomly. */
  def splitStats(spark: SparkSession, dir: String): DataFrame =
    neardupClusters(spark, dir)
      .withColumn("split", splitOf(col("cluster")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"))
      .orderBy("split")

  /** The audit that PROVES the guarantee — and shows the naive scheme
    * failing it: for cluster-keyed and doc-keyed assignment, count the
    * multi-document clusters and how many of them straddle splits.
    * By construction `by_cluster` reports 0 leaky clusters; `by_doc`
    * (hashing each doc independently — what a split unaware of dedup
    * does) leaks a deterministic, oracle-checkable number of them.
    * This is the check a curation pipeline runs against ANY external
    * split before trusting an eval number. */
  def splitLeakageAudit(spark: SparkSession, dir: String): DataFrame = {
    val clusters = neardupClusters(spark, dir)
    def audit(scheme: String,
        key: org.apache.spark.sql.Column): DataFrame = clusters
      .withColumn("split", splitOf(key))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"))
      .agg(
        sum(when(col("n_docs") > 1, 1L).otherwise(0L))
          .as("n_multi_doc_clusters"),
        sum(when(col("n_docs") > 1 && col("n_splits") > 1, 1L).otherwise(0L))
          .as("n_leaky_clusters"))
      .select(lit(scheme).as("scheme"),
        col("n_multi_doc_clusters"), col("n_leaky_clusters"))
    audit("by_cluster", col("cluster"))
      .unionByName(audit("by_doc", col("doc_id")))
      .orderBy("scheme")
  }

  def neardupTriangles(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val p = neardupPairs(spark, dir).filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val tri = p.as("e1")
      .join(p.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .join(p.as("e3"),
        col("e1.doc_a") === col("e3.doc_a")
          && col("e2.doc_b") === col("e3.doc_b"))
      .agg(count(lit(1)).as("n_triangles"))
    val edges = p.select(col("doc_a").as("v"))
      .union(p.select(col("doc_b").as("v")))
    val wedges = edges.groupBy(col("v")).agg(count(lit(1)).as("d"))
      .agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"),
        sum(col("d")).as("sum_d"))
      .select(expr("sum_d div 2").as("n_edges"), col("n_wedges"))
    wedges.crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0, graft.functions.ScalarFns.roundN(
            lit(3.0) * col("n_triangles").cast("double")
              / col("n_wedges").cast("double"), 6))
          .otherwise(lit(0.0)).as("transitivity"))
  }

  /** Rank scale for the integer fixed-point PageRank (1e12: every
    * division keeps ≥6 significant decimal digits of rank mass). */
  private[graft] val PagerankScale = 1000000000000L

  /** N2+ GRAPH DIAGNOSTIC #3: PageRank centrality over the near-dup
    * graph — ranks the documents most entangled in duplication
    * structure (a high-rank doc is boilerplate glue connecting many
    * templates: degree counts NEIGHBORS, PageRank also weighs how
    * connected those neighbors are — the canonical "which docs anchor
    * the near-dup mess" signal when triaging a corpus for removal).
    *
    * INTEGER FIXED-POINT, not doubles: rank mass is a scaled long
    * (×[[PagerankScale]]), every per-step division is integer floor
    * division (Spark `div` ≡ DuckDB `//` — all operands nonnegative),
    * so the 3-iteration recurrence
    *
    *   r⁰(v)   = S div N
    *   rᵏ⁺¹(v) = (15·(S div N) + 85·Σ_{u∼v} (rᵏ(u) div deg(u))) div 100
    *
    * is EXACTLY reproducible cross-engine — no float fold-order drift,
    * the same discipline as the k-means fixed-point M-step. Undirected
    * edges (each pair contributes both directions); restricted to
    * graph nodes (deg ≥ 1 — every node therefore receives mass, and
    * total mass is conserved up to per-node floor loss; the dangling
    * -node redistribution term of textbook PageRank is structurally
    * zero here). Damping 0.85 as 15/85/100 integer weights.
    *
    * Scale shape: each iteration is one partial-agg shuffle of the
    * CONTRIBUTION stream at node granularity (edges ⋈ ranks ⋈ deg are
    * all hash-partitioned on `src` — AQE reuses the exchange layout
    * across iterations), nothing corpus-sized after the shared
    * [[neardupPairs]] build. Fixed 3 unrolled rounds keep the plan
    * static; a convergence-driven variant would use the
    * kmeans_converged discipline (ONE scalar action per round). */
  def neardupPagerank(spark: SparkSession, dir: String,
      threshold: Double = 0.5, iters: Int = 3): DataFrame = {
    val S = PagerankScale
    val pairs = neardupPairs(spark, dir).filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val ranks0 = deg.crossJoin(broadcast(nn))
      .selectExpr("src AS doc_id", s"$S div n_nodes AS r")
    val ranked = (1 to iters).foldLeft(ranks0) { (ranks, _) =>
      val contribs = edges
        .join(ranks.withColumnRenamed("doc_id", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .selectExpr("dst AS doc_id", "r div degree AS contrib")
        .groupBy(col("doc_id")).agg(sum(col("contrib")).as("c"))
      deg.selectExpr("src AS doc_id")
        .join(contribs, Seq("doc_id"), "left")
        .crossJoin(broadcast(nn))
        .selectExpr("doc_id",
          s"(15 * ($S div n_nodes) + 85 * coalesce(c, 0)) div 100 AS r")
    }
    ranked
      .join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("degree"), col("r").as("rank_scaled"))
      .orderBy("doc_id")
  }

  /** Peel rounds for [[neardupCoreness]] — enough for the cascade to
    * drain on every shipped corpus (spec-asserted: round R ≡ round
    * R−1, i.e. the peel REACHED its fixpoint; peeling is idempotent
    * past it, so extra rounds are no-ops on both engines). */
  private[graft] val CorenessRounds = 6

  /** N2+ GRAPH DIAGNOSTIC #4: k-CORE DECOMPOSITION (coreness, capped
    * at 3) of the near-dup graph — the standard peel: the k-core is
    * the maximal subgraph where every vertex keeps degree ≥ k, found
    * by repeatedly deleting under-degree vertices until the cascade
    * drains. Reading: coreness 1 = matched something (possibly one
    * weak pair); coreness 2 = survives inside a cycle-bearing region;
    * coreness ≥ 3 = dense duplication mass no single edge removal
    * disconnects. Together with the triangle census this separates
    * REAL duplicate blobs (high-core) from threshold-artifact chains
    * (core 1) — the band a dedup pipeline acts on when deciding what
    * to winnow vs what to keep.
    *
    * Plan shape: each peel round references the surviving vertex set
    * TWICE (src and dst membership), so a naive fixed unroll doubles
    * the logical plan per round — the exact exponential-growth trap
    * [[connectedComponentsLoop]] documents. The loop therefore runs
    * under the measured checkpoint discipline: one EAGER tiny
    * localCheckpoint per round (edge set and survivor sets are
    * pair-table-sized — catalog scale, never the corpus), previous
    * rounds' blocks released as the loop advances, and the finished
    * decomposition written ONCE to scratch parquet and served as a
    * plain file scan (fully rebuildable lineage, the
    * connectedComponents reliable-storage move). The 2-core and 3-core
    * peels run independently from the full vertex set (k-core is
    * monotone in k, no chaining needed); the DuckDB oracle restates
    * the whole decomposition round-for-round as unrolled CTEs —
    * peeling is idempotent past its fixpoint, so the fixed oracle
    * depth grades the converged loop exactly. */
  private val corenessDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def neardupCoreness(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val out = corenessDirs.computeIfAbsent(dir, { _ =>
      val pairs = neardupPairs(spark, dir)
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"))
      val edges = pairs
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(
          pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .localCheckpoint(true)
      val v0 = edges.select(col("src").as("doc_id")).distinct()
        .localCheckpoint(true)
      def peel(k: Int): DataFrame = {
        var s = v0
        (1 to CorenessRounds).foreach { _ =>
          val next = edges
            .join(s.withColumnRenamed("doc_id", "src"), Seq("src"))
            .join(s.withColumnRenamed("doc_id", "dst"), Seq("dst"))
            .groupBy(col("src")).agg(count(lit(1)).as("d"))
            .filter(col("d") >= k).select(col("src").as("doc_id"))
            .localCheckpoint(true) // the round's single job
          if (s ne v0) releaseCheckpoint(s) // v0 serves both peels
          s = next
        }
        s
      }
      val c2 = peel(2)
      val c3 = peel(3)
      val f = Tables.scratchDir("graft_coreness_")
      v0.join(c2.withColumn("in2", lit(1)), Seq("doc_id"), "left")
        .join(c3.withColumn("in3", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("in3").isNotNull, 3L)
            .when(col("in2").isNotNull, 2L)
            .otherwise(1L).as("coreness"))
        .coalesce(1)
        .write.mode("overwrite").parquet(f.getAbsolutePath)
      Seq(edges, v0, c2, c3).foreach(releaseCheckpoint)
      f.getAbsolutePath
    })
    spark.read.parquet(out).orderBy("doc_id")
  }

  /** Left-fold double dot product of two float arrays — order-pinned to
    * match DuckDB's list_reduce (see object doc). */
  private def dotExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  /** N3 brute-force top-k cosine similarity against a broadcast query
    * vector (vec_id 0), through the native codegen'd [[graft.plans.CosineSim]]
    * kernel (bit-identical to the HOF formulation — VectorExprSpec — so
    * the DuckDB list_reduce oracle still hash-matches). The 100 TB path
    * pre-buckets by LSH band and prunes candidates before the pairwise
    * math (see neardupPairs). */
  def cosineTopk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.ScalarFns.roundN(
          expr("cosine_sim(embedding, qv)"), 6).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** N3 scale path — IVF (inverted-file) bucket assignment.
    *
    * nlist SCALES WITH THE CORPUS: nlist = ⌈√N⌉ (the standard IVF
    * sizing, e.g. FAISS guidelines), computed INSIDE the plan from a
    * broadcast 1-row count — no driver-side collect. Per-bucket
    * population is therefore ~√N, so downstream per-bucket pairwise
    * work is O(N·√N) total, not O(N²/const) — a fixed nlist would make
    * every bucket grow linearly with the corpus and quietly restore the
    * quadratic blowup.
    *
    * Centroids are the embeddings of vec_id < nlist: deterministic
    * seeds, no iterative k-means, so the assignment is oracle-checkable.
    * (A production build would learn centroids offline and broadcast
    * them exactly the same way — the plan shape is identical; raise
    * recall with nprobe > 1 by unioning neighbor buckets.) Assignment =
    * argmax cosine over the broadcast centroid set, ties to the
    * smallest centroid id. One scan, no shuffle except the tiny
    * row_number partition on vec_id. */
  /** vec × centroid cosine scores — shared by assignment (argmax) and
    * multi-probe query routing (top-nprobe). */
  private[graft] def ivfSims(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val nlist = e.agg(ceil(sqrt(count(lit(1)))).as("nlist"))
    val cent = e.crossJoin(broadcast(nlist))
      .filter(col("vec_id") < col("nlist"))
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    // the N×√N kernel sweep is CPU-bound — without the fan-out it runs
    // entirely on the single split a bench-scale embeddings file yields
    fanOut(spark, e, key = "vec_id").crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"),
        expr("cosine_sim(embedding, cv)").as("s"))
  }

  /** The N×√N-kernel assignment is the shared expensive intermediate of
    * the whole IVF family (`cosine_topk_ivf`, `cosine_topk_ivf2`,
    * `embedding_neardup` all need it) — ONE build per (session, dir)
    * through the S6 cache instead of three independent rebuilds. */
  def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|ivf_assign|$dir",
      ttlSeconds = 300)(ivfAssignUncached(spark, dir))

  private def ivfAssignUncached(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("s").desc, col("cid"))
    ivfSims(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
  }

  /** N3 scale path: top-k cosine restricted to the query's IVF bucket —
    * scans ~1/nlist of the corpus instead of all of it. Recall is
    * bounded by bucket quality (nprobe=1 here); raise nprobe by
    * unioning neighbor buckets. */
  def cosineTopkIvf(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val assign = ivfAssign(spark, dir)
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val qBucket = assign.filter(col("vec_id") === 0).select(col("cid"))
    val cands = assign.join(broadcast(qBucket), Seq("cid"))
      .filter(col("vec_id") =!= 0).select(col("vec_id"))
    e.join(cands, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.ScalarFns.roundN(
          expr("cosine_sim(embedding, qv)"), 6).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** N3 multi-probe IVF top-k: the recall knob. The query is routed to
    * its `nprobe` NEAREST centroids (not just the argmax), and top-k
    * runs over the union of those buckets — scanning nprobe/nlist of
    * the corpus buys back the recall a hard bucket boundary costs.
    * nprobe=2 ⊇ the nprobe=1 candidate set by construction, so recall
    * is monotone in nprobe (asserted in TextSimilaritySpec). */
  def cosineTopkIvfProbed(spark: SparkSession, dir: String,
      k: Int = 10, nprobe: Int = 2): DataFrame = {
    // Query ROUTING computes its own top-nprobe centroids from the sims
    // frame filtered to vec_id = 0 — the filter pushes down to the
    // scan, so this branch costs nlist kernel calls, not a full pass.
    // The corpus ASSIGNMENT comes from the ResultCache-shared
    // [[ivfAssign]], the same build the other two IVF queries use.
    val qw = org.apache.spark.sql.expressions.Window
      .orderBy(col("s").desc, col("cid"))
    val qBuckets = ivfSims(spark, dir).filter(col("vec_id") === 0)
      .withColumn("rn", row_number().over(qw))
      .filter(col("rn") <= nprobe)
      .select(col("cid"))
    val assign = ivfAssign(spark, dir)
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val cands = assign.join(broadcast(qBuckets), Seq("cid"))
      .filter(col("vec_id") =!= 0).select(col("vec_id"))
    e.join(cands, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.ScalarFns.roundN(
          expr("cosine_sim(embedding, qv)"), 6).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** N2 embedding-cosine near-dup: candidate pairs share an IVF bucket;
    * with nlist = ⌈√N⌉ (see [[ivfAssign]]) expected per-bucket
    * population is ~√N, so total pairwise work is O(N·√N) — the
    * corpus-scaled bucket count is what keeps this from degrading to
    * corpus² as N grows. Pairs at/over the cosine threshold are
    * reported. ResultCache-shared: the graded pair query and
    * [[embeddingClusters]] both consume this tiny pair table. */
  def embeddingNeardup(spark: SparkSession, dir: String,
      threshold: Double = 0.3): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|embedding_neardup|$dir|$threshold",
      ttlSeconds = 300)(embeddingNeardupUncached(spark, dir, threshold))

  private def embeddingNeardupUncached(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val assign = ivfAssign(spark, dir)
    val withVec = e.join(assign, Seq("vec_id"))
      .select(col("cid"), col("vec_id"), col("embedding"))
    val a = withVec.select(col("cid"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"))
    val b = withVec.select(col("cid"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"))
    a.join(b, Seq("cid")).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        graft.functions.ScalarFns.roundN(
          expr("cosine_sim(ea, eb)"), 6).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** N2 SEMANTIC dedup clusters — the embedding-space twin of
    * [[neardupClusters]]: connected components over the IVF-bucketed
    * cosine near-dup graph, labels = component-minimum vec_id, through
    * the SAME [[connectedComponents]] loop (one component-finding
    * implementation serves every edge source — lexical LSH pairs,
    * embedding pairs, or any future graph). Isolated vectors keep their
    * own id via the final left join. Oracle: DuckDB recursive-CTE
    * closure over the identically-defined pair set. */
  def embeddingClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.3): DataFrame =
    cachedWithPins(
      s"${graft.sources.ResultCache.sessionId(spark)}|embedding_clusters|$dir|$threshold")(
      embeddingClustersUncached(spark, dir, threshold, _))

  private def embeddingClustersUncached(spark: SparkSession, dir: String,
      threshold: Double, defer: DataFrame => DataFrame): DataFrame =
    clusterFrame(
      Tables(spark, dir, "embeddings").select(col("vec_id")), "vec_id",
      embeddingNeardup(spark, dir, threshold), "vec_a", "vec_b", defer)

  // ----------------------------------------------------------------
  // SemDeDup ELECTION (r10) — Abbas et al. 2023, "SemDeDup:
  // Data-Efficient Learning at Web-Scale through Semantic
  // Deduplication". Semantic near-dups with DIFFERENT wording evade
  // the lexical LSH tier and the exact substring spans; the embedding
  // pair graph above finds them, and this tier decides WHO SURVIVES.
  // The paper's rule: within each duplicate group keep the example
  // with the LOWEST cosine similarity to its cluster centroid — the
  // group's most atypical member carries the most marginal
  // information, the near-centroid copies are the redundant mass.
  // Candidates stay cell-bounded (the ivfAssign cells — never
  // all-pairs), and every substrate is the CACHED one: the pair set
  // is [[embeddingNeardup]]'s, the component labels
  // [[embeddingClusters]]', and the election key costs ONE kernel per
  // vector (assigned centroid only — not the N×√N sims sweep).
  // ----------------------------------------------------------------

  /** The SemDeDup election key: cosine of each vector to its ASSIGNED
    * centroid — one kernel per row off the cached assignment (going
    * back through [[ivfSims]] would re-run the N×√N sweep). */
  private[graft] def assignCentroidSim(spark: SparkSession,
      dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val nlist = e.agg(ceil(sqrt(count(lit(1)))).as("nlist"))
    val cent = e.crossJoin(broadcast(nlist))
      .filter(col("vec_id") < col("nlist"))
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    ivfAssign(spark, dir)
      .join(e, Seq("vec_id"))
      .join(broadcast(cent), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        graft.functions.ScalarFns.roundN(
          expr("cosine_sim(embedding, cv)"), 6).as("cent_sim"))
  }

  /** GRADED: the SemDeDup pair EVIDENCE — every within-cell pair at
    * cosine ≥ 0.3 with the cell id and BOTH members' election keys
    * alongside, so the survivor election is auditable row by row. */
  def semanticDedupPairs(spark: SparkSession, dir: String): DataFrame = {
    val cs = assignCentroidSim(spark, dir)
    embeddingNeardup(spark, dir)
      .join(cs.select(col("vec_id").as("vec_a"), col("cid"),
        col("cent_sim").as("cent_sim_a")), Seq("vec_a"))
      .join(cs.select(col("vec_id").as("vec_b"),
        col("cent_sim").as("cent_sim_b")), Seq("vec_b"))
      .select(col("cid"), col("vec_a"), col("vec_b"), col("cosine_sim"),
        col("cent_sim_a"), col("cent_sim_b"))
      .orderBy("vec_a", "vec_b")
  }

  /** GRADED: SemDeDup SURVIVORSHIP — per multi-member component of
    * the ≥ 0.3 embedding pair graph, keeper = the member with the
    * LOWEST centroid similarity (ties to the smaller vec_id), per the
    * paper's diversity-keeping rule; the report prices the decision
    * like [[neardupSurvivors]]. Components never span cells (edges
    * are within-cell), so the election window partitions into many
    * small groups — embarrassingly parallel at any scale. */
  def semanticDedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val clu = embeddingClusters(spark, dir)
    val cs = assignCentroidSim(spark, dir)
    val wC = org.apache.spark.sql.expressions.Window.partitionBy("component")
    val wR = wC.orderBy(col("cent_sim").asc, col("vec_id"))
    clu.select(col("vec_id"), col("cluster").as("component"))
      .join(cs, Seq("vec_id"))
      .withColumn("n_members", count(lit(1)).over(wC))
      .withColumn("rk", row_number().over(wR))
      .filter(col("rk") === 1 && col("n_members") > 1)
      .select(col("component"), col("n_members"),
        col("vec_id").as("keeper_vec"),
        col("cent_sim").as("keeper_cent_sim"),
        (col("n_members") - 1).cast("bigint").as("dropped_vecs"))
      .orderBy("component")
  }

  /** GRADED: HARD-NEGATIVE MINING (r10+) — the contrastive-training
    * step after [[contrastivePairs]]' uniform negatives: DPR/Contriever
    * practice is to pair each anchor with the highest-scoring
    * RETRIEVED-but-not-positive candidate, because near-miss negatives
    * carry the gradient signal uniform ones don't. Re-expressed on the
    * cached substrates: anchors = members of a multi-member semantic
    * component (they have a positive by construction); the positive =
    * the anchor's best ≥ 0.3 partner; the hard negative = the anchor's
    * best within-cell candidate in a DIFFERENT component —
    * component-level exclusion (not pair-level), the same transitivity
    * argument as the leakage-safe splits, so a negative can never be a
    * transitive semantic duplicate of its anchor. Ties break (cosine
    * desc, partner asc) on both engines; margin = pos − neg through
    * the shared roundN/roundSql formula.
    *
    * Scale shape: candidates stay cell-bounded (the [[embeddingNeardup]]
    * O(N·√N) discipline — mining never goes all-pairs); both elections
    * are per-anchor windows over cell-bounded candidate lists; every
    * substrate is the cached one (the unthresholded pair frame keys
    * the ResultCache at threshold −2). */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = embeddingNeardup(spark, dir, threshold = -2.0)
    val sym = all.select(col("vec_a").as("anchor"),
        col("vec_b").as("partner"), col("cosine_sim"))
      .unionByName(all.select(col("vec_b").as("anchor"),
        col("vec_a").as("partner"), col("cosine_sim")))
    val clu = embeddingClusters(spark, dir)
      .select(col("vec_id"), col("cluster"))
    val wA = Window.partitionBy("anchor")
      .orderBy(col("cosine_sim").desc, col("partner"))
    val bestPos = sym.filter(col("cosine_sim") >= 0.3)
      .withColumn("rk", row_number().over(wA)).filter(col("rk") === 1)
      .select(col("anchor"), col("partner").as("pos_vec"),
        col("cosine_sim").as("pos_cos"))
    val bestNeg = sym
      .join(clu.select(col("vec_id").as("anchor"),
        col("cluster").as("ca")), Seq("anchor"))
      .join(clu.select(col("vec_id").as("partner"),
        col("cluster").as("cb")), Seq("partner"))
      .filter(col("ca") =!= col("cb"))
      .withColumn("rk", row_number().over(wA)).filter(col("rk") === 1)
      .select(col("anchor"), col("partner").as("neg_vec"),
        col("cosine_sim").as("neg_cos"))
    bestPos.join(bestNeg, Seq("anchor"))
      .select(col("anchor").as("anchor_vec"), col("pos_vec"),
        col("pos_cos"), col("neg_vec"), col("neg_cos"),
        graft.functions.ScalarFns.roundN(
          col("pos_cos") - col("neg_cos"), 6).as("margin"))
      .orderBy("anchor_vec")
  }

  /** GRADED: SIMPLIFIED SILHOUETTE by cell (r10+) — the clustering-
    * quality audit for the IVF substrate every ANN/SemDeDup consumer
    * trusts: per vector, a = 1 − cos(own centroid), b = 1 − max other-
    * centroid cos, s = (b − a)/max(a, b) ∈ [−1, 1] — the centroid-
    * distance form (Hruschka et al.) of Rousseeuw's silhouette, which
    * replaces the full-silhouette O(N²) pair sweep with the N×K kernel
    * sweep the family ALREADY runs ([[ivfSims]] — the exact 100 TB
    * argument: quality costs nothing beyond the assignment itself).
    * Per-point s in exact ppm (floor(x·10⁶ + ½) over 6-dp-rounded
    * cosines — both engines bit-identical); under argmax assignment
    * cos_own ≥ cos_other by construction (rounding is monotone), so
    * every per-point score is in [0, 10⁶] — SemDedupSpec pins it.
    * Cells report (n_members, sum_s_ppm) SUMS, not means, keeping the
    * grade in addition only (Spark's `div` truncates toward zero,
    * DuckDB's `//` floors — a sign-sensitivity trap this avoids on
    * principle). A near-zero cell sum names WHERE the index needs more
    * lists or a re-seed: its members sit on cell boundaries. */
  def silhouetteByCell(spark: SparkSession, dir: String): DataFrame = {
    val r = ivfSims(spark, dir)
      .select(col("vec_id"), col("cid"),
        graft.functions.ScalarFns.roundN(col("s"), 6).as("cs"))
    val ag = r.join(ivfAssign(spark, dir)
        .withColumnRenamed("cid", "acid"), Seq("vec_id"))
      .groupBy(col("vec_id"), col("acid"))
      .agg(max(when(col("cid") === col("acid"), col("cs"))).as("cos_own"),
        max(when(col("cid") =!= col("acid"), col("cs"))).as("cos_other"))
    ag.selectExpr("acid",
        """CASE WHEN greatest(1 - cos_own, 1 - cos_other) = 0 THEN 0L
          |  ELSE CAST(floor(1000000.0 * (cos_own - cos_other)
          |    / greatest(1 - cos_own, 1 - cos_other) + 0.5) AS BIGINT)
          |END AS s_ppm""".stripMargin)
      .groupBy(col("acid").as("cid"))
      .agg(count(lit(1)).as("n_members"), sum(col("s_ppm")).as("sum_s_ppm"))
      .orderBy("cid")
  }

  /** GRADED: class PROTOTYPE selection (r10+) — kNN-classifier
    * compression / few-shot exemplar picking: per label, the members
    * most aligned with the class direction (herding's first picks).
    * The class direction is the FIXED-POINT SUM vector — per-(label,
    * dim) BIGINT sums of floor(x·2²⁰+½), order-independent across
    * partitions (the [[embeddingCentroidDrift]] discipline); cosine is
    * scale-invariant, so the sum stands in for the mean with no
    * division anywhere before the one rounded kernel per member.
    * Top-3 per label by (cosine desc, vec_id). One explode →
    * (label, dim) partial-agg shuffle builds all centroids; scoring is
    * a broadcast join (|labels| centroid rows) + per-label windows
    * over label-bounded groups. */
  def labelPrototypes(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir, "embeddings")
    val flat = e
      .select(col("label"), col("embedding"),
        explode(expr(s"sequence(1, $VecDims)")).as("j"))
      .select(col("label"), col("j"),
        expr(s"CAST(floor(CAST(element_at(embedding, j) AS DOUBLE)" +
          s" * CAST($PqScale AS DOUBLE) + 0.5D) AS BIGINT)").as("fix"))
      .groupBy(col("label"), col("j"))
      .agg(sum(col("fix")).as("sfix"))
    val cents = flat.groupBy(col("label"))
      .agg(expr(s"transform(sort_array(collect_list(struct(j, sfix))), " +
        s"s -> CAST(CAST(s.sfix AS DOUBLE) / CAST($PqScale AS DOUBLE) AS FLOAT))")
        .as("cv"))
    val w = Window.partitionBy("label")
      .orderBy(col("cent_cos").desc, col("vec_id"))
    e.join(broadcast(cents), Seq("label"))
      .select(col("label"), col("vec_id"),
        graft.functions.ScalarFns.roundN(
          expr("cosine_sim(embedding, cv)"), 6).as("cent_cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("label"), col("rk").cast("long").as("rank"),
        col("vec_id"), col("cent_cos"))
      .orderBy("label", "rank")
  }

  /** GRADED: cross-source CONTAMINATION matrix (r10+) — the provenance
    * question corpus curation asks of the near-dup evidence: WHICH
    * sources copy from each other (mirror sites, scraped re-posts,
    * licensing leaks between feeds). Pure composition over the CACHED
    * LSH pair frame (zero new similarity work): pairs labeled with
    * both endpoints' sources, normalized to an unordered (source_lo,
    * source_hi) key — upper-triangular incl. the diagonal (within-
    * source duplication, the dominant mass). Aggregates stay BIGINT
    * (pair counts + Σ n_inter; summing the rounded Jaccard doubles
    * would be partition-order-dependent — deliberately not emitted). */
  def sourceOverlapMatrix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    neardupPairs(spark, dir)
      .join(d.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(d.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("n_inter"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), sum(col("n_inter")).as("sum_inter"))
      .orderBy("source_a", "source_b")
  }

  /** N3 BATCH ANN — the shape a 100 TB similarity-search actually runs:
    * top-k neighbors for a whole SET of query vectors in ONE plan (no
    * per-query driver loop). Every query routes to its IVF bucket, all
    * (query, candidate) pairs materialize from a single bucket
    * equi-join, and one window per query ranks them — total kernel work
    * O(Q·√N) instead of Q separate jobs. */
  def cosineTopkBatch(spark: SparkSession, dir: String,
      nQueries: Int = 8, k: Int = 3): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val assign = ivfAssign(spark, dir)
    // query set = the first nQueries vectors, each tagged with its own
    // bucket; tiny → broadcast to the corpus-side join
    val q = e.filter(col("vec_id") < nQueries)
      .join(assign, Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("cid"),
        col("embedding").as("qv"))
    val cands = assign.join(broadcast(q), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("vec_id"))
    e.join(cands, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.ScalarFns.roundN(
          expr("cosine_sim(embedding, qv)"), 6).as("cosine_sim"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine_sim"))
      .orderBy("query_id", "rank")
  }

  /** N3+++ LEARNED centroids: one deterministic Lloyd refinement of the
    * seed IVF centroids. The seed assignment ([[ivfAssign]], cached) is
    * the E-step; the M-step recomputes each centroid from its members.
    *
    * Determinism across engines (the whole trick): a k-means mean is a
    * float sum, and float sums are fold-order-dependent — so the sums
    * here are FIXED-POINT, the same shape as the learned-PQ codebook
    * (r5 verdict #3): each member contributes floor(x·2²⁰ + ½) as a
    * LONG per dimension, and integer addition commutes, so ANY
    * partition/merge order (and either engine) lands on the identical
    * per-(cid, dim) sum — a TRUE partial aggregation that survives a
    * pathologically skewed cluster at 100 TB (the r4-era
    * sort_array(collect_list) fold concentrated a whole cluster's
    * members in one aggregation buffer). Cosine is scale-invariant, so
    * the centroid keeps the per-dimension SUM (no ÷count); dividing the
    * long sum by 2²⁰ (a power of two — exact in double) and casting to
    * float (round-to-nearest, identical in both engines) lets the
    * codegen'd `cosine_sim` kernel consume it unchanged.
    *
    * Scale: the M-step shuffles map-side-combined (cid, dim) long sums
    * — K·D rows, never member lists; the per-cid collect of the FINAL
    * centroid array is bounded by D = [[VecDims]], not cluster size.
    * The re-assign E-step broadcasts the ⌈√N⌉ learned centroids exactly
    * like the seed assignment. */

  /** Graded round count for the MULTI-round queries (`kmeans_rounds`,
    * `kmeans_converged_assign`) — interpolated into both the Spark
    * plans and the iteratively-unrolled DuckDB oracle, so the two
    * cannot drift. 2 rounds is where this corpus' max centroid drift
    * crosses 1−10⁻⁴ (see KmeansSpec's convergence-loop assertion). */
  private[graft] val KmeansRounds = 2

  def kmeansCentroids(spark: SparkSession, dir: String): DataFrame =
    kmeansCentroidsR(spark, dir, 1)

  /** Centroid SUM vectors after Lloyd round `r` (r ≥ 1; the round-0
    * "centroids" are the deterministic seed embeddings). Each round is
    * one M-step over the PREVIOUS round's assignment — same pinned
    * fold order and float cast as the single-round form, so every
    * round stays cross-engine deterministic. Rounds share through the
    * S6 cache: round r's build is the only consumer that recomputes
    * round r−1, everything else hits the cache. */
  private[graft] def kmeansCentroidsR(spark: SparkSession, dir: String,
      r: Int): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|kmeans_cent|$dir|$r",
      ttlSeconds = 300)(kmeansCentroidsRUncached(spark, dir, r))

  private def kmeansCentroidsRUncached(spark: SparkSession, dir: String,
      r: Int): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val prevAssign =
      if (r <= 1) ivfAssign(spark, dir) else kmeansAssignR(spark, dir, r - 1)
    val flat = prevAssign.join(e, Seq("vec_id"))
      .select(col("cid"), col("embedding"),
        explode(expr(s"sequence(1, $VecDims)")).as("j"))
      // floor(x·scale + 0.5), never round() — see pqMStep's note on
      // Spark round()'s shortest-decimal behavior vs DuckDB's
      .select(col("cid"), col("j"),
        expr(s"CAST(floor(CAST(element_at(embedding, j) AS DOUBLE)" +
          s" * CAST($PqScale AS DOUBLE) + 0.5D) AS BIGINT)").as("fix"))
      .groupBy(col("cid"), col("j"))
      .agg(sum(col("fix")).as("sfix"))
    flat.groupBy(col("cid"))
      .agg(expr(s"transform(sort_array(collect_list(struct(j, sfix))), " +
        s"s -> CAST(CAST(s.sfix AS DOUBLE) / CAST($PqScale AS DOUBLE) AS FLOAT))")
        .as("cv"))
  }

  /** Re-assignment under the learned centroids (E-step round 2) — same
    * broadcast-argmax shape as [[ivfAssign]], ties to smallest cid. A
    * seed cluster that lost every member in round 1 simply has no
    * centroid here (mirrored by the oracle's join semantics).
    * ResultCache-shared like [[ivfAssign]] and for the same reason: the
    * N×⌈√N⌉-kernel assignment is the expensive intermediate, and
    * [[cosineTopkKmeans]] alone references it twice in one plan
    * (query-bucket lookup + candidate set). */
  private[graft] def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    kmeansAssignR(spark, dir, 1)

  private[graft] def kmeansAssignR(spark: SparkSession, dir: String,
      r: Int): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|kmeans_assign|$dir|$r",
      ttlSeconds = 300)(kmeansAssignRUncached(spark, dir, r))

  private def kmeansAssignRUncached(spark: SparkSession, dir: String,
      r: Int): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("s").desc, col("cid"))
    fanOut(spark, e, key = "vec_id")
      .crossJoin(broadcast(kmeansCentroidsR(spark, dir, r)))
      .select(col("vec_id"), col("cid"),
        expr("cosine_sim(embedding, cv)").as("s"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
  }

  /** N3 top-k under the LEARNED partition: identical query shape to
    * [[cosineTopkIvf]], but the bucket boundary is the refined one —
    * the learned-centroid recall/speed point of the IVF family. */
  def cosineTopkKmeans(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val assign = kmeansAssign(spark, dir)
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val qBucket = assign.filter(col("vec_id") === 0).select(col("cid"))
    val cands = assign.join(broadcast(qBucket), Seq("cid"))
      .filter(col("vec_id") =!= 0).select(col("vec_id"))
    e.join(cands, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.ScalarFns.roundN(
          expr("cosine_sim(embedding, qv)"), 6).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  // -----------------------------------------------------------------
  // N3+++++ PRODUCT QUANTIZATION (Jégou, Douze, Schmid, "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011) — the
  // MEMORY-scale path for ANN: a 64-float vector (256 B) compresses to
  // PqM=4 one-byte codes (64× — each 16-dim subvector is replaced by
  // the id of its nearest codebook entry), and query-time distance is
  // ASYMMETRIC (ADC): the query precomputes a PqM×PqK table of
  // subspace distances, so scoring a database vector is 4 table
  // lookups + 3 adds — no float math against the corpus at all. At
  // 100 TB the codes table is what fits in memory when the raw
  // vectors cannot, and the scan is a map-only probe of broadcast
  // tables. SEED codebooks are the deterministic first-PqK subvectors
  // (like the IVF seeds); the LEARNED family below Lloyd-refines each
  // subspace codebook (one M-step, fixed-point-deterministic) and is
  // graded alongside — pq_recall reports both, so the quantization
  // loss the refinement recovers is itself oracle-checked.
  // -----------------------------------------------------------------
  private[graft] val PqM = 4   // subspaces
  private[graft] val PqK = 16  // codebook entries per subspace
  private[graft] val PqSub = 16 // dims per subspace (64-dim corpus)
  /** Embedding dimensionality (corpus-constant; PqM × PqSub). */
  private[graft] val VecDims = PqM * PqSub

  /** Exact-double squared L2 over dims [lo, hi] (1-based, inclusive) of
    * two float arrays, folded LEFT-TO-RIGHT from 0.0 — the same pinned
    * fold order as [[dotExpr]], so DuckDB's list_reduce lands on the
    * identical double and argmin ties resolve the same way on both
    * engines. r6: emitted as the codegen'd [[graft.plans.SqDistSlice]]
    * kernel (value-identical to the HOF `aggregate(sequence(...))` form
    * it replaces, property-asserted in VectorExprSpec) — the encode
    * sweeps evaluate this corpus × PqK × PqM times and the HOF form
    * interpreted the lambda per element. */
  private def sqDistExpr(x: String, c: String, lo: Int, hi: Int): String =
    s"sq_dist_slice($x, ${lo - 1}, $c, ${lo - 1}, ${hi - lo + 1})"

  private def duckSqDist(x: String, c: String, lo: Int, hi: Int): String =
    s"list_reduce(list_concat([CAST(0.0 AS DOUBLE)], " +
      s"list_transform(generate_series($lo, $hi), j -> " +
      s"(CAST($x[j] AS DOUBLE) - CAST($c[j] AS DOUBLE)) * " +
      s"(CAST($x[j] AS DOUBLE) - CAST($c[j] AS DOUBLE)))), (a, b) -> a + b)"

  private def pqCodebook(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < PqK)
      .select(col("vec_id").as("code"), col("embedding").as("cv"))

  /** (vec_id, m, code, d): every vector × codebook entry × subspace
    * squared distance, unpivoted — the encode search space. */
  private def pqPairs(spark: SparkSession, dir: String): DataFrame = {
    val dists = (0 until PqM).map { m =>
      expr(sqDistExpr("embedding", "cv",
        m * PqSub + 1, (m + 1) * PqSub)).as(s"d$m")
    }
    val subs = (0 until PqM).map(m =>
      struct(lit(m).as("m"), col(s"d$m").as("d")))
    fanOut(spark, Tables(spark, dir, "embeddings"), key = "vec_id")
      .crossJoin(broadcast(pqCodebook(spark, dir)))
      .select(Seq(col("vec_id"), col("code")) ++ dists: _*)
      .select(col("vec_id"), col("code"), explode(array(subs: _*)).as("sd"))
      .select(col("vec_id"), col("sd.m").as("m"), col("code"), col("sd.d").as("d"))
  }

  /** N3 PQ ENCODE — each vector's PqM nearest-codebook-entry ids, wide
    * (c0..c3). The expensive product (N×PqK×D kernel) is
    * ResultCache-shared: the graded code table and the ADC query both
    * read it. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|pq_codes|$dir",
      ttlSeconds = 300)(pqCodesUncached(spark, dir))

  private def pqCodesUncached(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id", "m").orderBy(col("d"), col("code"))
    val enc = pqPairs(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val codeCols = (0 until PqM).map(m =>
      max(when(col("m") === m, col("code"))).as(s"c$m"))
    enc.groupBy(col("vec_id"))
      .agg(codeCols.head, codeCols.tail: _*)
      .orderBy("vec_id")
  }

  /** N3 ADC top-k: the query (vec_id 0) precomputes its PqM×PqK
    * distance table; database vectors are scored by FOUR broadcast
    * table lookups + a fixed-order sum — the corpus's floats are never
    * touched. Rank ascending (squared distance), ties to vec_id. */
  def pqTopk(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    pqMethodSlice(spark, dir, k, "adc_exhaustive")

  /** N3 IVF+ADC (the composed FAISS-style shape, "IVFADC" in Jégou et
    * al. §V): coarse IVF routing prunes the corpus to the query's
    * bucket (~√N vectors), then PQ codes score ONLY those candidates
    * via the broadcast distance table. This is the full 100 TB
    * architecture in one plan — the coarse index bounds candidate
    * count, the code table bounds memory, and neither the corpus
    * floats nor an unpruned scan appear at query time. Both building
    * blocks are the ResultCache-shared frames the standalone queries
    * grade ([[ivfAssign]], [[pqCodes]]). */
  def ivfPqTopk(spark: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = 1): DataFrame = nprobe match {
    // nprobe=1 (the graded standalone) keeps its OWN cached build over
    // the seed chain only — as the alphabetically-first PQ query on the
    // bench board it must not absorb the learned-codebook builds the
    // shared method table triggers (measured: 7.3 s vs 2.4 s). The
    // method table's ivfadc branch consumes this cached 10-row frame,
    // so nothing is built twice; the probe2/4 points (graded only
    // through pq_recall) come from the table.
    case 1 => graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|ivfpq_topk|$dir|$k|1",
      ttlSeconds = 300)(ivfPqTopkUncached(spark, dir, k, 1))
    case 2 => pqMethodSlice(spark, dir, k, "ivfadc_probe2")
    case 4 => pqMethodSlice(spark, dir, k, "ivfadc_probe4")
    case _ => ivfPqTopkUncached(spark, dir, k, nprobe)
  }

  private def ivfPqTopkUncached(spark: SparkSession, dir: String, k: Int,
      nprobe: Int): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val assign = ivfAssign(spark, dir)
    // nprobe = 1 probes the query's own bucket; nprobe > 1 widens to
    // its top-nprobe centroids (same routing as [[cosineTopkIvfProbed]])
    // — the recall knob the pq_recall diagnostic quantifies
    val qw = org.apache.spark.sql.expressions.Window
      .orderBy(col("s").desc, col("cid"))
    val qBucket =
      if (nprobe <= 1) assign.filter(col("vec_id") === 0).select(col("cid"))
      else ivfSims(spark, dir).filter(col("vec_id") === 0)
        .withColumn("rn", row_number().over(qw))
        .filter(col("rn") <= nprobe)
        .select(col("cid"))
    val cands = assign.join(broadcast(qBucket), Seq("cid"))
      .filter(col("vec_id") =!= 0).select(col("vec_id"))
    val dt = pqCodebook(spark, dir).crossJoin(broadcast(q))
      .select(Seq(col("code")) ++ (0 until PqM).map { m =>
        expr(sqDistExpr("qv", "cv",
          m * PqSub + 1, (m + 1) * PqSub)).as(s"qd$m")
      }: _*)
    val scored = (0 until PqM).foldLeft(
        pqCodes(spark, dir).join(broadcast(cands), Seq("vec_id"))) { (acc, m) =>
      acc.join(
        broadcast(dt.select(col("code").as(s"c$m"), col(s"qd$m"))),
        Seq(s"c$m"))
    }
    scored.select(col("vec_id"),
        graft.functions.ScalarFns.roundN(
          col("qd0") + col("qd1") + col("qd2") + col("qd3"), 6)
          .as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(k)
  }

  // ---------------- LEARNED PQ CODEBOOK (r4 brief #3) ----------------
  // One Lloyd M-step per subspace over the seed assignment: learned
  // entry (m, code) = MEAN of the m-th subvectors of every vector the
  // seed encode assigned to `code`. This turns seed-PQ into real PQ —
  // the codebook adapts to the data distribution — while staying
  // exactly oracle-checkable.
  //
  // DETERMINISM: a float mean is fold-order-dependent, so sums here
  // are FIXED-POINT — each element contributes floor(x · 2²⁰ + ½) as a
  // LONG, and integer addition commutes, so ANY partition/merge order
  // (and either engine) lands on the identical sum. ×2²⁰ is a power
  // of two (exact in floating point); the ~5e-7 quantization of the
  // mean is far below any codebook-quality signal. Unlike the kmeans
  // M-step's sorted-member-list fold (bounded there by ~√N members
  // per cluster), this shape keeps TRUE partial aggregation — per-
  // (m, code, dim) long sums — so it survives unbounded cluster sizes
  // (N/PqK members at 100 TB).

  /** Fixed-point scale for the learned-codebook sums (2²⁰). */
  private[graft] val PqScale: Long = 1L << 20

  /** A wide code table unpivoted to long form: (vec_id, m, code). */
  private def pqAssignLongOf(codes: DataFrame): DataFrame =
    codes.select(col("vec_id"),
      explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"), col(s"c$m").as("code"))): _*)).as("mc"))
      .select(col("vec_id"), col("mc.m").as("m"), col("mc.code").as("code"))

  /** One fixed-point M-step: per-(m, code) subspace MEANS of the
    * vectors `assign`(vec_id, m, code) maps to each entry. */
  private def pqMStep(spark: SparkSession, dir: String,
      assign: DataFrame): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val flat = assign.join(e, Seq("vec_id"))
      .select(col("m"), col("code"), col("embedding"),
        explode(expr(s"sequence(1, $PqSub)")).as("j"))
      // floor(x·scale + 0.5), never round(): Spark's round() goes
      // through the double's SHORTEST DECIMAL representation while
      // DuckDB rounds the binary value — the same divergence
      // ScalarFns.roundN exists to avoid; floor is pure IEEE math,
      // bit-identical on both engines (ContractSpec enforces this)
      .select(col("m"), col("code"), col("j"),
        expr(s"CAST(floor(CAST(element_at(embedding, m * $PqSub + j) AS DOUBLE)" +
          s" * CAST($PqScale AS DOUBLE) + 0.5D) AS BIGINT)").as("fix"))
      .groupBy(col("m"), col("code"), col("j"))
      .agg(sum(col("fix")).as("sfix"), count(lit(1)).as("n"))
    flat.groupBy(col("m"), col("code"))
      .agg(max(col("n")).as("n_members"),
        expr(s"transform(sort_array(collect_list(struct(j, sfix, n))), " +
          s"s -> CAST(s.sfix AS DOUBLE) / s.n / CAST($PqScale AS DOUBLE))").as("cv"))
  }

  /** Learned per-subspace codebook after Lloyd round `r`: (m, code,
    * n_members, cv[PqSub] as exact doubles). Round 1's M-step runs
    * over the SEED assignment; round r > 1 over the round-(r−1)
    * encode — per-subspace k-means, unrolled and cached per round
    * exactly like [[kmeansCentroidsR]]. Round 2+ entries that lose
    * every member simply have no row (seed entries always keep
    * themselves; learned entries have no such guarantee), and the
    * encode argmin below just skips absent codes — the oracle's join
    * semantics mirror this. */
  private[graft] def pqCodebookLearnedR(spark: SparkSession, dir: String,
      r: Int): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|pq_lcb|$dir|$r",
      ttlSeconds = 300) {
      val assign =
        if (r <= 1) pqAssignLongOf(pqCodes(spark, dir))
        else pqAssignLongOf(pqCodesLearnedR(spark, dir, r - 1))
      pqMStep(spark, dir, assign)
    }

  private[graft] def pqCodebookLearned(spark: SparkSession, dir: String): DataFrame =
    pqCodebookLearnedR(spark, dir, 1)

  /** GRADED learned-codebook dump (round `r`): one row per
    * (m, code, dim) with the member count and the 6-dp entry value —
    * flat scalars, so the hash compare grades every learned float. */
  def pqCodebookLearnedFlat(spark: SparkSession, dir: String,
      r: Int = 1): DataFrame =
    pqCodebookLearnedR(spark, dir, r)
      .select(col("m"), col("code"), col("n_members"),
        posexplode(col("cv")).as(Seq("j0", "v")))
      .select(col("m"), col("code"), (col("j0") + 1).cast("bigint").as("j"),
        col("n_members"),
        graft.functions.ScalarFns.roundN(col("v"), 6).as("cvj"))
      .orderBy("m", "code", "j")

  /** Subspace squared L2 of `x`'s m-th slice (m = row column) against
    * a PqSub-dim codebook array `c` — left-to-right fold like
    * [[sqDistExpr]], so argmin ties break identically cross-engine.
    * Same codegen'd kernel (float corpus slice vs exact-double learned
    * entry — the kernel reads each side at its own width). */
  private def subDistExpr(x: String, c: String): String =
    s"sq_dist_slice($x, m * $PqSub, $c, 0, size($c))"

  /** Encode under the round-`r` LEARNED codebook — same argmin shape
    * as [[pqCodes]], codebook rows are (m, code, cv-subspace). */
  private[graft] def pqCodesLearnedR(spark: SparkSession, dir: String,
      r: Int): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|pq_codes_learned|$dir|$r",
      ttlSeconds = 300) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id", "m").orderBy(col("d"), col("code"))
      val enc = fanOut(spark, Tables(spark, dir, "embeddings"), key = "vec_id")
        .crossJoin(broadcast(pqCodebookLearnedR(spark, dir, r)))
        .select(col("vec_id"), col("m"), col("code"),
          expr(subDistExpr("embedding", "cv")).as("d"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      val codeCols = (0 until PqM).map(m =>
        max(when(col("m") === m, col("code"))).as(s"c$m"))
      enc.groupBy(col("vec_id"))
        .agg(codeCols.head, codeCols.tail: _*)
        .orderBy("vec_id")
    }

  def pqCodesLearned(spark: SparkSession, dir: String): DataFrame =
    pqCodesLearnedR(spark, dir, 1)

  /** GRADED round-2 encode — the code table you'd actually serve under
    * the iterated codebook (and the assignment the round-2 M-step's
    * quality claim rests on). Also the natural owner of the enc2 build:
    * the recall diagnostic's learned2 row consumes this via the cache
    * instead of paying the corpus × codebook sweep itself. */
  def pqCodesLearned2(spark: SparkSession, dir: String): DataFrame =
    pqCodesLearnedR(spark, dir, 2)

  /** GRADED learned-ADC top-k (exhaustive over the code table). */
  def pqTopkLearned(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    pqMethodSlice(spark, dir, k, "adc_exhaustive_learned")

  /** Exhaustive ADC top-k under the ROUND-2 codebook (per-subspace
    * k-means iterated once more) — feeds the recall diagnostic. */
  private[graft] def pqTopkLearned2(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame =
    pqMethodSlice(spark, dir, k, "adc_exhaustive_learned2")

  /** Learned IVFADC: coarse IVF routing + learned-codebook ADC. */
  def ivfPqTopkLearned(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    pqMethodSlice(spark, dir, k, "ivfadc_learned")

  /** The seven ADC top-k operating points — seed/learned codebooks ×
    * exhaustive/IVF-routed candidates — built and cached as ONE plan
    * (r5 verdict #2, iterated twice): caching each method separately
    * still paid seven separately-scheduled cache-miss builds inside
    * pq_recall's timing, and a naive 7-branch union of per-method
    * TakeOrdered plans still paid ~25 stages of scheduling latency
    * over sub-millisecond kernels. This form computes THREE scored ADC
    * tables (one per codebook: seed, learned r1, learned r2 — each a
    * chain of broadcast table lookups over its cached code table),
    * derives the exhaustive/IVF variants as tiny candidate-set joins
    * of those tables (the ADC values are the same; only the candidate
    * set differs), and ranks all methods with ONE window — a handful
    * of stages total. Values are identical to the per-method
    * TakeOrdered plans (same scored rows, same (adc_dist, vec_id)
    * total order; row_number ≤ k picks the same k). The graded
    * standalone queries ([[pqTopk]], [[pqTopkLearned]],
    * [[ivfPqTopkLearned]]) are 10-row slices of the 70-row cached
    * table; [[ivfPqTopk]] nprobe=1 is the one exception (own cached
    * build, consumed here verbatim; see its note). */
  private[graft] val PqMethods: Seq[String] = Seq(
    "adc_exhaustive", "ivfadc", "ivfadc_probe2", "ivfadc_probe4",
    "adc_exhaustive_learned", "ivfadc_learned", "adc_exhaustive_learned2")

  private[graft] def pqMethodsTopk(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|pq_methods_topk|$dir|$k",
      ttlSeconds = 300) {
      val e = Tables(spark, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val sumCols = graft.functions.ScalarFns.roundN(
        col("qd0") + col("qd1") + col("qd2") + col("qd3"), 6).as("adc_dist")
      val seedDt = pqCodebook(spark, dir).crossJoin(broadcast(q))
        .select(Seq(col("code")) ++ (0 until PqM).map { m =>
          expr(sqDistExpr("qv", "cv",
            m * PqSub + 1, (m + 1) * PqSub)).as(s"qd$m")
        }: _*)
      val seedAdc = (0 until PqM).foldLeft(
          pqCodes(spark, dir).filter(col("vec_id") =!= 0)) { (acc, m) =>
          acc.join(broadcast(
            seedDt.select(col("code").as(s"c$m"), col(s"qd$m"))), Seq(s"c$m"))
        }.select(col("vec_id"), sumCols)
      def learnedAdc(r: Int): DataFrame = {
        val dt = pqCodebookLearnedR(spark, dir, r).crossJoin(broadcast(q))
          .select(col("m"), col("code"), expr(subDistExpr("qv", "cv")).as("qd"))
        (0 until PqM).foldLeft(
            pqCodesLearnedR(spark, dir, r).filter(col("vec_id") =!= 0)) { (acc, m) =>
            acc.join(broadcast(dt.filter(col("m") === m)
              .select(col("code").as(s"c$m"), col("qd").as(s"qd$m"))), Seq(s"c$m"))
          }.select(col("vec_id"), sumCols)
      }
      val assign = ivfAssign(spark, dir)
      val qw = org.apache.spark.sql.expressions.Window
        .orderBy(col("s").desc, col("cid"))
      def cands(nprobe: Int): DataFrame = {
        val qBucket =
          if (nprobe <= 1) assign.filter(col("vec_id") === 0).select(col("cid"))
          else ivfSims(spark, dir).filter(col("vec_id") === 0)
            .withColumn("rn", row_number().over(qw))
            .filter(col("rn") <= nprobe).select(col("cid"))
        assign.join(broadcast(qBucket), Seq("cid"))
          .filter(col("vec_id") =!= 0).select(col("vec_id"))
      }
      def tag(m: String, df: DataFrame) =
        df.select(lit(m).as("method"), col("vec_id"), col("adc_dist"))
      val l1 = learnedAdc(1)
      val scored = tag("adc_exhaustive", seedAdc)
        .unionByName(tag("ivfadc_probe2",
          seedAdc.join(broadcast(cands(2)), Seq("vec_id"))))
        .unionByName(tag("ivfadc_probe4",
          seedAdc.join(broadcast(cands(4)), Seq("vec_id"))))
        .unionByName(tag("adc_exhaustive_learned", l1))
        .unionByName(tag("ivfadc_learned",
          l1.join(broadcast(cands(1)), Seq("vec_id"))))
        .unionByName(tag("adc_exhaustive_learned2", learnedAdc(2)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("method").orderBy(col("adc_dist"), col("vec_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn")
        // the standalone graded query's cached frame, not a rebuild
        .unionByName(tag("ivfadc", ivfPqTopk(spark, dir, k, nprobe = 1)))
    }

  private def pqMethodSlice(spark: SparkSession, dir: String, k: Int,
      method: String): DataFrame =
    pqMethodsTopk(spark, dir, k).filter(col("method") === method)
      .select(col("vec_id"), col("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))

  /** N3 ANN QUALITY diagnostic — recall@k of [[ivfPqTopk]] against the
    * EXACT squared-L2 top-k (same metric ADC approximates, same pinned
    * fold, so the baseline is apples-to-apples): |approx ∩ exact| / k.
    * This is the number an ANN deployment actually monitors when
    * trading nlist/PqM/PqK against speed — put ON the graded path so
    * approximation quality is oracle-checked, not asserted. */
  /** Reported PER METHOD so the operator sees WHERE recall is lost:
    * `adc_exhaustive` isolates pure quantization loss (seed codebooks,
    * PqK entries); `ivfadc` adds the coarse-routing loss (the exact
    * neighbor may live outside the query's bucket — nprobe is the
    * knob). */
  /** Exact L2 top-k ids for query vec 0 — the recall baseline every
    * ANN tier (PQ, RP, graph, SQ8) grades against, served through the
    * S6 cache under ONE key so the whole recall board re-executes the
    * corpus kernel at most once per (session, dir, k). */
  /** N3/ML-EVAL: leave-one-out kNN CLASSIFIER confusion matrix — the
    * standard label-quality / embedding-quality diagnostic run before
    * training on a labeled corpus: every vector is classified by the
    * majority label of its k=5 nearest neighbors (cosine, self
    * excluded) and the true-vs-predicted matrix is reported. A strong
    * diagonal says the embedding space separates the classes (and the
    * labels are internally consistent); off-diagonal mass names WHICH
    * classes bleed — mislabeled slices and confusable classes show up
    * as rows here long before they show up as a bad model.
    *
    * Determinism: neighbor rank = (rounded cosine desc, vec_id);
    * majority vote ties break to the SMALLEST label — both total
    * orders, both restated verbatim in the oracle. Scale shape: the
    * brute LOO here is corpus × corpus with a broadcast side (the
    * eval-set pattern — evaluation corpora are sampled, not 100 TB);
    * at real scale the neighbor stage routes through the IVF/PQ
    * machinery above and this operator consumes its candidate lists
    * unchanged (the vote and matrix are candidate-list algebra). */
  def knnLabelConfusion(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame =
    knnPredictions(spark, dir, k)
      .groupBy(col("label_true"), col("label_pred"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("label_true", "label_pred")

  /** The per-query kNN prediction frame (qid, label_true, label_pred)
    * — shared by the confusion matrix and the per-class F1 board. */
  private[graft] def knnPredictions(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val q = fanOut(spark,
      e.select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").cast("long").as("label_true")), key = "qid")
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      col("label").cast("long").as("clabel"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("s").desc, col("cid"))
    val nn = q.crossJoin(broadcast(c))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("label_true"), col("clabel"), col("cid"),
        graft.functions.ScalarFns.roundN(
          expr("cosine_sim(qv, cv)"), 6).as("s"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("nv").desc, col("label_pred"))
    nn.groupBy(col("qid"), col("label_true"),
        col("clabel").as("label_pred"))
      .agg(count(lit(1)).as("nv"))
      .withColumn("rv", row_number().over(wv))
      .filter(col("rv") === 1)
      .select(col("qid"), col("label_true"), col("label_pred"))
  }

  /** N3/ML-EVAL: per-class PRECISION / RECALL / F1 off the SAME kNN
    * prediction frame as the confusion matrix — the summary board a
    * classifier eval actually reports. All three metrics in exact ppm
    * floor division; F1 uses the integer harmonic form
    * `2·tp·10⁶ div (2·tp + fp + fn)` (algebraically 2PR/(P+R)) so no
    * float ratio is ever formed. tp/fn come from a truth-keyed
    * aggregate, fp from a prediction-keyed one, full-outer joined on
    * the class — two label-granularity shuffles over the tiny
    * prediction frame; the kernel sweep is the shared cost. */
  def knnF1ByClass(spark: SparkSession, dir: String): DataFrame = {
    val preds = knnPredictions(spark, dir)
    val t = preds.groupBy(col("label_true").as("label"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("label_pred") === col("label_true"), 1L)
          .otherwise(0L)).as("tp"))
    val p = preds.groupBy(col("label_pred").as("label"))
      .agg(count(lit(1)).as("n_pred"))
    t.join(p, Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("n_pred"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("n_true"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"))
      .withColumn("precision_ppm",
        when(col("tp") + col("fp") === 0, lit(0L))
          .otherwise(expr(
            "CAST((CAST(tp AS DECIMAL(38,0)) * 1000000) div (tp + fp) AS BIGINT)")))
      .withColumn("recall_ppm",
        when(col("tp") + col("fn") === 0, lit(0L))
          .otherwise(expr(
            "CAST((CAST(tp AS DECIMAL(38,0)) * 1000000) div (tp + fn) AS BIGINT)")))
      .withColumn("f1_ppm",
        when(col("tp") * 2 + col("fp") + col("fn") === 0, lit(0L))
          .otherwise(expr(
            "CAST((CAST(tp AS DECIMAL(38,0)) * 2000000) div (2 * tp + fp + fn) AS BIGINT)")))
      .orderBy("label")
  }

  /** N3/ML-EVAL #2: EMBEDDING-DISTRIBUTION DRIFT by label — the
    * embedding-space counterpart of the scalar drift monitors
    * ([[Stats]] TV distance / chi²): per label, the cosine between the
    * two md5-half corpus slices' CENTROIDS. Cosine near 1 ⇒ the two
    * halves embed the class identically; a drifted label names WHERE a
    * re-embedding / upstream change moved the space — the check a
    * feature platform runs before mixing two embedding snapshots.
    *
    * EXACT sufficient statistics: each element contributes
    * floor(x·2²⁰+½) (the kmeans fixed-point move), so per-(label,
    * half, dim) sums are order-independent BIGINTs; cosine is
    * scale-invariant, so the SUM vectors stand in for the means and
    * dot/norms are pure integer sums too — ONE double division at the
    * end from identical integer inputs. Scale shape: one explode →
    * (label, half, dim) partial-agg shuffle (64·|labels|·2 rows out),
    * dim-keyed self-join at that catalog granularity, 10-row finish. */
  def embeddingCentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val half = when(
      substring(md5(col("vec_id").cast("string")), 1, 1) < "8", 1)
      .otherwise(2)
    val s = fanOut(spark, e, key = "vec_id")
      .select(col("label").cast("long").as("label"), half.as("half"),
        col("embedding"),
        explode(expr(s"sequence(1, $VecDims)")).as("j"))
      .select(col("label"), col("half"), col("j"),
        expr(s"CAST(floor(CAST(element_at(embedding, j) AS DOUBLE)" +
          s" * CAST($PqScale AS DOUBLE) + 0.5D) AS BIGINT)").as("fix"))
      .groupBy(col("label"), col("half"), col("j"))
      .agg(sum(col("fix")).as("sfix"))
    val s1 = s.filter(col("half") === 1)
      .select(col("label"), col("j"), col("sfix").as("a"))
    val s2 = s.filter(col("half") === 2)
      .select(col("label"), col("j"), col("sfix").as("b"))
    val dots = s1.join(s2, Seq("label", "j"))
      .groupBy(col("label"))
      .agg(sum(col("a") * col("b")).as("dot"),
        sum(col("a") * col("a")).as("n1sq"),
        sum(col("b") * col("b")).as("n2sq"))
    val counts = e.groupBy(col("label").cast("long").as("label"))
      .agg(sum(when(half === 1, 1L).otherwise(0L)).as("n_h1"),
        sum(when(half === 2, 1L).otherwise(0L)).as("n_h2"))
    counts.join(dots, Seq("label"))
      .select(col("label"), col("n_h1"), col("n_h2"),
        graft.functions.ScalarFns.roundN(
          col("dot").cast("double")
            / (sqrt(col("n1sq").cast("double"))
              * sqrt(col("n2sq").cast("double"))), 6).as("centroid_cos"))
      .orderBy("label")
  }

  /** DCG rank discounts, integer-scaled: W_i = ⌊10⁹ / log₂(i+1)⌋ for
    * ranks 1..10 (StrictMath so the literals are bit-reproducible) —
    * interpolated into BOTH engines' expressions, so the whole nDCG
    * grade is integer arithmetic over shared constants. */
  private[graft] val DcgWeights: Seq[Long] = (1 to 10).map { i =>
    (1e9 * StrictMath.log(2.0) / StrictMath.log(i + 1.0)).toLong
  }
  private[graft] val IdcgScaled: Long = DcgWeights.sum

  /** N3 ANN QUALITY diagnostic #2 — nDCG@10 per PQ method: recall@k
    * grades the top-k as a SET; nDCG grades the ORDER (binary
    * relevance = membership in the exact top-10, discount 1/log₂(i+1)
    * — Järvelin & Kekäläinen's cumulated-gain family). A method can
    * hold recall while quantization reshuffles the head — this is the
    * metric that catches it, and the second number an ANN deployment
    * tracks beside recall. Integer end to end: DCG = Σ [[DcgWeights]]
    * over hit ranks, ndcg_ppm = DCG·10⁶ div IDCG. Rides the SAME
    * cached [[pqMethodsTopk]] + [[exactL2TopkIds]] frames as the
    * recall board — the whole diagnostic is a 70-row join. */
  def pqNdcg(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val exact = exactL2TopkIds(spark, dir, k)
    val methodDim = PqMethods.toDF("method")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("method").orderBy(col("adc_dist"), col("vec_id"))
    val weightCase = DcgWeights.zipWithIndex
      .map { case (wt, i) => s"WHEN ${i + 1} THEN ${wt}L" }
      .mkString("CASE rk ", " ", " ELSE 0L END")
    val dcg = pqMethodsTopk(spark, dir, k)
      .withColumn("rk", row_number().over(w))
      .join(exact, Seq("vec_id")) // binary relevance: exact-set member
      .groupBy(col("method")).agg(sum(expr(weightCase)).as("dcg"))
    methodDim.join(dcg, Seq("method"), "left")
      .select(col("method"), lit(k.toLong).as("k"),
        expr(s"CAST((CAST(coalesce(dcg, 0L) AS DECIMAL(38,0)) * 1000000)" +
          s" div ${IdcgScaled}L AS BIGINT)")
          .as("ndcg_ppm"))
      .orderBy("method")
  }

  private[graft] def exactL2TopkIds(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|pq_exact_l2_topk|$dir|$k",
      ttlSeconds = 300) {
      fanOut(spark, e, key = "vec_id")
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          expr(sqDistExpr("embedding", "qv", 1, PqM * PqSub)).as("d"))
        .orderBy(col("d"), col("vec_id"))
        .limit(k)
        .select(col("vec_id"))
    }
  }

  def pqRecall(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    // the exact-L2 baseline is referenced by all SEVEN method branches
    // of one union plan — without the S6 cache each branch re-plans and
    // re-executes the full corpus kernel (r5 verdict #2: pq_recall was
    // the board's heaviest query); cached, every branch joins a 10-row
    // block scan
    val exact = exactL2TopkIds(spark, dir, k)
    // nprobe ∈ {1,2,4} is the recall-vs-routing-cost curve an ANN
    // deployment tunes on; the learned twins isolate the quantization
    // loss the per-subspace Lloyd step recovers, and the round-2 row
    // shows whether another iteration keeps paying (plateau ⇔ the
    // subspace clustering converged). All seven lists come from the
    // ONE cached [[pqMethodsTopk]] plan, so this whole diagnostic is a
    // 70-row join + one aggregation. The method DIM is a literal local
    // table left-joined so a method with ZERO exact hits still reports
    // its n_hits = 0 row (a groupBy over the hit join alone would drop
    // it).
    import spark.implicits._
    val methodDim = PqMethods.toDF("method")
    val hits = pqMethodsTopk(spark, dir, k)
      .join(exact, Seq("vec_id"))
      .groupBy(col("method")).agg(count(lit(1)).as("nh"))
    methodDim.join(hits, Seq("method"), "left")
      .select(col("method"), lit(k.toLong).as("k"),
        coalesce(col("nh"), lit(0L)).as("n_hits"),
        graft.functions.ScalarFns.roundN(
          coalesce(col("nh"), lit(0L)).cast("double") / k, 2).as("recall_at_k"))
      .orderBy("method")
  }

  /** How far one Lloyd round moved each centroid: cosine between the
    * seed embedding (vec_id = cid) and the learned sum-vector. drift
    * near 1 ⇒ the seed already sat at its cluster's center; the SPREAD
    * of this column is the convergence diagnostic a production loop
    * would threshold on. */
  def kmeansShift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    kmeansCentroids(spark, dir)
      .join(e.select(col("vec_id").as("cid"), col("embedding").as("cv0")),
        Seq("cid"))
      .select(col("cid"),
        graft.functions.ScalarFns.roundN(
          expr("cosine_sim(cv0, cv)"), 6).as("drift"))
      .orderBy("cid")
  }

  /** N3++++ MULTI-round Lloyd refinement on the graded path: per-round
    * centroid drift for rounds 1..`rounds` — the convergence TRAJECTORY
    * a production k-means thresholds on, hash-graded against an
    * iteratively-UNROLLED oracle (each round is one more E+M CTE pair
    * in DuckDB; the round count is the shared [[KmeansRounds]]
    * constant, so query and oracle cannot drift). Round 1's drift is
    * seed-embedding → cent1 (= [[kmeansShift]]); round r's is
    * cent(r-1) → cent(r). Cosine is scale-invariant, so comparing SUM
    * vectors needs no normalization. */
  def kmeansRoundDrift(spark: SparkSession, dir: String,
      rounds: Int = KmeansRounds): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val frames = (1 to rounds).map { r =>
      val prev =
        if (r == 1) e.select(col("vec_id").as("cid"), col("embedding").as("pv"))
        else kmeansCentroidsR(spark, dir, r - 1)
          .select(col("cid"), col("cv").as("pv"))
      kmeansCentroidsR(spark, dir, r).join(prev, Seq("cid"))
        .select(lit(r.toLong).as("round"), col("cid"),
          graft.functions.ScalarFns.roundN(
            expr("cosine_sim(pv, cv)"), 6).as("drift"))
    }
    frames.reduce(_ unionByName _).orderBy("round", "cid")
  }

  /** The FROZEN assignment after [[KmeansRounds]] rounds — the
    * deliverable of the refinement: every vector's final cluster,
    * hash-graded against the same unrolled oracle chain. */
  def kmeansConvergedAssign(spark: SparkSession, dir: String,
      rounds: Int = KmeansRounds): DataFrame =
    kmeansAssignR(spark, dir, rounds).orderBy("vec_id")

  /** Convergence threshold + round cap for the graded control loop —
    * shared by [[kmeansConverge]], [[kmeansConvergedRounds]] and the
    * DuckDB oracle, so the stopping rule cannot drift between engines. */
  private[graft] val KmeansEps: Double = 1e-4
  private[graft] val KmeansMaxRounds: Int = 4

  /** GRADED convergence run (r4 brief #4): the same control loop as
    * [[kmeansConverge]], instrumented — one row (rounds_run,
    * min_drift). The per-round decision thresholds the min of the
    * 6-dp-ROUNDED per-cid drifts (the ADVICE lesson: decide on the
    * value both engines provably share, never a raw double near a
    * boundary); the oracle unrolls [[KmeansMaxRounds]] E+M pairs and
    * applies the identical rule, so the loop's stopping decision is
    * itself hash-checked. Rounds past the stopping point are never
    * computed on the Spark side (the oracle, being one SQL statement,
    * evaluates its full chain — only the picked row is compared). */
  def kmeansConvergedRounds(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    var r = 1
    var minDrift = 0.0
    var converged = false
    while (!converged && r <= KmeansMaxRounds) {
      val prev =
        if (r == 1) e.select(col("vec_id").as("cid"), col("embedding").as("pv"))
        else kmeansCentroidsR(spark, dir, r - 1)
          .select(col("cid"), col("cv").as("pv"))
      minDrift = kmeansCentroidsR(spark, dir, r).join(prev, Seq("cid"))
        .agg(min(graft.functions.ScalarFns.roundN(
          expr("cosine_sim(pv, cv)"), 6)))
        .first().getDouble(0)
      if (minDrift >= 1.0 - KmeansEps) converged = true else r += 1
    }
    val rounds = math.min(r, KmeansMaxRounds)
    import spark.implicits._
    Seq((rounds.toLong, minDrift)).toDF("rounds_run", "min_drift")
  }

  /** Iterate-to-convergence driver (the production control loop the
    * graded fixed-round queries freeze): run Lloyd rounds until the
    * MINIMUM per-centroid drift reaches 1−eps (cosine 1 = unmoved) or
    * `maxRounds`. Each round's frames flow through the S6 cache, so
    * the trajectory query and this loop share every intermediate; the
    * per-round driver action is ONE scalar (the min drift), never
    * data. Returns (frozen centroids, rounds run). */
  def kmeansConverge(spark: SparkSession, dir: String,
      eps: Double = KmeansEps, maxRounds: Int = KmeansMaxRounds): (DataFrame, Int) = {
    val e = Tables(spark, dir, "embeddings")
    var r = 1
    var done = false
    while (!done && r <= maxRounds) {
      val prev =
        if (r == 1) e.select(col("vec_id").as("cid"), col("embedding").as("pv"))
        else kmeansCentroidsR(spark, dir, r - 1)
          .select(col("cid"), col("cv").as("pv"))
      val minDrift = kmeansCentroidsR(spark, dir, r).join(prev, Seq("cid"))
        .agg(min(expr("cosine_sim(pv, cv)"))).first().getDouble(0)
      if (minDrift >= 1.0 - eps) done = true else r += 1
    }
    val frozen = math.min(r, maxRounds)
    (kmeansCentroidsR(spark, dir, frozen), frozen)
  }

  /** N5 multimodal row: text metadata ⋈ embedding vector in one frame
    * (arrays kept out of the graded output; dim + norm summarize). */
  def multimodalJoin(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val e = Tables(spark, dir, "embeddings")
    d.join(e, d("doc_id") === e("vec_id"))
      .withColumn("emb_dim", size(col("embedding")).cast("bigint"))
      .withColumn("emb_norm",
        graft.functions.ScalarFns.roundN(
          sqrt(expr(dotExpr("embedding", "embedding"))), 6))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("label"), col("emb_dim"), col("emb_norm"))
      .orderBy("doc_id")
  }

  /** CONTRASTIVE TRAINING PAIRS — the labeled pair set an embedding /
    * similarity model trains on, assembled leakage-safely from the
    * dedup machinery: POSITIVES are the verified near-dup pairs
    * (jaccard ≥ 0.5 on the rounded graded score — exactly the cluster
    * edge set), NEGATIVES are deterministic pseudo-random partners
    * (Knuth multiplicative hash mod N over the contiguous doc-id
    * space, 2 per anchor) with the critical filter: a candidate
    * negative whose endpoints share a near-dup CLUSTER is dropped —
    * cluster-level exclusion, not pair-level, so a negative can never
    * be a transitive near-duplicate of its anchor (the same
    * transitivity argument as the leakage-safe split family). A
    * pipeline that samples negatives uniformly WITHOUT this filter
    * poisons the loss with false negatives; this query is that filter,
    * graded.
    *
    * Scale shape: negatives are O(k·N) rows of pure arithmetic; the
    * exclusion is two doc-granularity equi-joins against the cached
    * cluster labels; positives reuse the cached pair frame. No
    * randomness anywhere — the oracle rebuilds the identical pair
    * set. */
  /** Negative-partner arithmetic constants — interpolated into BOTH
    * the Column tree and the oracle SQL so they cannot drift. */
  private val NegMul = 2654435761L   // Knuth multiplicative constant
  private val NegStep = 40503L
  private val NegOff = 12345L

  def contrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pos = neardupPairs(spark, dir).filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("label"))
    val clu = neardupClusters(spark, dir)
    val docs = Tables(spark, dir, "documents").select(col("doc_id"))
    val nn = docs.agg(count(lit(1)).as("n"))
    val js = Seq(0L, 1L).toDF("j")
    // the doc_id·NegMul product rides decimal(38,0) (HUGEINT in the
    // oracle): in int64 it would wrap silently in Spark above
    // doc_id ≈ 3.5e9 while DuckDB raises — a cross-engine divergence
    // waiting for a big corpus
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val cand = docs.crossJoin(broadcast(js)).crossJoin(broadcast(nn))
      .select(col("doc_id").as("a0"),
        pmod(d38(col("doc_id")) * lit(NegMul) + lit(NegStep) * col("j")
          + lit(NegOff), d38(col("n"))).cast("long").as("b0"))
      .filter(col("a0") =!= col("b0"))
      .select(least(col("a0"), col("b0")).as("doc_a"),
        greatest(col("a0"), col("b0")).as("doc_b"))
      .distinct()
    val neg = cand
      .join(clu.select(col("doc_id").as("doc_a"), col("cluster").as("cl_a")),
        Seq("doc_a"))
      .join(clu.select(col("doc_id").as("doc_b"), col("cluster").as("cl_b")),
        Seq("doc_b"))
      .filter(col("cl_a") =!= col("cl_b"))
      .select(col("doc_a"), col("doc_b"), lit(0L).as("label"))
    pos.unionByName(neg)
      .orderBy(col("label").desc, col("doc_a"), col("doc_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "contrastive_pairs" -> (contrastivePairs _),
    "neardup_pairs"     -> (neardupPairs _),
    "neardup_pairs_char" -> ((s: SparkSession, d: String) => neardupPairsChar(s, d)),
    "neardup_clusters"  -> ((s: SparkSession, d: String) => neardupClusters(s, d)),
    "neardup_survivors" -> (neardupSurvivors _),
    "neardup_clusters_loop" -> ((s: SparkSession, d: String) =>
      neardupClustersLoop(s, d)),
    "neardup_degree"    -> ((s: SparkSession, d: String) => neardupDegree(s, d)),
    "neardup_coreness"  -> ((s: SparkSession, d: String) => neardupCoreness(s, d)),
    "neardup_triangles" -> ((s: SparkSession, d: String) => neardupTriangles(s, d)),
    "neardup_pagerank"  -> ((s: SparkSession, d: String) => neardupPagerank(s, d)),
    "pipeline_yield"    -> (pipelineYield _),
    "split_stats"       -> (splitStats _),
    "split_audit"       -> (splitLeakageAudit _),
    "pq_codes"          -> (pqCodes _),
    "pq_topk"           -> ((s: SparkSession, d: String) => pqTopk(s, d)),
    "ivfpq_topk"        -> ((s: SparkSession, d: String) => ivfPqTopk(s, d)),
    "pq_recall"         -> ((s: SparkSession, d: String) => pqRecall(s, d)),
    "pq_ndcg"           -> ((s: SparkSession, d: String) => pqNdcg(s, d)),
    "knn_label_confusion" -> ((s: SparkSession, d: String) =>
      knnLabelConfusion(s, d)),
    "knn_f1_by_class" -> (knnF1ByClass(_, _)),
    "embedding_centroid_drift" -> (embeddingCentroidDrift _),
    "pq_codebook_learned" -> ((s: SparkSession, d: String) =>
      pqCodebookLearnedFlat(s, d)),
    "pq_codebook_learned2" -> ((s: SparkSession, d: String) =>
      pqCodebookLearnedFlat(s, d, r = 2)),
    "pq_codes_learned"  -> (pqCodesLearned _),
    "pq_codes_learned2" -> (pqCodesLearned2 _),
    "pq_topk_learned"   -> ((s: SparkSession, d: String) => pqTopkLearned(s, d)),
    "cosine_topk"       -> ((s: SparkSession, d: String) => cosineTopk(s, d)),
    "cosine_topk_ivf"   -> ((s: SparkSession, d: String) => cosineTopkIvf(s, d)),
    "cosine_topk_ivf2"  -> ((s: SparkSession, d: String) => cosineTopkIvfProbed(s, d)),
    "cosine_topk_batch" -> ((s: SparkSession, d: String) => cosineTopkBatch(s, d)),
    "cosine_topk_kmeans" -> ((s: SparkSession, d: String) => cosineTopkKmeans(s, d)),
    "kmeans_shift"      -> (kmeansShift _),
    "kmeans_rounds"     -> ((s: SparkSession, d: String) => kmeansRoundDrift(s, d)),
    "kmeans_converged_rounds" -> (kmeansConvergedRounds _),
    "kmeans_converged_assign" ->
      ((s: SparkSession, d: String) => kmeansConvergedAssign(s, d)),
    "embedding_neardup" -> ((s: SparkSession, d: String) => embeddingNeardup(s, d)),
    "embedding_clusters" -> ((s: SparkSession, d: String) => embeddingClusters(s, d)),
    "semantic_dedup_pairs" -> (semanticDedupPairs _),
    "semantic_dedup_survivors" -> (semanticDedupSurvivors _),
    "hard_negatives" -> (hardNegatives _),
    "silhouette_by_cell" -> (silhouetteByCell _),
    "label_prototypes" -> ((s: SparkSession, d: String) => labelPrototypes(s, d)),
    "source_overlap_matrix" -> (sourceOverlapMatrix _),
    "multimodal_join"   -> (multimodalJoin _))

  /** Shared IVF-assignment CTE (DuckDB) — mirrors [[ivfAssign]],
    * including the corpus-scaled nlist = ⌈√N⌉. */
  private def ivfCte: String = {
    val cos = s"(${duckDot("e.embedding", "c.cv")} / " +
      s"(sqrt(${duckDot("e.embedding", "e.embedding")}) * sqrt(${duckDot("c.cv", "c.cv")})))"
    s"""WITH cent AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
       |  WHERE vec_id < ceil(sqrt((SELECT count(*) FROM embeddings)))),
       |sims AS (
       |  SELECT e.vec_id, c.cid, $cos AS s
       |  FROM embeddings e CROSS JOIN cent c),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM sims)
       |  WHERE rn = 1)""".stripMargin
  }

  /** One Lloyd round as a DuckDB CTE pair — mirrors
    * [[kmeansCentroidsR]] / [[kmeansAssignR]]: order-independent
    * fixed-point per-(cid, dim) long sums (floor(x·2²⁰ + ½)), divided
    * by the exact power-of-two scale and cast to float, re-assign by
    * argmax cosine. Round r reads `assign(r-1)` (round 0 = the seed
    * `assign` from [[ivfCte]]) and defines `cent$r` + `assign$r`. */
  private def kmeansRoundCte(r: Int): String = {
    val cos = s"(${duckDot("e.embedding", "c.cv")} / " +
      s"(sqrt(${duckDot("e.embedding", "e.embedding")}) * sqrt(${duckDot("c.cv", "c.cv")})))"
    val prev = if (r == 1) "assign" else s"assign${r - 1}"
    s"""mem$r AS (
       |  SELECT a.cid, t.j,
       |    sum(CAST(floor(CAST(e.embedding[t.j] AS DOUBLE)
       |      * CAST($PqScale AS DOUBLE) + 0.5) AS BIGINT)) AS sfix
       |  FROM $prev a JOIN embeddings e ON a.vec_id = e.vec_id
       |  CROSS JOIN generate_series(1, $VecDims) AS t(j)
       |  GROUP BY 1, 2),
       |cent$r AS (
       |  SELECT cid,
       |    list(CAST(CAST(sfix AS DOUBLE) / CAST($PqScale AS DOUBLE) AS FLOAT)
       |         ORDER BY j) AS cv
       |  FROM mem$r GROUP BY 1),
       |sims$r AS (
       |  SELECT e.vec_id, c.cid, $cos AS s
       |  FROM embeddings e CROSS JOIN cent$r c),
       |assign$r AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM sims$r)
       |  WHERE rn = 1)""".stripMargin
  }

  /** The UNROLLED multi-round chain: `rounds` E+M pairs appended to
    * [[ivfCte]] — the oracle twin of the Scala round loop. */
  private def kmeansCteR(rounds: Int): String =
    s"$ivfCte,\n" + (1 to rounds).map(kmeansRoundCte).mkString(",\n")

  /** `drift_all(round, cid, drift)` for rounds 1..`rounds` (requires
    * the [[kmeansCteR]] chain): per-cid 6-dp cosine drift, round r vs
    * its predecessor (seed embedding for r = 1) — shared by the
    * trajectory oracle and the convergence-loop oracle. */
  private def duckDriftAllCte(rounds: Int): String =
    s"""drift_all AS (
       |${(1 to rounds).map { r =>
            val prevRel =
              if (r == 1) "embeddings p" else s"cent${r - 1} p"
            val prevKey = if (r == 1) "p.vec_id" else "p.cid"
            val prevVec = if (r == 1) "p.embedding" else "p.cv"
            s"""  SELECT CAST($r AS BIGINT) AS round, c.cid,
               |    ${graft.functions.ScalarFns.roundSql(
                    s"""${duckDot(prevVec, "c.cv")}
                       |      / (sqrt(${duckDot(prevVec, prevVec)})
                       |         * sqrt(${duckDot("c.cv", "c.cv")}))""".stripMargin, 6)} AS drift
               |  FROM cent$r c JOIN $prevRel ON $prevKey = c.cid""".stripMargin
          }.mkString("\n  UNION ALL\n")})""".stripMargin

  /** Single-round instance (ends with `cent1`/`assign1`) — used by the
    * one-round oracles unchanged. */
  private def kmeansCte: String = kmeansCteR(1)

  private[graft] val shingleCte =
    s"""WITH toks AS (
      |  ${graft.functions.Shingles.duckToks}),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(${graft.functions.Shingles.duckExpr}) AS s
      |  FROM toks WHERE len(t) >= 3)""".stripMargin

  private[graft] def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** Shared PQ METHOD-BOARD CTE chain (DuckDB): all seven methods'
    * ranked top-10 candidate lists (each `*approx*` CTE keeps its
    * rounded `adc` so a consumer can re-derive ranks) + the exact-L2
    * baseline — the common prefix of the `pq_recall` and `pq_ndcg`
    * oracles. Ends with `exact(vec_id, d)`. */
  private def pqBoardCtes: String =
    s"""$ivfCte,
       |$pqCtes,
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |dt AS (
       |  SELECT c.code,
       |${(0 until PqM).map(m =>
            s"    ${duckSqDist("q.qv", "c.cv", m * PqSub + 1, (m + 1) * PqSub)} AS qd$m")
            .mkString(",\n")}
       |  FROM cb c, q),
       |qb AS (SELECT cid FROM assign WHERE vec_id = 0),
       |cands AS (SELECT a.vec_id FROM assign a JOIN qb ON a.cid = qb.cid
       |          WHERE a.vec_id <> 0),
       |qb2 AS (SELECT cid FROM (
       |  SELECT cid, row_number() OVER (ORDER BY s DESC, cid) AS rn
       |  FROM sims WHERE vec_id = 0) WHERE rn <= 2),
       |cands2 AS (SELECT a.vec_id FROM assign a JOIN qb2 ON a.cid = qb2.cid
       |           WHERE a.vec_id <> 0),
       |qb4 AS (SELECT cid FROM (
       |  SELECT cid, row_number() OVER (ORDER BY s DESC, cid) AS rn
       |  FROM sims WHERE vec_id = 0) WHERE rn <= 4),
       |cands4 AS (SELECT a.vec_id FROM assign a JOIN qb4 ON a.cid = qb4.cid
       |           WHERE a.vec_id <> 0),
       |adc_all AS (
       |  SELECT w.vec_id,
       |    ${graft.functions.ScalarFns.roundSql(
            "t0.qd0 + t1.qd1 + t2.qd2 + t3.qd3", 6)} AS adc
       |  FROM wide w
       |  JOIN dt t0 ON w.c0 = t0.code
       |  JOIN dt t1 ON w.c1 = t1.code
       |  JOIN dt t2 ON w.c2 = t2.code
       |  JOIN dt t3 ON w.c3 = t3.code
       |  WHERE w.vec_id <> 0),
       |approx_ex AS (
       |  SELECT vec_id, adc FROM adc_all ORDER BY adc, vec_id LIMIT 10),
       |approx_ivf AS (
       |  SELECT a.vec_id, a.adc FROM adc_all a JOIN cands c ON a.vec_id = c.vec_id
       |  ORDER BY a.adc, a.vec_id LIMIT 10),
       |approx_ivf2 AS (
       |  SELECT a.vec_id, a.adc FROM adc_all a JOIN cands2 c ON a.vec_id = c.vec_id
       |  ORDER BY a.adc, a.vec_id LIMIT 10),
       |approx_ivf4 AS (
       |  SELECT a.vec_id, a.adc FROM adc_all a JOIN cands4 c ON a.vec_id = c.vec_id
       |  ORDER BY a.adc, a.vec_id LIMIT 10),
       |${pqLearnedCbCtes()},
       |${pqLearnedEncCtes()},
       |${pqLearnedDtCte()},
       |${pqLearnedAdcCte()},
       |$pqLearned2Ctes,
       |${pqLearnedDtCte("2")},
       |${pqLearnedAdcCte("2")},
       |lapprox_ex AS (
       |  SELECT vec_id, adc FROM ladc_all ORDER BY adc, vec_id LIMIT 10),
       |lapprox_ivf AS (
       |  SELECT a.vec_id, a.adc FROM ladc_all a JOIN cands c ON a.vec_id = c.vec_id
       |  ORDER BY a.adc, a.vec_id LIMIT 10),
       |lapprox_ex2 AS (
       |  SELECT vec_id, adc FROM ladc_all2 ORDER BY adc, vec_id LIMIT 10),
       |exact AS (
       |  SELECT e.vec_id,
       |    ${duckSqDist("e.embedding", "q.qv", 1, PqM * PqSub)} AS d
       |  FROM embeddings e, q WHERE e.vec_id <> 0
       |  ORDER BY d, e.vec_id LIMIT 10)""".stripMargin

  /** Shared PQ CTE chain (DuckDB): codebook + per-(vec, m, code)
    * subspace distances + argmin encode + wide code table — mirrors
    * [[pqPairs]]/[[pqCodes]] stage for stage. Ends with
    * `wide(vec_id, c0..c3)`. */
  private def pqCtes: String = {
    val pairBlocks = (0 until PqM).map { m =>
      s"""  SELECT e.vec_id, $m AS m, c.code,
         |    ${duckSqDist("e.embedding", "c.cv", m * PqSub + 1, (m + 1) * PqSub)} AS d
         |  FROM embeddings e CROSS JOIN cb c""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val wideCols = (0 until PqM).map(m =>
      s"max(CASE WHEN m = $m THEN code END) AS c$m").mkString(", ")
    s"""cb AS (SELECT vec_id AS code, embedding AS cv
       |       FROM embeddings WHERE vec_id < $PqK),
       |pairs AS (
       |$pairBlocks),
       |enc AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
       |    FROM pairs)
       |  WHERE rn = 1),
       |wide AS (SELECT vec_id, $wideCols FROM enc GROUP BY 1)""".stripMargin
  }

  /** DuckDB subspace squared-L2: `x`'s m-th slice (m = row column of
    * the joined codebook) vs PqSub-dim array `c` — the [[subDistExpr]]
    * twin, identical fold. */
  private def duckSubDist(x: String, c: String): String =
    s"list_reduce(list_transform(generate_series(1, $PqSub), j -> " +
      s"(CAST($x[m * $PqSub + j] AS DOUBLE) - $c[j]) * " +
      s"(CAST($x[m * $PqSub + j] AS DOUBLE) - $c[j])), (a, b) -> a + b)"

  /** Learned-codebook CTEs, round-parameterized: fixed-point
    * per-(m, code, dim) sums over the assignment `src` (round 1:
    * `enc` from [[pqCtes]]; round 2: `lenc` — the round-1 encode) →
    * exact-double means — the [[pqCodebookLearnedR]] twin. Ends with
    * `lflat$suf` and `lcb$suf`. */
  private def pqLearnedCbCtes(src: String = "enc", suf: String = ""): String =
    s"""lflat$suf AS (
       |  SELECT en.m, en.code, t.j,
       |    sum(CAST(floor(CAST(e.embedding[en.m * $PqSub + t.j] AS DOUBLE)
       |      * CAST($PqScale AS DOUBLE) + 0.5) AS BIGINT)) AS sfix,
       |    count(*) AS n
       |  FROM $src en
       |  JOIN embeddings e ON en.vec_id = e.vec_id
       |  CROSS JOIN generate_series(1, $PqSub) AS t(j)
       |  GROUP BY 1, 2, 3),
       |lcb$suf AS (
       |  SELECT m, code,
       |    list(CAST(sfix AS DOUBLE) / n / CAST($PqScale AS DOUBLE)
       |         ORDER BY j) AS cv
       |  FROM lflat$suf GROUP BY 1, 2)""".stripMargin

  /** Learned encode CTEs (require `lcb$suf`): argmin over subspace
    * distances → wide code table `lwide$suf(vec_id, c0..c3)` — the
    * [[pqCodesLearnedR]] twin. */
  private def pqLearnedEncCtes(suf: String = ""): String = {
    val wideCols = (0 until PqM).map(m =>
      s"max(CASE WHEN m = $m THEN code END) AS c$m").mkString(", ")
    s"""lpairs$suf AS (
       |  SELECT e.vec_id, c.m, c.code,
       |    ${duckSubDist("e.embedding", "c.cv")} AS d
       |  FROM embeddings e CROSS JOIN lcb$suf c),
       |lenc$suf AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT vec_id, m, code,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
       |    FROM lpairs$suf)
       |  WHERE rn = 1),
       |lwide$suf AS (SELECT vec_id, $wideCols FROM lenc$suf GROUP BY 1)""".stripMargin
  }

  /** Learned ADC distance table (requires `lcb$suf` and `q(qv)`):
    * `ldt$suf(m, code, qd)`. */
  private def pqLearnedDtCte(suf: String = ""): String =
    s"""ldt$suf AS (
       |  SELECT c.m, c.code, ${duckSubDist("q.qv", "c.cv")} AS qd
       |  FROM lcb$suf c, q)""".stripMargin

  /** The learned-ADC scored list (requires `lwide$suf` + `ldt$suf`):
    * `ladc_all$suf(vec_id, adc)` with the same 6-dp rounding and
    * fixed-order sum as the seed path. */
  private def pqLearnedAdcCte(suf: String = ""): String =
    s"""ladc_all$suf AS (
       |  SELECT w.vec_id,
       |    ${graft.functions.ScalarFns.roundSql(
            "t0.qd + t1.qd + t2.qd + t3.qd", 6)} AS adc
       |  FROM lwide$suf w
       |  JOIN ldt$suf t0 ON t0.m = 0 AND w.c0 = t0.code
       |  JOIN ldt$suf t1 ON t1.m = 1 AND w.c1 = t1.code
       |  JOIN ldt$suf t2 ON t2.m = 2 AND w.c2 = t2.code
       |  JOIN ldt$suf t3 ON t3.m = 3 AND w.c3 = t3.code
       |  WHERE w.vec_id <> 0)""".stripMargin

  /** The full round-2 learned chain appended after round 1's
    * (lcb2 from lenc; l2* encode; used by the round-2 graded dump and
    * the recall row). */
  private def pqLearned2Ctes: String =
    s"""${pqLearnedCbCtes(src = "lenc", suf = "2")},
       |${pqLearnedEncCtes(suf = "2")}""".stripMargin

  /** DuckDB twin of [[splitOf]] over an arbitrary key expression. */
  private def duckSplitOf(key: String): String =
    s"""CASE WHEN substr(md5('split:' || CAST($key AS VARCHAR)), 1, 8)
       |       < '$TrainHex' THEN 'train'
       |     WHEN substr(md5('split:' || CAST($key AS VARCHAR)), 1, 8)
       |       < '$ValHex' THEN 'val'
       |     ELSE 'test' END""".stripMargin
  private def duckSplitOfCluster: String = duckSplitOf("cluster")

  /** Recursive-CTE transitive closure over the ≥0.5 scored pairs —
    * shared by every oracle that consumes cluster labels
    * (`neardup_clusters`, `pipeline_yield`, the leakage-safe split
    * family) so the closure definition cannot drift between them.
    * Requires `scored` (from [[lshScoredCtes]]) and a RECURSIVE WITH;
    * ends with `clu(doc_id, cluster)`. */
  private[graft] val clusterClosureCtes: String =
    s"""pairs AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT doc_id FROM documents),
       |reach AS (
       |  SELECT doc_id, doc_id AS r FROM nodes
       |  UNION
       |  SELECT e.s AS doc_id, reach.r
       |  FROM reach JOIN edges e ON reach.doc_id = e.d),
       |clu AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY 1)""".stripMargin

  /** Shared LSH candidate + Jaccard CTE block (DuckDB) — used by both
    * the pair oracle and the cluster oracle so they cannot diverge.
    * Ends with `scored(doc_a, doc_b, n_inter, jaccard)`. */
  private[graft] val lshScoredCtes: String =
    s"""sig AS (
       |  SELECT doc_id,
       |    min(substr(md5(s),  1, 8)) AS m0,
       |    min(substr(md5(s),  9, 8)) AS m1,
       |    min(substr(md5(s), 17, 8)) AS m2,
       |    min(substr(md5(s), 25, 8)) AS m3
       |  FROM sh GROUP BY 1),
       |cand AS (
       |  -- explicit DISTINCT over UNION ALL, NOT a bare UNION chain:
       |  -- under WITH RECURSIVE (the cluster oracle) DuckDB gives a
       |  -- top-level UNION in a CTE recursive-union semantics and
       |  -- duplicates survive, silently doubling n_inter downstream
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM sig a JOIN sig b ON a.m0 = b.m0 AND a.doc_id < b.doc_id
       |    UNION ALL
       |    SELECT a.doc_id, b.doc_id
       |      FROM sig a JOIN sig b ON a.m1 = b.m1 AND a.doc_id < b.doc_id
       |    UNION ALL
       |    SELECT a.doc_id, b.doc_id
       |      FROM sig a JOIN sig b ON a.m2 = b.m2 AND a.doc_id < b.doc_id
       |    UNION ALL
       |    SELECT a.doc_id, b.doc_id
       |      FROM sig a JOIN sig b ON a.m3 = b.m3 AND a.doc_id < b.doc_id)),
       |shd AS (SELECT DISTINCT doc_id, s FROM sh),
       |sizes AS (SELECT doc_id, count(*) AS nsh FROM shd GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN shd x ON c.doc_a = x.doc_id
       |  JOIN shd y ON c.doc_b = y.doc_id AND x.s = y.s
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT i.doc_a, i.doc_b, i.n_inter,
       |    ${graft.functions.ScalarFns.roundSql(
            "CAST(i.n_inter AS DOUBLE) / (sa.nsh + sb.nsh - i.n_inter)", 4)} AS jaccard
       |  FROM inter i
       |  JOIN sizes sa ON i.doc_a = sa.doc_id
       |  JOIN sizes sb ON i.doc_b = sb.doc_id)""".stripMargin

  /** Shared kNN-prediction CTE chain (ends at `p(qid, label_true,
    * label_pred)`) — consumed by the confusion matrix and the F1
    * board so the two grade off ONE prediction definition. */
  private def knnPredCtes: String = {
    val cos = s"""${duckDot("q.embedding", "c.embedding")}
       |    / (sqrt(${duckDot("q.embedding", "q.embedding")})
       |       * sqrt(${duckDot("c.embedding", "c.embedding")}))""".stripMargin
    s"""s AS (
       |  SELECT q.vec_id AS qid, CAST(q.label AS BIGINT) AS label_true,
       |    CAST(c.label AS BIGINT) AS clabel, c.vec_id AS cid,
       |    ${graft.functions.ScalarFns.roundSql(cos, 6)} AS s
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id),
       |nn AS (
       |  SELECT qid, label_true, clabel FROM (
       |    SELECT qid, label_true, clabel,
       |      row_number() OVER (PARTITION BY qid ORDER BY s DESC, cid)
       |        AS rn
       |    FROM s) WHERE rn <= 5),
       |v AS (
       |  SELECT qid, label_true, clabel AS label_pred,
       |    count(*) AS nv
       |  FROM nn GROUP BY 1, 2, 3),
       |p AS (
       |  SELECT qid, label_true, label_pred FROM (
       |    SELECT qid, label_true, label_pred,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY nv DESC, label_pred) AS rv
       |    FROM v) WHERE rv = 1)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "neardup_pairs" ->
      s"""$shingleCte,
         |$lshScoredCtes
         |SELECT doc_a, doc_b, n_inter, jaccard FROM scored
         |ORDER BY 1, 2""".stripMargin,
    // the same scored chain, labeled with both endpoints' sources and
    // folded to the unordered source-pair key
    "source_overlap_matrix" ->
      s"""$shingleCte,
         |$lshScoredCtes,
         |lab AS (
         |  SELECT s.n_inter, da.source AS sa, db.source AS sb
         |  FROM scored s
         |  JOIN documents da ON da.doc_id = s.doc_a
         |  JOIN documents db ON db.doc_id = s.doc_b)
         |SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(n_inter) AS BIGINT) AS sum_inter
         |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "neardup_pairs_char" ->
      s"""WITH ctoks AS (SELECT doc_id, lower(text) AS lt FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    unnest(list_transform(generate_series(1, len(lt) - 8),
         |      i -> substr(lt, i, 9))) AS s
         |  FROM ctoks WHERE len(lt) >= 9),
         |sig AS (
         |  SELECT doc_id,
         |    min(substr(md5('0:' || s),  1, 8)) AS m0,
         |    min(substr(md5('0:' || s),  9, 8)) AS m1,
         |    min(substr(md5('0:' || s), 17, 8)) AS m2,
         |    min(substr(md5('0:' || s), 25, 8)) AS m3,
         |    min(substr(md5('1:' || s),  1, 8)) AS m4,
         |    min(substr(md5('1:' || s),  9, 8)) AS m5,
         |    min(substr(md5('1:' || s), 17, 8)) AS m6,
         |    min(substr(md5('1:' || s), 25, 8)) AS m7
         |  FROM sh GROUP BY 1),
         |cand AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b, count(*) AS nbands FROM (
         |      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b
         |        ON a.m0 = b.m0 AND a.m1 = b.m1 AND a.doc_id < b.doc_id
         |      UNION ALL
         |      SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
         |        ON a.m2 = b.m2 AND a.m3 = b.m3 AND a.doc_id < b.doc_id
         |      UNION ALL
         |      SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
         |        ON a.m4 = b.m4 AND a.m5 = b.m5 AND a.doc_id < b.doc_id
         |      UNION ALL
         |      SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
         |        ON a.m6 = b.m6 AND a.m7 = b.m7 AND a.doc_id < b.doc_id)
         |    GROUP BY 1, 2)
         |  WHERE nbands >= 2),
         |shd AS (SELECT DISTINCT doc_id, s FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM shd GROUP BY 1),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM cand c
         |  JOIN shd x ON c.doc_a = x.doc_id
         |  JOIN shd y ON c.doc_b = y.doc_id AND x.s = y.s
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT i.doc_a, i.doc_b, i.n_inter,
         |    ${graft.functions.ScalarFns.roundSql(
              "CAST(i.n_inter AS DOUBLE) / (sa.nsh + sb.nsh - i.n_inter)", 4)} AS jaccard
         |  FROM inter i
         |  JOIN sizes sa ON i.doc_a = sa.doc_id
         |  JOIN sizes sb ON i.doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, n_inter, jaccard FROM scored
         |WHERE jaccard >= $CharJaccardThreshold ORDER BY 1, 2""".stripMargin,
    "neardup_degree" ->
      s"""$shingleCte,
         |$lshScoredCtes,
         |pairs AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
         |edges AS (SELECT doc_a AS doc_id FROM pairs
         |          UNION ALL SELECT doc_b FROM pairs),
         |deg AS (SELECT doc_id, count(*) AS degree FROM edges GROUP BY 1),
         |alld AS (
         |  SELECT d.doc_id, coalesce(g.degree, 0) AS degree
         |  FROM documents d LEFT JOIN deg g ON d.doc_id = g.doc_id)
         |SELECT degree, count(*) AS n_docs FROM alld
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // k-core peel, round-for-round: s{k}_r = vertices keeping degree
    // ≥ k among round-(r−1) survivors; fixed unroll, idempotent past
    // the fixpoint (spec-asserted reached). Every loop CTE is
    // MATERIALIZED: each round reads its predecessor TWICE (src and
    // dst membership), and DuckDB inlines plain CTEs — without the
    // hint the shingle+LSH pipeline would expand 2^rounds times (the
    // SQL twin of the exponential-plan trap the Spark loop's
    // per-round checkpoints cut).
    "neardup_coreness" -> {
      val peels = (for (k <- Seq(2, 3); r <- 1 to CorenessRounds) yield {
        val prev = if (r == 1) "v0" else s"s${k}_${r - 1}"
        s"""s${k}_$r AS MATERIALIZED (
           |  SELECT e.src AS doc_id FROM sym e
           |  JOIN $prev a ON e.src = a.doc_id
           |  JOIN $prev b ON e.dst = b.doc_id
           |  GROUP BY 1 HAVING count(*) >= $k)""".stripMargin
      }).mkString(",\n")
      s"""$shingleCte,
         |$lshScoredCtes,
         |pairs AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
         |sym AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |v0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id FROM sym),
         |$peels
         |SELECT v.doc_id,
         |  CAST(CASE WHEN s3.doc_id IS NOT NULL THEN 3
         |            WHEN s2.doc_id IS NOT NULL THEN 2
         |            ELSE 1 END AS BIGINT) AS coreness
         |FROM v0 v
         |LEFT JOIN s3_$CorenessRounds s3 ON v.doc_id = s3.doc_id
         |LEFT JOIN s2_$CorenessRounds s2 ON v.doc_id = s2.doc_id
         |ORDER BY v.doc_id""".stripMargin
    },
    "neardup_pagerank" -> {
      val S = PagerankScale
      // unrolled 3-iteration integer recurrence, one (c_k, r_k) CTE
      // pair per round — the same fixed-point arithmetic as the Spark
      // side, floor division throughout
      val iterCtes = (1 to 3).map { k =>
        val prev = if (k == 1) "r0" else s"r${k - 1}"
        s"""c$k AS (
           |  SELECT e.dst AS doc_id, sum(r.r // d.degree) AS c
           |  FROM edges e
           |  JOIN $prev r ON e.src = r.doc_id
           |  JOIN deg d ON e.src = d.src
           |  GROUP BY 1),
           |r$k AS (
           |  SELECT p.doc_id,
           |    CAST((15 * ($S // nn.n) + 85 * coalesce(c$k.c, 0)) // 100
           |      AS BIGINT) AS r
           |  FROM $prev p LEFT JOIN c$k USING (doc_id), nn)""".stripMargin
      }.mkString(",\n")
      s"""$shingleCte,
         |$lshScoredCtes,
         |pairs AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT src AS doc_id, CAST($S // nn.n AS BIGINT) AS r
         |       FROM deg, nn),
         |$iterCtes
         |SELECT r3.doc_id, CAST(d.degree AS BIGINT) AS degree,
         |  r3.r AS rank_scaled
         |FROM r3 JOIN deg d ON r3.doc_id = d.src ORDER BY doc_id""".stripMargin
    },
    "neardup_triangles" ->
      s"""$shingleCte,
         |$lshScoredCtes,
         |pairs AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
         |tri AS (
         |  SELECT count(*) AS n_triangles
         |  FROM pairs e1
         |  JOIN pairs e2 ON e1.doc_b = e2.doc_a
         |  JOIN pairs e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b),
         |deg AS (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT doc_a AS v FROM pairs
         |    UNION ALL SELECT doc_b FROM pairs) GROUP BY 1),
         |w AS (
         |  SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
         |    CAST(sum(d) // 2 AS BIGINT) AS n_edges
         |  FROM deg)
         |SELECT w.n_edges, tri.n_triangles, w.n_wedges,
         |  CASE WHEN w.n_wedges > 0 THEN ${graft.functions.ScalarFns.roundSql(
            "3.0 * CAST(tri.n_triangles AS DOUBLE) / CAST(w.n_wedges AS DOUBLE)",
            6)} ELSE 0.0 END AS transitivity
         |FROM w CROSS JOIN tri ORDER BY n_edges""".stripMargin,
    // the closure + the doc_quality tokenizer twins: keeper = most
    // tokens, most stopwords, smallest doc_id — identical windows
    "neardup_survivors" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$lshScoredCtes,
         |$clusterClosureCtes,
         |q AS (
         |  SELECT doc_id,
         |    CAST(len(t) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(t, x -> x IN (${TextOps.stopArrSql})))
         |      AS BIGINT) AS n_stop
         |  FROM (SELECT doc_id,
         |          list_filter(string_split(text, ' '), x -> x <> '') AS t
         |        FROM documents)),
         |m AS (
         |  SELECT c.cluster, c.doc_id, q.n_tokens, q.n_stop,
         |    count(*) OVER (PARTITION BY c.cluster) AS n_members,
         |    sum(q.n_tokens) OVER (PARTITION BY c.cluster)
         |      AS cluster_tokens,
         |    row_number() OVER (PARTITION BY c.cluster
         |      ORDER BY q.n_tokens DESC, q.n_stop DESC, c.doc_id) AS rk
         |  FROM clu c JOIN q ON q.doc_id = c.doc_id)
         |SELECT cluster, CAST(n_members AS BIGINT) AS n_members,
         |  doc_id AS keeper_doc, n_tokens AS keeper_tokens,
         |  CAST(cluster_tokens - n_tokens AS BIGINT) AS dropped_tokens
         |FROM m WHERE rk = 1 AND n_members > 1
         |ORDER BY cluster""".stripMargin,
    // connected components over the thresholded pair graph: recursive
    // transitive closure, component label = min reachable doc
    "neardup_clusters" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$lshScoredCtes,
         |$clusterClosureCtes
         |SELECT doc_id, cluster FROM clu ORDER BY 1""".stripMargin,
    // same closure + Knuth-hash negative arithmetic as the Spark side;
    // cluster-level exclusion makes false negatives impossible
    "contrastive_pairs" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$lshScoredCtes,
         |$clusterClosureCtes,
         |pos AS (
         |  SELECT doc_a, doc_b, CAST(1 AS BIGINT) AS label
         |  FROM scored WHERE jaccard >= 0.5),
         |nn2 AS (SELECT count(*) AS n FROM documents),
         |ncand AS (
         |  SELECT DISTINCT least(raw.doc_id, raw.b0) AS doc_a,
         |    greatest(raw.doc_id, raw.b0) AS doc_b
         |  FROM (
         |    SELECT d.doc_id,
         |      CAST((CAST(d.doc_id AS HUGEINT) * $NegMul
         |        + $NegStep * js.j + $NegOff) % nn2.n AS BIGINT) AS b0
         |    FROM documents d, nn2, (SELECT unnest([0, 1]) AS j) js) raw
         |  WHERE raw.doc_id <> raw.b0),
         |neg AS (
         |  SELECT c.doc_a, c.doc_b, CAST(0 AS BIGINT) AS label
         |  FROM ncand c
         |  JOIN clu a ON c.doc_a = a.doc_id
         |  JOIN clu b ON c.doc_b = b.doc_id
         |  WHERE a.cluster <> b.cluster)
         |SELECT label, doc_a, doc_b FROM (
         |  SELECT * FROM pos UNION ALL SELECT * FROM neg)
         |ORDER BY label DESC, doc_a, doc_b""".stripMargin,
    // same closure oracle — the loop-forced twin must land on the
    // identical labels the gate's local path produces
    "neardup_clusters_loop" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$lshScoredCtes,
         |$clusterClosureCtes
         |SELECT doc_id, cluster FROM clu ORDER BY 1""".stripMargin,
    // split = pure hash of the CLUSTER label (leakage-safe by
    // construction); same md5-hex-threshold arithmetic as the query
    "split_stats" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$lshScoredCtes,
         |$clusterClosureCtes,
         |assigned AS (
         |  SELECT doc_id, cluster, $duckSplitOfCluster AS split FROM clu)
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT cluster) AS n_clusters
         |FROM assigned GROUP BY 1 ORDER BY 1""".stripMargin,
    "split_audit" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$lshScoredCtes,
         |$clusterClosureCtes,
         |schemes AS (
         |  SELECT 'by_cluster' AS scheme, doc_id, cluster,
         |    $duckSplitOfCluster AS split FROM clu
         |  UNION ALL
         |  SELECT 'by_doc', doc_id, cluster,
         |    ${duckSplitOf("doc_id")} FROM clu),
         |per AS (
         |  SELECT scheme, cluster, count(*) AS n_docs,
         |    count(DISTINCT split) AS n_splits
         |  FROM schemes GROUP BY 1, 2)
         |SELECT scheme,
         |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_multi_doc_clusters,
         |  CAST(sum(CASE WHEN n_docs > 1 AND n_splits > 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_leaky_clusters
         |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    // the full curation pipeline: cluster closure + normalization +
    // quality rule + staged keeper windows, mirrored stage for stage
    "pipeline_yield" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$lshScoredCtes,
         |$clusterClosureCtes,
         |docs2 AS (
         |  SELECT doc_id, source, ${TextOps.normSql("text")} AS norm,
         |    len(list_filter(string_split(text, ' '), x -> x <> ''))
         |      >= ${TextOps.QualityMinTokens} AS q_pass
         |  FROM documents),
         |f1 AS (
         |  SELECT d.*, c.cluster,
         |    row_number() OVER (PARTITION BY d.q_pass, d.norm
         |      ORDER BY d.doc_id) AS exact_rn
         |  FROM docs2 d JOIN clu c ON d.doc_id = c.doc_id),
         |f2 AS (SELECT *, (q_pass AND exact_rn = 1) AS exact_keep FROM f1),
         |f3 AS (
         |  SELECT *, row_number() OVER (PARTITION BY exact_keep, cluster
         |    ORDER BY doc_id) AS final_rn FROM f2),
         |f4 AS (SELECT *, (exact_keep AND final_rn = 1) AS final_keep FROM f3)
         |SELECT source, count(*) AS n_raw,
         |  CAST(sum(CASE WHEN q_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(sum(CASE WHEN exact_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN final_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_final
         |FROM f4 GROUP BY 1 ORDER BY 1""".stripMargin,
    "pq_codes" ->
      s"""WITH $pqCtes
         |SELECT vec_id, c0, c1, c2, c3 FROM wide ORDER BY vec_id""".stripMargin,
    // learned codebook dump: every (m, code, dim) mean value at 6 dp +
    // the member count — the fixed-point sums make both engines land
    // on the identical double before rounding
    "pq_codebook_learned" ->
      s"""WITH $pqCtes,
         |${pqLearnedCbCtes()}
         |SELECT m, code, j, n AS n_members,
         |  ${graft.functions.ScalarFns.roundSql(
              s"CAST(sfix AS DOUBLE) / n / CAST($PqScale AS DOUBLE)", 6)} AS cvj
         |FROM lflat ORDER BY m, code, j""".stripMargin,
    "pq_codes_learned" ->
      s"""WITH $pqCtes,
         |${pqLearnedCbCtes()},
         |${pqLearnedEncCtes()}
         |SELECT vec_id, c0, c1, c2, c3 FROM lwide ORDER BY vec_id""".stripMargin,
    // the round-2 encode: argmin under the iterated codebook (absent
    // lcb2 entries simply never win — join semantics shared by both
    // engines)
    "pq_codes_learned2" ->
      s"""WITH $pqCtes,
         |${pqLearnedCbCtes()},
         |${pqLearnedEncCtes()},
         |$pqLearned2Ctes
         |SELECT vec_id, c0, c1, c2, c3 FROM lwide2 ORDER BY vec_id""".stripMargin,
    // round-2 codebook: the M-step re-run over the ROUND-1 encode —
    // per-subspace k-means iterated (absent rows = entries that lost
    // every member; both engines share the join semantics)
    "pq_codebook_learned2" ->
      s"""WITH $pqCtes,
         |${pqLearnedCbCtes()},
         |${pqLearnedEncCtes()},
         |${pqLearnedCbCtes(src = "lenc", suf = "2")}
         |SELECT m, code, j, n AS n_members,
         |  ${graft.functions.ScalarFns.roundSql(
              s"CAST(sfix AS DOUBLE) / n / CAST($PqScale AS DOUBLE)", 6)} AS cvj
         |FROM lflat2 ORDER BY m, code, j""".stripMargin,
    "pq_topk_learned" ->
      s"""WITH $pqCtes,
         |${pqLearnedCbCtes()},
         |${pqLearnedEncCtes()},
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |${pqLearnedDtCte()},
         |${pqLearnedAdcCte()}
         |SELECT vec_id, adc AS adc_dist FROM ladc_all
         |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin,
    // ADC: four table lookups + one FIXED-ORDER sum (never an agg over
    // the 4 terms — partition fold order could flip argmin ties)
    "pq_topk" ->
      s"""WITH $pqCtes,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |dt AS (
         |  SELECT c.code,
         |${(0 until PqM).map(m =>
              s"    ${duckSqDist("q.qv", "c.cv", m * PqSub + 1, (m + 1) * PqSub)} AS qd$m")
              .mkString(",\n")}
         |  FROM cb c, q)
         |SELECT w.vec_id,
         |  ${graft.functions.ScalarFns.roundSql(
              "t0.qd0 + t1.qd1 + t2.qd2 + t3.qd3", 6)} AS adc_dist
         |FROM wide w
         |JOIN dt t0 ON w.c0 = t0.code
         |JOIN dt t1 ON w.c1 = t1.code
         |JOIN dt t2 ON w.c2 = t2.code
         |JOIN dt t3 ON w.c3 = t3.code
         |WHERE w.vec_id <> 0
         |ORDER BY adc_dist, w.vec_id LIMIT 10""".stripMargin,
    // IVF routing + ADC scoring composed — candidates from the query's
    // coarse bucket, distances from the PQ table (same fixed-order sum)
    "ivfpq_topk" ->
      s"""$ivfCte,
         |$pqCtes,
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |dt AS (
         |  SELECT c.code,
         |${(0 until PqM).map(m =>
              s"    ${duckSqDist("q.qv", "c.cv", m * PqSub + 1, (m + 1) * PqSub)} AS qd$m")
              .mkString(",\n")}
         |  FROM cb c, q),
         |qb AS (SELECT cid FROM assign WHERE vec_id = 0),
         |cands AS (SELECT a.vec_id FROM assign a JOIN qb ON a.cid = qb.cid
         |          WHERE a.vec_id <> 0)
         |SELECT w.vec_id,
         |  ${graft.functions.ScalarFns.roundSql(
              "t0.qd0 + t1.qd1 + t2.qd2 + t3.qd3", 6)} AS adc_dist
         |FROM wide w
         |JOIN cands ON w.vec_id = cands.vec_id
         |JOIN dt t0 ON w.c0 = t0.code
         |JOIN dt t1 ON w.c1 = t1.code
         |JOIN dt t2 ON w.c2 = t2.code
         |JOIN dt t3 ON w.c3 = t3.code
         |ORDER BY adc_dist, w.vec_id LIMIT 10""".stripMargin,
    // recall@10 of the composed IVFADC against exact L2 top-10 (the
    // ivfpq oracle chain verbatim as a CTE, intersected with an exact
    // ranking on the same metric and fold order)
    // same fixed-point per-(label, half, dim) BIGINT sums; one double
    // division at the end from identical integer inputs
    "embedding_centroid_drift" ->
      s"""WITH h AS (
         |  SELECT CAST(label AS BIGINT) AS label,
         |    CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'
         |         THEN 1 ELSE 2 END AS half,
         |    embedding
         |  FROM embeddings),
         |s AS (
         |  SELECT label, half, t.j,
         |    sum(CAST(floor(CAST(embedding[t.j] AS DOUBLE)
         |      * CAST($PqScale AS DOUBLE) + 0.5) AS BIGINT)) AS sfix
         |  FROM h CROSS JOIN generate_series(1, $VecDims) AS t(j)
         |  GROUP BY 1, 2, 3),
         |d AS (
         |  SELECT a.label,
         |    CAST(sum(a.sfix * b.sfix) AS BIGINT) AS dot,
         |    CAST(sum(a.sfix * a.sfix) AS BIGINT) AS n1sq,
         |    CAST(sum(b.sfix * b.sfix) AS BIGINT) AS n2sq
         |  FROM s a JOIN s b ON a.label = b.label AND a.j = b.j
         |    AND a.half = 1 AND b.half = 2
         |  GROUP BY 1),
         |c AS (
         |  SELECT label,
         |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_h1,
         |    CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_h2
         |  FROM h GROUP BY 1)
         |SELECT c.label, c.n_h1, c.n_h2,
         |  ${graft.functions.ScalarFns.roundSql(
            "CAST(dot AS DOUBLE) / (sqrt(CAST(n1sq AS DOUBLE)) " +
              "* sqrt(CAST(n2sq AS DOUBLE)))", 6)} AS centroid_cos
         |FROM c JOIN d ON c.label = d.label
         |ORDER BY c.label""".stripMargin,
    // LOO kNN vote, total orders restated: neighbor rank (cos desc,
    // cid), vote (count desc, smallest label)
    "knn_label_confusion" ->
      s"""WITH $knnPredCtes
         |SELECT label_true, label_pred, CAST(count(*) AS BIGINT) AS n_vecs
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "knn_f1_by_class" ->
      s"""WITH $knnPredCtes,
         |t AS (
         |  SELECT label_true AS label, CAST(count(*) AS BIGINT) AS n_true,
         |    CAST(sum(CASE WHEN label_pred = label_true THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tp
         |  FROM p GROUP BY 1),
         |pr AS (
         |  SELECT label_pred AS label, CAST(count(*) AS BIGINT) AS n_pred
         |  FROM p GROUP BY 1),
         |m AS (
         |  SELECT COALESCE(t.label, pr.label) AS label,
         |    COALESCE(t.n_true, 0) AS n_true,
         |    COALESCE(t.tp, 0) AS tp,
         |    COALESCE(pr.n_pred, 0) - COALESCE(t.tp, 0) AS fp,
         |    COALESCE(t.n_true, 0) - COALESCE(t.tp, 0) AS fn
         |  FROM t FULL OUTER JOIN pr ON t.label = pr.label)
         |SELECT label, n_true, tp, fp, fn,
         |  CAST(CASE WHEN tp + fp = 0 THEN 0
         |    ELSE (tp * 1000000) // (tp + fp) END AS BIGINT)
         |    AS precision_ppm,
         |  CAST(CASE WHEN tp + fn = 0 THEN 0
         |    ELSE (tp * 1000000) // (tp + fn) END AS BIGINT) AS recall_ppm,
         |  CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
         |    ELSE (2 * tp * 1000000) // (2 * tp + fp + fn) END AS BIGINT)
         |    AS f1_ppm
         |FROM m ORDER BY label""".stripMargin,
    // nDCG@10 over the same board: ranks re-derived from each method
    // list's kept adc, binary relevance = exact-set membership,
    // integer DCG weights shared with the Spark side
    "pq_ndcg" -> {
      val weightCase = DcgWeights.zipWithIndex
        .map { case (wt, i) => s"WHEN ${i + 1} THEN $wt" }
        .mkString("CASE r.rk ", " ", " ELSE 0 END")
      val lists = Seq(
        "adc_exhaustive" -> "approx_ex", "ivfadc" -> "approx_ivf",
        "ivfadc_probe2" -> "approx_ivf2", "ivfadc_probe4" -> "approx_ivf4",
        "adc_exhaustive_learned" -> "lapprox_ex",
        "ivfadc_learned" -> "lapprox_ivf",
        "adc_exhaustive_learned2" -> "lapprox_ex2")
        .map { case (m, cte) =>
          s"""  SELECT '$m' AS method, vec_id,
             |    row_number() OVER (ORDER BY adc, vec_id) AS rk
             |  FROM $cte""".stripMargin }
        .mkString("\nUNION ALL\n")
      val dim = PqMethods.map(m => s"('$m')").mkString(", ")
      s"""$pqBoardCtes,
         |ranked AS (
         |$lists),
         |d AS (
         |  SELECT r.method, sum($weightCase) AS dcg
         |  FROM ranked r JOIN exact x ON r.vec_id = x.vec_id
         |  GROUP BY 1)
         |SELECT mm.method, CAST(10 AS BIGINT) AS k,
         |  CAST((CAST(coalesce(d.dcg, 0) AS HUGEINT) * 1000000)
         |    // $IdcgScaled AS BIGINT) AS ndcg_ppm
         |FROM (VALUES $dim) mm(method) LEFT JOIN d ON mm.method = d.method
         |ORDER BY mm.method""".stripMargin
    },
    "pq_recall" ->
      s"""$pqBoardCtes,
         |hits AS (
         |  SELECT 'adc_exhaustive' AS method, count(*) AS n_hits
         |  FROM exact x JOIN approx_ex a ON x.vec_id = a.vec_id
         |  UNION ALL
         |  SELECT 'ivfadc', count(*)
         |  FROM exact x JOIN approx_ivf a ON x.vec_id = a.vec_id
         |  UNION ALL
         |  SELECT 'ivfadc_probe2', count(*)
         |  FROM exact x JOIN approx_ivf2 a ON x.vec_id = a.vec_id
         |  UNION ALL
         |  SELECT 'ivfadc_probe4', count(*)
         |  FROM exact x JOIN approx_ivf4 a ON x.vec_id = a.vec_id
         |  UNION ALL
         |  SELECT 'adc_exhaustive_learned', count(*)
         |  FROM exact x JOIN lapprox_ex a ON x.vec_id = a.vec_id
         |  UNION ALL
         |  SELECT 'ivfadc_learned', count(*)
         |  FROM exact x JOIN lapprox_ivf a ON x.vec_id = a.vec_id
         |  UNION ALL
         |  SELECT 'adc_exhaustive_learned2', count(*)
         |  FROM exact x JOIN lapprox_ex2 a ON x.vec_id = a.vec_id)
         |SELECT method, CAST(10 AS BIGINT) AS k, n_hits,
         |  ${graft.functions.ScalarFns.roundSql(
              "CAST(n_hits AS DOUBLE) / 10", 2)} AS recall_at_k
         |FROM hits ORDER BY method""".stripMargin,
    "cosine_topk_ivf" ->
      s"""$ivfCte,
         |qb AS (SELECT cid FROM assign WHERE vec_id = 0),
         |cands AS (SELECT a.vec_id FROM assign a JOIN qb ON a.cid = qb.cid
         |          WHERE a.vec_id <> 0),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("e.embedding", "q.qv")}
                 |    / (sqrt(${duckDot("e.embedding", "e.embedding")})
                 |       * sqrt(${duckDot("q.qv", "q.qv")}))""".stripMargin, 6)} AS cosine_sim
         |FROM embeddings e JOIN cands ON e.vec_id = cands.vec_id, q
         |ORDER BY cosine_sim DESC, e.vec_id LIMIT 10""".stripMargin,
    "cosine_topk_ivf2" ->
      s"""$ivfCte,
         |qb AS (SELECT cid FROM (
         |  SELECT cid, row_number() OVER (ORDER BY s DESC, cid) AS rn
         |  FROM sims WHERE vec_id = 0) WHERE rn <= 2),
         |cands AS (SELECT a.vec_id FROM assign a JOIN qb ON a.cid = qb.cid
         |          WHERE a.vec_id <> 0),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("e.embedding", "q.qv")}
                 |    / (sqrt(${duckDot("e.embedding", "e.embedding")})
                 |       * sqrt(${duckDot("q.qv", "q.qv")}))""".stripMargin, 6)} AS cosine_sim
         |FROM embeddings e JOIN cands ON e.vec_id = cands.vec_id, q
         |ORDER BY cosine_sim DESC, e.vec_id LIMIT 10""".stripMargin,
    "embedding_neardup" ->
      s"""$ivfCte,
         |pairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM assign a JOIN assign b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT p.vec_a, p.vec_b,
         |    ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("ea.embedding", "eb.embedding")}
                 |      / (sqrt(${duckDot("ea.embedding", "ea.embedding")})
                 |         * sqrt(${duckDot("eb.embedding", "eb.embedding")}))""".stripMargin, 6)} AS cosine_sim
         |  FROM pairs p
         |  JOIN embeddings ea ON ea.vec_id = p.vec_a
         |  JOIN embeddings eb ON eb.vec_id = p.vec_b)
         |SELECT vec_a, vec_b, cosine_sim FROM scored
         |WHERE cosine_sim >= 0.3
         |ORDER BY vec_a, vec_b""".stripMargin,
    "embedding_clusters" ->
      s"""${ivfCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |ep AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM assign a JOIN assign b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |escore AS (
         |  SELECT p.vec_a, p.vec_b,
         |    ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("ea.embedding", "eb.embedding")}
                 |      / (sqrt(${duckDot("ea.embedding", "ea.embedding")})
                 |         * sqrt(${duckDot("eb.embedding", "eb.embedding")}))""".stripMargin, 6)} AS cosine_sim
         |  FROM ep p
         |  JOIN embeddings ea ON ea.vec_id = p.vec_a
         |  JOIN embeddings eb ON eb.vec_id = p.vec_b),
         |epairs AS (SELECT vec_a, vec_b FROM escore WHERE cosine_sim >= 0.3),
         |edges AS (SELECT vec_a AS s, vec_b AS d FROM epairs
         |          UNION ALL SELECT vec_b, vec_a FROM epairs),
         |nodes AS (SELECT DISTINCT vec_id FROM embeddings),
         |reach AS (
         |  SELECT vec_id, vec_id AS r FROM nodes
         |  UNION
         |  SELECT e.s AS vec_id, reach.r
         |  FROM reach JOIN edges e ON reach.vec_id = e.d)
         |SELECT vec_id, min(r) AS cluster FROM reach
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // SemDeDup: the pair evidence with the election keys; centsim is
    // ONE cosine per vector (assigned centroid only), twin of
    // assignCentroidSim
    "semantic_dedup_pairs" ->
      s"""$ivfCte,
         |pr AS (
         |  SELECT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM assign a JOIN assign b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT p.cid, p.vec_a, p.vec_b,
         |    ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("ea.embedding", "eb.embedding")}
                 |      / (sqrt(${duckDot("ea.embedding", "ea.embedding")})
                 |         * sqrt(${duckDot("eb.embedding", "eb.embedding")}))""".stripMargin, 6)} AS cosine_sim
         |  FROM pr p
         |  JOIN embeddings ea ON ea.vec_id = p.vec_a
         |  JOIN embeddings eb ON eb.vec_id = p.vec_b),
         |centsim AS (
         |  SELECT a.vec_id,
         |    ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("e.embedding", "c.cv")}
                 |      / (sqrt(${duckDot("e.embedding", "e.embedding")})
                 |         * sqrt(${duckDot("c.cv", "c.cv")}))""".stripMargin, 6)} AS cent_sim
         |  FROM assign a
         |  JOIN embeddings e ON e.vec_id = a.vec_id
         |  JOIN cent c ON c.cid = a.cid)
         |SELECT s.cid, s.vec_a, s.vec_b, s.cosine_sim,
         |  ca.cent_sim AS cent_sim_a, cb.cent_sim AS cent_sim_b
         |FROM scored s
         |JOIN centsim ca ON ca.vec_id = s.vec_a
         |JOIN centsim cb ON cb.vec_id = s.vec_b
         |WHERE s.cosine_sim >= 0.3
         |ORDER BY vec_a, vec_b""".stripMargin,
    // SemDeDup survivorship: closure over the same pair graph as
    // embedding_clusters, then the paper's election — keeper = lowest
    // centroid similarity, ties to the smaller vec_id
    "semantic_dedup_survivors" ->
      s"""${ivfCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |ep AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM assign a JOIN assign b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |escore AS (
         |  SELECT p.vec_a, p.vec_b,
         |    ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("ea.embedding", "eb.embedding")}
                 |      / (sqrt(${duckDot("ea.embedding", "ea.embedding")})
                 |         * sqrt(${duckDot("eb.embedding", "eb.embedding")}))""".stripMargin, 6)} AS cosine_sim
         |  FROM ep p
         |  JOIN embeddings ea ON ea.vec_id = p.vec_a
         |  JOIN embeddings eb ON eb.vec_id = p.vec_b),
         |epairs AS (SELECT vec_a, vec_b FROM escore WHERE cosine_sim >= 0.3),
         |edges AS (SELECT vec_a AS s, vec_b AS d FROM epairs
         |          UNION ALL SELECT vec_b, vec_a FROM epairs),
         |nodes AS (SELECT DISTINCT vec_id FROM embeddings),
         |reach AS (
         |  SELECT vec_id, vec_id AS r FROM nodes
         |  UNION
         |  SELECT e.s AS vec_id, reach.r
         |  FROM reach JOIN edges e ON reach.vec_id = e.d),
         |eclu AS (SELECT vec_id, min(r) AS component FROM reach GROUP BY 1),
         |centsim AS (
         |  SELECT a.vec_id,
         |    ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("e.embedding", "c.cv")}
                 |      / (sqrt(${duckDot("e.embedding", "e.embedding")})
                 |         * sqrt(${duckDot("c.cv", "c.cv")}))""".stripMargin, 6)} AS cent_sim
         |  FROM assign a
         |  JOIN embeddings e ON e.vec_id = a.vec_id
         |  JOIN cent c ON c.cid = a.cid),
         |m AS (
         |  SELECT c.component, c.vec_id, cs.cent_sim,
         |    count(*) OVER (PARTITION BY c.component) AS n_members,
         |    row_number() OVER (PARTITION BY c.component
         |      ORDER BY cs.cent_sim ASC, c.vec_id) AS rk
         |  FROM eclu c JOIN centsim cs ON cs.vec_id = c.vec_id)
         |SELECT component, CAST(n_members AS BIGINT) AS n_members,
         |  vec_id AS keeper_vec, cent_sim AS keeper_cent_sim,
         |  CAST(n_members - 1 AS BIGINT) AS dropped_vecs
         |FROM m WHERE rk = 1 AND n_members > 1
         |ORDER BY component""".stripMargin,
    // hard negatives: the identical candidate/closure chain, then both
    // per-anchor elections as windows — pos over the ≥0.3 arm, neg over
    // the cross-component arm
    "hard_negatives" ->
      s"""${ivfCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |pr AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM assign a JOIN assign b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT p.vec_a, p.vec_b,
         |    ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("ea.embedding", "eb.embedding")}
                 |      / (sqrt(${duckDot("ea.embedding", "ea.embedding")})
                 |         * sqrt(${duckDot("eb.embedding", "eb.embedding")}))""".stripMargin, 6)} AS cosine_sim
         |  FROM pr p
         |  JOIN embeddings ea ON ea.vec_id = p.vec_a
         |  JOIN embeddings eb ON eb.vec_id = p.vec_b),
         |sym AS (
         |  SELECT vec_a AS anchor, vec_b AS partner, cosine_sim
         |    FROM scored
         |  UNION ALL
         |  SELECT vec_b, vec_a, cosine_sim FROM scored),
         |epairs AS (SELECT vec_a, vec_b FROM scored
         |  WHERE cosine_sim >= 0.3),
         |edges AS (SELECT vec_a AS s, vec_b AS d FROM epairs
         |          UNION ALL SELECT vec_b, vec_a FROM epairs),
         |nodes AS (SELECT DISTINCT vec_id FROM embeddings),
         |reach AS (
         |  SELECT vec_id, vec_id AS r FROM nodes
         |  UNION
         |  SELECT e.s AS vec_id, reach.r
         |  FROM reach JOIN edges e ON reach.vec_id = e.d),
         |eclu AS (SELECT vec_id, min(r) AS component FROM reach GROUP BY 1),
         |bp AS (
         |  SELECT anchor, partner AS pos_vec, cosine_sim AS pos_cos,
         |    row_number() OVER (PARTITION BY anchor
         |      ORDER BY cosine_sim DESC, partner) AS rk
         |  FROM sym WHERE cosine_sim >= 0.3),
         |bn AS (
         |  SELECT s.anchor, s.partner AS neg_vec, s.cosine_sim AS neg_cos,
         |    row_number() OVER (PARTITION BY s.anchor
         |      ORDER BY s.cosine_sim DESC, s.partner) AS rk
         |  FROM sym s
         |  JOIN eclu ca ON ca.vec_id = s.anchor
         |  JOIN eclu cb ON cb.vec_id = s.partner
         |  WHERE ca.component <> cb.component)
         |SELECT bp.anchor AS anchor_vec, bp.pos_vec, bp.pos_cos,
         |  bn.neg_vec, bn.neg_cos,
         |  ${graft.functions.ScalarFns.roundSql("bp.pos_cos - bn.neg_cos", 6)} AS margin
         |FROM bp JOIN bn ON bn.anchor = bp.anchor
         |WHERE bp.rk = 1 AND bn.rk = 1
         |ORDER BY anchor_vec""".stripMargin,
    // simplified silhouette: the same sims sweep, rounded per pair,
    // then own/other aggregation and the exact-ppm per-point score
    "silhouette_by_cell" ->
      s"""$ivfCte,
         |rsim AS (SELECT vec_id, cid,
         |    ${graft.functions.ScalarFns.roundSql("s", 6)} AS cs
         |  FROM sims),
         |ag AS (
         |  SELECT r.vec_id, a.cid AS acid,
         |    max(CASE WHEN r.cid = a.cid THEN r.cs END) AS cos_own,
         |    max(CASE WHEN r.cid <> a.cid THEN r.cs END) AS cos_other
         |  FROM rsim r JOIN assign a ON a.vec_id = r.vec_id
         |  GROUP BY 1, 2),
         |sp AS (
         |  SELECT acid,
         |    CASE WHEN greatest(1 - cos_own, 1 - cos_other) = 0 THEN 0
         |      ELSE CAST(floor(1000000.0 * (cos_own - cos_other)
         |        / greatest(1 - cos_own, 1 - cos_other) + 0.5) AS BIGINT)
         |    END AS s_ppm
         |  FROM ag)
         |SELECT acid AS cid, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(sum(s_ppm) AS BIGINT) AS sum_s_ppm
         |FROM sp GROUP BY 1 ORDER BY cid""".stripMargin,
    // class prototypes: the kmeans M-step's fixed-point centroid build
    // keyed by LABEL, then the rounded kernel + per-label top-3
    "label_prototypes" ->
      s"""WITH mem AS (
         |  SELECT e.label, t.j,
         |    sum(CAST(floor(CAST(e.embedding[t.j] AS DOUBLE)
         |      * CAST($PqScale AS DOUBLE) + 0.5) AS BIGINT)) AS sfix
         |  FROM embeddings e
         |  CROSS JOIN generate_series(1, $VecDims) AS t(j)
         |  GROUP BY 1, 2),
         |cent AS (
         |  SELECT label,
         |    list(CAST(CAST(sfix AS DOUBLE) / CAST($PqScale AS DOUBLE)
         |      AS FLOAT) ORDER BY j) AS cv
         |  FROM mem GROUP BY 1),
         |sc AS (
         |  SELECT e.label, e.vec_id,
         |    ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("e.embedding", "c.cv")}
                 |      / (sqrt(${duckDot("e.embedding", "e.embedding")})
                 |         * sqrt(${duckDot("c.cv", "c.cv")}))""".stripMargin, 6)} AS cent_cos
         |  FROM embeddings e JOIN cent c ON c.label = e.label),
         |rk AS (
         |  SELECT label, vec_id, cent_cos,
         |    row_number() OVER (PARTITION BY label
         |      ORDER BY cent_cos DESC, vec_id) AS rk
         |  FROM sc)
         |SELECT label, CAST(rk AS BIGINT) AS rank, vec_id, cent_cos
         |FROM rk WHERE rk <= 3 ORDER BY label, rank""".stripMargin,
    "cosine_topk_batch" ->
      s"""$ivfCte,
         |q AS (
         |  SELECT e.vec_id AS query_id, a.cid, e.embedding AS qv
         |  FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
         |  WHERE e.vec_id < 8),
         |cands AS (
         |  SELECT q.query_id, a.vec_id, q.qv
         |  FROM assign a JOIN q ON a.cid = q.cid
         |  WHERE a.vec_id <> q.query_id),
         |bscore AS (
         |  SELECT c.query_id, c.vec_id,
         |    ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("e.embedding", "c.qv")}
                 |      / (sqrt(${duckDot("e.embedding", "e.embedding")})
                 |         * sqrt(${duckDot("c.qv", "c.qv")}))""".stripMargin, 6)} AS cosine_sim
         |  FROM cands c JOIN embeddings e ON e.vec_id = c.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, cosine_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine_sim DESC, vec_id) AS rnk
         |  FROM bscore)
         |SELECT query_id, CAST(rnk AS BIGINT) AS "rank", vec_id, cosine_sim
         |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    "cosine_topk_kmeans" ->
      s"""$kmeansCte,
         |qb AS (SELECT cid FROM assign1 WHERE vec_id = 0),
         |cands AS (SELECT a.vec_id FROM assign1 a JOIN qb ON a.cid = qb.cid
         |          WHERE a.vec_id <> 0),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("e.embedding", "q.qv")}
                 |    / (sqrt(${duckDot("e.embedding", "e.embedding")})
                 |       * sqrt(${duckDot("q.qv", "q.qv")}))""".stripMargin, 6)} AS cosine_sim
         |FROM embeddings e JOIN cands ON e.vec_id = cands.vec_id, q
         |ORDER BY cosine_sim DESC, e.vec_id LIMIT 10""".stripMargin,
    "kmeans_shift" ->
      s"""$kmeansCte
         |SELECT c.cid,
         |  ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("e.embedding", "c.cv")}
                 |    / (sqrt(${duckDot("e.embedding", "e.embedding")})
                 |       * sqrt(${duckDot("c.cv", "c.cv")}))""".stripMargin, 6)} AS drift
         |FROM cent1 c JOIN embeddings e ON e.vec_id = c.cid
         |ORDER BY c.cid""".stripMargin,
    // the unrolled KmeansRounds-round chain; drift r = cosine between
    // round r's centroid sum and its round r−1 predecessor (seed
    // embedding for r = 1 — identical formula to kmeans_shift)
    "kmeans_rounds" ->
      s"""${kmeansCteR(KmeansRounds)},
         |${duckDriftAllCte(KmeansRounds)}
         |SELECT round, cid, drift FROM drift_all
         |ORDER BY round, cid""".stripMargin,
    // the CONVERGENCE CONTROL LOOP graded (r4 brief #4): unroll
    // KmeansMaxRounds E+M pairs, per-round min 6-dp drift, rounds_run =
    // first round at/above 1−eps (or the cap) — the oracle applies the
    // identical threshold to the identical rounded drifts, so the
    // loop's stopping decision itself is hash-checked
    "kmeans_converged_rounds" ->
      s"""${kmeansCteR(KmeansMaxRounds)},
         |${duckDriftAllCte(KmeansMaxRounds)},
         |mins AS (
         |  SELECT round, min(drift) AS d FROM drift_all GROUP BY 1),
         |conv AS (
         |  SELECT min(round) AS rc FROM mins WHERE d >= 1.0 - $KmeansEps),
         |pick AS (
         |  SELECT COALESCE(rc, CAST($KmeansMaxRounds AS BIGINT)) AS rounds_run
         |  FROM conv)
         |SELECT p.rounds_run, m.d AS min_drift
         |FROM pick p JOIN mins m ON m.round = p.rounds_run
         |ORDER BY rounds_run""".stripMargin,
    "kmeans_converged_assign" ->
      s"""${kmeansCteR(KmeansRounds)}
         |SELECT vec_id, cid FROM assign$KmeansRounds
         |ORDER BY vec_id""".stripMargin,
    "cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  ${graft.functions.ScalarFns.roundSql(
              s"""${duckDot("e.embedding", "q.qv")}
                 |    / (sqrt(${duckDot("e.embedding", "e.embedding")})
                 |       * sqrt(${duckDot("q.qv", "q.qv")}))""".stripMargin, 6)} AS cosine_sim
         |FROM embeddings e, q
         |WHERE e.vec_id <> 0
         |ORDER BY cosine_sim DESC, vec_id LIMIT 10""".stripMargin,
    "multimodal_join" ->
      s"""SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
         |  CAST(len(e.embedding) AS BIGINT) AS emb_dim,
         |  ${graft.functions.ScalarFns.roundSql(
              s"sqrt(${duckDot("e.embedding", "e.embedding")})", 6)} AS emb_norm
         |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
         |ORDER BY d.doc_id""".stripMargin)
}
