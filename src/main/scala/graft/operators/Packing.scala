package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SEQUENCE PACKING — the concat-and-chunk step an LLM pretraining
  * pipeline runs between curation and the trainer: documents are laid
  * end-to-end in a deterministic corpus order and the token stream is
  * cut every `PackTokens` tokens into fixed-length training sequences.
  * The operational questions a data engineer asks of that step are
  * exactly what this query grades: how many packs does the corpus
  * yield, and how many documents STRADDLE a pack boundary (straddled
  * docs lose cross-boundary attention — the packing-quality metric
  * that motivates doc-aware packing variants).
  *
  * The hard part at scale is the RUNNING TOTAL: every doc needs the
  * number of tokens BEFORE it in the global order. A single
  * `Window.orderBy(...)` computes it but funnels the corpus through
  * ONE partition — the exact-median trap (see
  * [[Aggregates.medianAcctbal]]'s scaladoc). This implementation is
  * the scalable TWO-PHASE PREFIX SUM instead:
  *
  *   1. docs hash into `Buckets` ordered buckets (first md5 nibble —
  *    the bucket ranges partition the global (md5, doc_id) order);
  *   2. phase 1: a per-BUCKET window computes local running totals —
  *    `Buckets`-way parallel, each partition sees 1/Buckets of rows;
  *   3. phase 2: per-bucket token totals (a `Buckets`-row aggregate)
  *    prefix-sum into bucket OFFSETS on a catalog-sized frame,
  *    broadcast back; global position = offset + local total.
  *
  * At 100 TB, `Buckets` rises (two nibbles → 256; the per-bucket
  * window is the only data-sized shuffle and stays 1/Buckets wide),
  * and the offset frame stays tiny. [[PackingSpec]] asserts the
  * two-phase form is row-identical to the naive single-window cumsum;
  * the GRADE pins it against DuckDB's single-window ground truth —
  * hash equality IS the proof the distributed prefix sum is exact.
  *
  * Tokens are [[TextOps.bpePattern]] counts (the repo's tokenizer
  * uniform, `token_count_bpe`); the reference's own token budgeting
  * is the fixed 2048-token request cap in `agent.py:44` — the same
  * fixed-window accounting, applied here to the training corpus.
  */
object Packing extends graft.QueryModule {

  /** Tokens per training sequence (a 2k context window). */
  private[graft] val PackTokens = 2048L

  /** Prefix-sum fan-out (16 = one md5 nibble; 256 at 100 TB). */
  private[graft] val Buckets = 16

  /** Per-doc frame: deterministic order key, bucket, token count.
    * With `genOrdered`, the corpus sorts by (generation, h, doc_id) —
    * day-1 docs first, day-2 appended AFTER them — and the bucket key
    * becomes gen·16 + nibble so bucket RANGES still partition the
    * global order (the two-phase prefix sum is order-key agnostic as
    * long as buckets are order-prefix-aligned). */
  private def docs(spark: SparkSession, dir: String,
      genOrdered: Boolean = false): DataFrame = {
    val base = Tables(spark, dir, "documents")
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("tok",
        size(expr(s"regexp_extract_all(text, '${TextOps.bpePattern}', 0)"))
          .cast("long"))
    val nibble = conv(substring(col("h"), 1, 1), 16, 10).cast("long")
    if (!genOrdered) base.withColumn("bucket", nibble)
    else base
      // same generation split as the graph/dedup maintenance tiers:
      // md5 first nibble < '2' marks the day-2 (new) slice (~1/8)
      .withColumn("gen",
        when(substring(col("h"), 1, 1) < "2", 1L).otherwise(0L))
      .withColumn("bucket", col("gen") * 16 + nibble)
  }

  /** The two-phase global running total: (…, cum_start, cum_end). */
  private[graft] def positioned(spark: SparkSession, dir: String,
      genOrdered: Boolean = false): DataFrame = {
    val d = docs(spark, dir, genOrdered)
    // phase 1: per-bucket local running totals (Buckets-way parallel)
    val wLocal = Window.partitionBy(col("bucket"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = d.withColumn("cum_local", sum(col("tok")).over(wLocal))
    // phase 2: bucket totals → exclusive prefix offsets (Buckets rows —
    // the single-partition window here runs on a catalog-sized frame)
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy(col("bucket")).agg(sum(col("tok")).as("btot"))
      .withColumn("offset", coalesce(sum(col("btot")).over(wOff), lit(0L)))
      .select(col("bucket"), col("offset"))
    local.join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum_end", col("offset") + col("cum_local"))
      .withColumn("cum_start", col("cum_end") - col("tok"))
  }

  /** The naive form — ONE global window — used only by [[PackingSpec]]
    * to prove the two-phase plan identical (and by nothing else: this
    * is the single-reducer shape packing at scale must avoid). */
  private[graft] def positionedNaive(spark: SparkSession,
      dir: String): DataFrame = {
    val w = Window.orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, dir).withColumn("cum_end", sum(col("tok")).over(w))
      .withColumn("cum_start", col("cum_end") - col("tok"))
  }

  /** GRADED: per-source packing audit + the corpus pack count. A doc
    * spans packs ⌊cum_start/B⌋ .. ⌊(cum_end−1)/B⌋ (every doc here has
    * ≥1 token — `n_chars` ≥ 48 in the corpus — so the span is well
    * defined); it straddles when those differ, and crosses
    * `pack_last − pack_first` boundaries. */
  def docPackChunks(spark: SparkSession, dir: String): DataFrame = {
    val p = positioned(spark, dir)
      .withColumn("pack_first", expr(s"cum_start div $PackTokens"))
      .withColumn("pack_last", expr(s"(cum_end - 1) div $PackTokens"))
    val total = p.agg(sum(col("tok")).as("ttot"))
      .select(expr(s"(ttot + ${PackTokens - 1}) div $PackTokens")
        .as("n_packs_total"))
    p.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        sum(when(col("pack_last") > col("pack_first"), 1L).otherwise(0L))
          .as("n_straddle"),
        sum(col("pack_last") - col("pack_first")).as("n_boundary_cuts"))
      .crossJoin(broadcast(total))
      .orderBy("source")
  }

  /** Shards per training-data export. */
  private[graft] val NShards = 8L

  /** GRADED: the SHARD MANIFEST — the writer step after packing: packs
    * stripe round-robin onto `NShards` shard files (pack p → shard
    * p mod N, the standard interleave that makes every shard a
    * statistically identical sample of the corpus — contiguous ranges
    * would give shard 0 the alphabetically-first slice). The audit is
    * segment accounting: a doc spanning packs [first..last] is CUT
    * into one segment per pack, and each segment follows its pack to
    * that pack's shard. Per shard: segment count, count + token mass
    * of docs whose FIRST token lands there (where the doc's loss mask
    * starts), and a position checksum pinning the full assignment.
    *
    * Scale: `sequence(pack_first, pack_last)` explodes to exactly
    * n_docs + n_boundary_cuts rows (spans are token-budget-bounded) —
    * a map-side generate off the two-phase prefix sum, then an
    * NShards-row aggregate. No new shuffle beyond [[positioned]]'s. */
  /** (doc, pack) segment rows of the packed corpus. */
  private def segments(spark: SparkSession, dir: String,
      genOrdered: Boolean = false): DataFrame =
    positioned(spark, dir, genOrdered)
      .withColumn("pack_first", expr(s"cum_start div $PackTokens"))
      .withColumn("pack_last", expr(s"(cum_end - 1) div $PackTokens"))
      .select(col("doc_id"), col("tok"), col("pack_first"),
        explode(expr("sequence(pack_first, pack_last)")).as("pack"))
      .withColumn("shard_id", expr(s"pack % $NShards"))

  /** The per-shard manifest aggregate over a segment frame. */
  private def manifestOf(seg: DataFrame): DataFrame =
    seg.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("pack") === col("pack_first"), 1L).otherwise(0L))
          .as("n_docs_start"),
        sum(when(col("pack") === col("pack_first"), col("tok"))
          .otherwise(0L)).as("tokens_start"),
        // Knuth-hash position checksum, mod-reduced BEFORE the multiply
        // so the product stays < 2^63 at any corpus size
        sum(expr("((pack % 1000000007) * 2654435761) % 1000000007"))
          .as("pack_checksum"))
      .orderBy("shard_id")

  def shardManifest(spark: SparkSession, dir: String,
      genOrdered: Boolean = false): DataFrame =
    manifestOf(segments(spark, dir, genOrdered))

  /** The STORED export: segment rows as parquet, once per (JVM,
    * corpus) — the physical artifact the shard writer emits, and the
    * layout erasure must operate on (a GDPR sweep cannot REPACK: that
    * rewrites and re-ships every shard). */
  private val exportDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def segmentExportDir(spark: SparkSession,
      dir: String): String =
    exportDirs.computeIfAbsent(dir, { _ =>
      val out = Tables.scratchDir("graft_pack_export_").getAbsolutePath
      segments(spark, dir).write.mode("overwrite").parquet(out)
      out
    })

  /** GRADED: the manifest AFTER ERASURE — the sixth derived-index
    * family under [[IndexErasure]]'s position-delete mechanism (r8
    * verdict #1 listed packed shards; the other five landed with the
    * r9 IndexErasure batch). The erased docs' SEGMENT rows retire via
    * the DV anti join; every surviving doc keeps its ORIGINAL pack id
    * (frozen layout — pack positions derive from the full-corpus
    * cumsum, so erasure leaves holes instead of shifting neighbors,
    * exactly like a DV'd parquet file keeps its row positions). The
    * oracle re-derives the full-corpus packing and drops erased rows
    * before aggregating — hash equality pins the frozen-layout
    * semantics; `IndexErasureSpec` additionally proves a survivor-only
    * REPACK would have moved documents (the retirement is not a
    * repack). */
  def shardManifestErased(spark: SparkSession, dir: String): DataFrame =
    manifestOf(IndexErasure.erasedView(spark, segmentExportDir(spark, dir),
      IndexErasure.erased(col("doc_id"))))

  /** Test hook ([[graft.IndexErasureSpec]] only — naive single-window
    * form like [[positionedNaive]]): pack_first per doc if the
    * SURVIVORS were repacked from scratch, i.e. what erasure must NOT
    * do to the stored export. */
  private[graft] def survivorRepackFirstPacks(spark: SparkSession,
      dir: String): Map[Long, Long] = {
    val w = Window.orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, dir)
      .filter(!IndexErasure.erased(col("doc_id")))
      .withColumn("cum_end", sum(col("tok")).over(w))
      .withColumn("pack_first", expr(s"(cum_end - tok) div $PackTokens"))
      .select(col("doc_id"), col("pack_first"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_pack_chunks" -> (docPackChunks(_, _)),
    "shard_manifest" -> (shardManifest(_, _)),
    // APPEND-STABLE packing (the export-maintenance move): the corpus
    // orders by (generation, h, doc_id), so day-2 docs pack AFTER
    // every day-1 doc — day-1 pack assignments are a frozen PREFIX
    // (PackingSpec proves them bit-identical to a day-1-only run) and
    // the appended generation only adds packs at the end. Without the
    // generation prefix, hash order interleaves new docs and every
    // append REPACKS the corpus (= re-exporting every shard).
    "shard_manifest_appended" ->
      ((s: SparkSession, d: String) => shardManifest(s, d,
        genOrdered = true)),
    "shard_manifest_erased" -> (shardManifestErased(_, _)))

  /** DuckDB twin: the SINGLE-window cumsum ground truth — the graded
    * hash can only match if the two-phase prefix sum is exact. */
  val oracles: Map[String, String] = Map(
    "doc_pack_chunks" -> {
      val B = PackTokens
      s"""WITH d AS (
         |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h,
         |    CAST(len(regexp_extract_all(text, '${TextOps.bpePattern}'))
         |      AS BIGINT) AS tok
         |  FROM documents),
         |c AS (
         |  SELECT source, tok,
         |    sum(tok) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_end
         |  FROM d),
         |p AS (
         |  SELECT source, tok,
         |    (cum_end - tok) // $B AS pack_first,
         |    (cum_end - 1) // $B AS pack_last
         |  FROM c),
         |g AS (SELECT (sum(tok) + ${B - 1}) // $B AS n_packs_total FROM d)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN pack_last > pack_first THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_straddle,
         |  CAST(sum(pack_last - pack_first) AS BIGINT) AS n_boundary_cuts,
         |  CAST(g.n_packs_total AS BIGINT) AS n_packs_total
         |FROM p, g GROUP BY source, g.n_packs_total ORDER BY source""".stripMargin
    },
    // single-window ground truth + unnested pack spans: the same
    // round-robin striping and segment accounting restated flat
    "shard_manifest" -> {
      val B = PackTokens
      s"""WITH d AS (
         |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
         |    CAST(len(regexp_extract_all(text, '${TextOps.bpePattern}'))
         |      AS BIGINT) AS tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, tok,
         |    sum(tok) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_end
         |  FROM d),
         |p AS (
         |  SELECT doc_id, tok,
         |    CAST((cum_end - tok) // $B AS BIGINT) AS pack_first,
         |    CAST((cum_end - 1) // $B AS BIGINT) AS pack_last
         |  FROM c),
         |seg AS (
         |  SELECT p.doc_id, p.tok, p.pack_first, u.pack
         |  FROM p, unnest(generate_series(p.pack_first, p.pack_last))
         |    u(pack))
         |SELECT pack % $NShards AS shard_id,
         |  count(*) AS n_segments,
         |  CAST(sum(CASE WHEN pack = pack_first THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_docs_start,
         |  CAST(sum(CASE WHEN pack = pack_first THEN tok ELSE 0 END)
         |    AS BIGINT) AS tokens_start,
         |  CAST(sum(((pack % 1000000007) * 2654435761) % 1000000007)
         |    AS BIGINT) AS pack_checksum
         |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // erasure: pack positions from the FULL-corpus cumsum (frozen
    // layout), erased docs' segments dropped before the aggregate
    "shard_manifest_erased" -> {
      val B = PackTokens
      s"""WITH d AS (
         |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
         |    CAST(len(regexp_extract_all(text, '${TextOps.bpePattern}'))
         |      AS BIGINT) AS tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, tok,
         |    sum(tok) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_end
         |  FROM d),
         |p AS (
         |  SELECT doc_id, tok,
         |    CAST((cum_end - tok) // $B AS BIGINT) AS pack_first,
         |    CAST((cum_end - 1) // $B AS BIGINT) AS pack_last
         |  FROM c),
         |seg AS (
         |  SELECT p.doc_id, p.tok, p.pack_first, u.pack
         |  FROM p, unnest(generate_series(p.pack_first, p.pack_last))
         |    u(pack)
         |  WHERE ${IndexErasure.survivorSql("p.doc_id")})
         |SELECT pack % $NShards AS shard_id,
         |  count(*) AS n_segments,
         |  CAST(sum(CASE WHEN pack = pack_first THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_docs_start,
         |  CAST(sum(CASE WHEN pack = pack_first THEN tok ELSE 0 END)
         |    AS BIGINT) AS tokens_start,
         |  CAST(sum(((pack % 1000000007) * 2654435761) % 1000000007)
         |    AS BIGINT) AS pack_checksum
         |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // the same manifest under the (generation, h, doc_id) order —
    // day-2 docs cumsum AFTER the full day-1 prefix
    "shard_manifest_appended" -> {
      val B = PackTokens
      s"""WITH d AS (
         |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
         |    CAST(len(regexp_extract_all(text, '${TextOps.bpePattern}'))
         |      AS BIGINT) AS tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, tok,
         |    sum(tok) OVER (ORDER BY
         |      (CASE WHEN substr(h, 1, 1) < '2' THEN 1 ELSE 0 END),
         |      h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_end
         |  FROM d),
         |p AS (
         |  SELECT doc_id, tok,
         |    CAST((cum_end - tok) // $B AS BIGINT) AS pack_first,
         |    CAST((cum_end - 1) // $B AS BIGINT) AS pack_last
         |  FROM c),
         |seg AS (
         |  SELECT p.doc_id, p.tok, p.pack_first, u.pack
         |  FROM p, unnest(generate_series(p.pack_first, p.pack_last))
         |    u(pack))
         |SELECT pack % $NShards AS shard_id,
         |  count(*) AS n_segments,
         |  CAST(sum(CASE WHEN pack = pack_first THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_docs_start,
         |  CAST(sum(CASE WHEN pack = pack_first THEN tok ELSE 0 END)
         |    AS BIGINT) AS tokens_start,
         |  CAST(sum(((pack % 1000000007) * 2654435761) % 1000000007)
         |    AS BIGINT) AS pack_checksum
         |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin
    })
}
