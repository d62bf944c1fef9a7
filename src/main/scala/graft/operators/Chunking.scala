package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Shingles
import graft.plans.Extensions
import graft.streaming.Replay

/** Document CHUNKING — the RAG / context-window preprocessing step
  * every training-data and retrieval pipeline runs before embedding:
  * split each document into fixed-size token windows with overlap,
  * with stable chunk identity and provenance back to (doc, token
  * offset). Reference provenance: the demo's LLM-copy path ships whole
  * docs (`agent.py:110-185`); chunking is what that path needs the
  * moment a doc exceeds the embedding context.
  *
  * The rule, pinned identically in both engines: chunks start at
  * multiples of STRIDE (24) and take up to CHUNK (32) tokens; a start
  * is emitted iff it is 0 or contributes at least one NEW token
  * (s + CHUNK − STRIDE < n — a tail fully covered by its predecessor
  * is skipped, so chunk sets never carry a zero-information row).
  * Chunk identity = md5 of the space-joined token slice, so the grade
  * pins CONTENT, not just counts.
  *
  * Three graded views: the membership-level chunk index, the
  * per-source cost report (overlap_tokens = what the overlap policy
  * costs in duplicated mass), and cross-document DUPLICATE chunks —
  * chunk-granularity exact dedup, the boilerplate detector that doc-
  * level hashes miss and [[DupSpans]] locates at span precision.
  *
  * 100 TB shape: chunking is a stateless per-doc explode (map-only,
  * embarrassingly parallel, no shuffle before the aggregates); the
  * stats are one partial-agg shuffle at source granularity; dup
  * detection is one (chunk_md5) shuffle whose keys are 32-token
  * windows — the same cardinality class as the LSH band join. Doc
  * length is platform-bounded, so per-row explode fan-out is bounded
  * by n/STRIDE.
  */
object Chunking extends graft.QueryModule {

  /** Chunk size C in tokens. */
  private[graft] val Chunk = 32
  /** Stride S (overlap = C − S = 8 tokens). */
  private[graft] val Stride = 24

  /** (doc_id, source, n, s) per emitted chunk start, over an arbitrary
    * docs frame (the maintained store chunks its generations
    * separately). */
  private def startsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), Shingles.sparkToks.as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") >= 1)
      .withColumn("s", explode(expr(
        s"sequence(0, CAST((n - 1) DIV $Stride AS INT) * $Stride, $Stride)")))
      .filter(col("s") === 0 || col("s") + lit(Chunk - Stride) < col("n"))

  private def starts(spark: SparkSession, dir: String): DataFrame =
    startsOf(Tables(spark, dir, "documents"))

  /** The chunk-index rows of a docs frame (unordered — consumers sort). */
  private def chunkRowsOf(docs: DataFrame): DataFrame =
    startsOf(docs)
      .withColumn("ct", expr(s"slice(t, s + 1, $Chunk)"))
      .select(col("doc_id"),
        (col("s") / Stride).cast("long").as("chunk_idx"),
        col("s").cast("long").as("start_tok"),
        size(col("ct")).cast("long").as("n_tokens"),
        md5(array_join(col("ct"), " ")).as("chunk_md5"))

  /** Chunk rows WITH the token slice — the retrieval tier
    * ([[ChunkRetrieval]]) needs chunk TERMS, not just identity.
    * Same chunk rule, same constants; one extra column. (r13 probe,
    * honest negative result: fanning the docs scan out to every core
    * here EXPLODED the retrieval board's summed task time 8.1 s ->
    * 78.7 s — the 32-way cached chunk frame multiplies every
    * downstream broadcast/window stage's per-task setup over frames
    * that are only a few MB. The single-split scan is the measured
    * optimum at bench scale; production scans have real splits.) */
  private[operators] def chunkTokenRows(spark: SparkSession,
      dir: String): DataFrame =
    startsOf(Tables(spark, dir, "documents"))
      .withColumn("ct", expr(s"slice(t, s + 1, $Chunk)"))
      .select(col("doc_id"),
        (col("s") / Stride).cast("long").as("chunk_idx"),
        size(col("ct")).cast("long").as("n_tokens"),
        col("ct"))

  /** The membership-level chunk index: every chunk's ordinal, token
    * offset, length and content hash. */
  def docChunksIndex(spark: SparkSession, dir: String): DataFrame =
    chunkRowsOf(Tables(spark, dir, "documents"))
      .orderBy("doc_id", "chunk_idx")

  /** Per-source chunking cost report: chunk counts and the duplicated
    * token mass the overlap policy pays (overlap_tokens = Σ chunk
    * tokens − Σ doc tokens). */
  def chunkStatsBySource(spark: SparkSession, dir: String): DataFrame = {
    val ch = starts(spark, dir)
      .withColumn("ct", expr(s"slice(t, s + 1, $Chunk)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(size(col("ct")).cast("long")).as("chunk_tokens"))
    val docs = Tables(spark, dir, "documents")
      .select(col("source"), Shingles.sparkToks.as("t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("t")).cast("long")).as("doc_tokens"))
    docs.join(ch, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_chunks"),
        col("doc_tokens"), col("chunk_tokens"),
        (col("chunk_tokens") - col("doc_tokens")).as("overlap_tokens"))
      .orderBy("source")
  }

  /** Chunk-granularity exact dedup: 32-token windows shared across
    * DISTINCT documents (the near-dup plants guarantee hits at every
    * SF — 35/31 hashes at sf0.001/0.01). */
  def dupChunksCrossDoc(spark: SparkSession, dir: String): DataFrame =
    docChunksIndex(spark, dir)
      .groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") > 1)
      .orderBy("chunk_md5")

  // ----------------------------------------------------------------
  // The chunk store joins the MAINTENANCE MATRIX (r10+): a RAG corpus
  // is served from a MATERIALIZED chunk index, not re-chunked per
  // query — so the store must grow (day-2 docs append as new files,
  // day-1 files never rewritten) and forget (GDPR erasure retires an
  // erased doc's chunks via the shared position-delete read path,
  // files frozen). Chunking is stateless per doc, so generations
  // never interact — the append is trivially sound; the interesting
  // graded fact is the ERASED view and chunk-level dedup over it.
  // ----------------------------------------------------------------

  private[graft] final case class ChunkState(root: String,
      baseFiles: Map[String, Long], deltaFiles: Map[String, Long])

  private def listPq(dir: String): Map[String, Long] =
    Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length).toMap

  private val states =
    new java.util.concurrent.ConcurrentHashMap[String, ChunkState]()

  /** Day-2 class: the [[IncrementalDedup.IncomingHexChars]] nibbles —
    * the corpus-wide ingest convention, disjoint from the erase class
    * ('a' ⊂ base), so the delete delta lands in day-1 files only. */
  private def isNewDoc =
    substring(md5(col("doc_id").cast("string")), 1, 1)
      .isin(IncrementalDedup.IncomingHexChars: _*)

  /** Build (once per JVM, corpus) the two-generation chunk store:
    * base docs' chunks overwrite, day-2 docs' chunks append. */
  private[graft] def state(spark: SparkSession, dir: String): ChunkState =
    states.computeIfAbsent(dir, { _ =>
      val root = graft.Tables.scratchDir("graft_chunk_store_")
        .getAbsolutePath
      val docs = Tables(spark, dir, "documents")
      chunkRowsOf(docs.filter(!isNewDoc))
        .write.mode("overwrite").parquet(root)
      val baseFiles = listPq(root)
      chunkRowsOf(docs.filter(isNewDoc))
        .write.mode("append").parquet(root)
      ChunkState(root, baseFiles, listPq(root) -- baseFiles.keys)
    })

  /** GRADED: the maintained (base ∪ day-2) chunk store — the
    * from-scratch oracle over ALL docs proves the two-generation
    * build equals one-shot chunking (generations are per-doc disjoint
    * by construction; the spec pins the file discipline). */
  def chunkStoreMaintained(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(state(spark, dir).root)
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("n_tokens"), col("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** GRADED: the ERASED chunk store view — the erase class's chunks
    * retired by position delete across the store's files (all in the
    * base generation: 'a' ⊂ base), no file rewritten; oracle =
    * from-scratch chunking of the SURVIVING docs. */
  def chunkStoreErased(spark: SparkSession, dir: String): DataFrame =
    IndexErasure.erasedView(spark, state(spark, dir).root,
        IndexErasure.erased(col("doc_id")))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("n_tokens"), col("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** GRADED: chunk-level dedup FORGETS — cross-doc duplicate chunks
    * recomputed over the erased view: a hash whose only other carrier
    * was erased drops out of the dup report. */
  def dupChunksErased(spark: SparkSession, dir: String): DataFrame =
    IndexErasure.erasedView(spark, state(spark, dir).root,
        IndexErasure.erased(col("doc_id")))
      .groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") > 1)
      .orderBy("chunk_md5")

  private val streamedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** STREAMED day-2 chunk ingest (AvailableNow + foreachBatch): the
    * base generation is written once, then the day-2 docs arrive in ≥2
    * real micro-batches (2-file feed, maxFilesPerTrigger=1) and each
    * batch's chunks land in a PER-BATCH overwrite dir — the
    * versioned-sink idempotency rule: a replayed batch rewrites its own
    * dir instead of appending duplicates. Chunking is stateless per
    * doc, so chopping is invisible by construction and the batch
    * oracle grades the streamed store VERBATIM — the graded fact is
    * that the ingest plumbing (feed, checkpoint, per-batch sinks)
    * preserves exactly the one-shot result. */
  private[graft] def streamedChunksDir(spark: SparkSession,
      dir: String): String =
    streamedDirs.computeIfAbsent(dir, { _ =>
      val root = graft.Tables.scratchDir("graft_chunk_stream_")
        .getAbsolutePath
      val ss = Extensions.newSession(spark,
        "spark.sql.shuffle.partitions" -> "2")
      val docs = Tables(ss, dir, "documents")
      chunkRowsOf(docs.filter(!isNewDoc))
        .write.mode("overwrite").parquet(s"$root/chunks/base")
      val feed = Replay.feed("graft_chunk_feed_", dir) {
        Seq(0, 1).map(par =>
          docs.filter(isNewDoc && pmod(col("doc_id"), lit(2)) === par))
      }
      Replay.run(Replay.read(ss, feed, 1).writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          chunkRowsOf(batch.toDF())
            .write.mode("overwrite").parquet(s"$root/chunks/b$batchId")
      }, "graft_chunk_sckpt_")
      root
    })

  /** GRADED: the stream-built chunk store — batch oracle VERBATIM. */
  def chunkStoreStreamed(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(
      Replay.batchDirs(s"${streamedChunksDir(spark, dir)}/chunks"): _*)
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("n_tokens"), col("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** Shared oracle prefix ending at ch(doc_id, source, chunk_idx,
    * start_tok, n_tokens, chunk_md5) — the identical start/slice rule. */
  // `ct` rides along for the retrieval tier's oracle ([[ChunkRetrieval]]);
  // the store oracles below never select it.
  private[operators] val chunkCte: String =
    s"""WITH toks AS (
       |  ${Shingles.duckToksWithSource}),
       |st AS (SELECT doc_id, source, len(t) AS n, t FROM toks
       |  WHERE len(t) >= 1),
       |ch AS (
       |  SELECT doc_id, source, s // $Stride AS chunk_idx,
       |    s AS start_tok,
       |    len(t[s + 1 : least(s + $Chunk, n)]) AS n_tokens,
       |    md5(array_to_string(t[s + 1 : least(s + $Chunk, n)], ' '))
       |      AS chunk_md5,
       |    t[s + 1 : least(s + $Chunk, n)] AS ct
       |  FROM st, LATERAL unnest(
       |    generate_series(0, ((n - 1) // $Stride) * $Stride, $Stride))
       |      AS u(s)
       |  WHERE s = 0 OR s + ${Chunk - Stride} < n)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_chunks_index" -> (docChunksIndex _),
    "chunk_stats_by_source" -> (chunkStatsBySource _),
    "dup_chunks_cross_doc" -> (dupChunksCrossDoc _),
    "chunk_store_maintained" -> (chunkStoreMaintained _),
    "chunk_store_erased" -> (chunkStoreErased _),
    "dup_chunks_erased" -> (dupChunksErased _),
    "chunk_store_streamed" -> (chunkStoreStreamed _))

  val oracles: Map[String, String] = Map(
    "doc_chunks_index" ->
      s"""$chunkCte
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(n_tokens AS BIGINT) AS n_tokens, chunk_md5
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "chunk_stats_by_source" ->
      s"""$chunkCte,
         |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
         |    CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens
         |  FROM ch GROUP BY 1),
         |d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(t)) AS BIGINT) AS doc_tokens
         |  FROM toks GROUP BY 1)
         |SELECT d.source, d.n_docs, c.n_chunks, d.doc_tokens,
         |  c.chunk_tokens,
         |  c.chunk_tokens - d.doc_tokens AS overlap_tokens
         |FROM d JOIN c USING (source) ORDER BY d.source""".stripMargin,
    "dup_chunks_cross_doc" ->
      s"""$chunkCte
         |SELECT chunk_md5,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occ
         |FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
         |ORDER BY chunk_md5""".stripMargin,
    // the stream-built store must equal the one-shot result under any
    // micro-batch chopping — batch oracle verbatim
    "chunk_store_streamed" ->
      s"""$chunkCte
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(n_tokens AS BIGINT) AS n_tokens, chunk_md5
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    // the maintained store ≡ one-shot chunking of ALL docs (the
    // generations partition the doc space)
    "chunk_store_maintained" ->
      s"""$chunkCte
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(n_tokens AS BIGINT) AS n_tokens, chunk_md5
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    // from-scratch chunking of the SURVIVING docs — the retirement
    // must reduce to predicate semantics
    "chunk_store_erased" ->
      s"""$chunkCte
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(n_tokens AS BIGINT) AS n_tokens, chunk_md5
         |FROM ch WHERE ${IndexErasure.survivorSql("doc_id")}
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "dup_chunks_erased" ->
      s"""$chunkCte
         |SELECT chunk_md5,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occ
         |FROM ch WHERE ${IndexErasure.survivorSql("doc_id")}
         |GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
         |ORDER BY chunk_md5""".stripMargin)
}
