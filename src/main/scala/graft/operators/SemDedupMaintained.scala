package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.Extensions
import graft.sources.Substrate
import graft.streaming.Replay

/** SemDeDup LIFECYCLE (r10) — the semantic tier joins the maintenance
  * matrix. The lexical dedup index already grows, streams, compacts
  * and forgets ([[IncrementalDedup]]); the one-shot SemDeDup election
  * ([[Similarity.semanticDedupSurvivors]]) did neither. This object
  * maintains the semantic PAIR STORE under the same two moves every
  * index family uses:
  *
  *  - GROW: the pair evidence is keyed by the FROZEN-centroid IVF
  *    assignment ([[IvfMaintained.state]] — centroids derive from the
  *    base generation and never move, so every stored pair's cell is
  *    stable). Base×base pairs are written once; the day-2 ingest
  *    appends exactly the pairs touching a NEW vector (new×all within
  *    cell — base×base is never recomputed, the [[IncrementalDedup]]
  *    "base pairs never re-form" discipline), as an added FILE SET.
  *  - FORGET: erased vectors retire every pair row they touch via
  *    [[IndexErasure]]'s position-delete read path — store files
  *    frozen, and since the erase class ('a' ≥ '2') is base-side
  *    while appended pairs link new→base, the delete delta spans
  *    BOTH generations' files (the [[GraphOps.knnBfsHopsLifecycle]]
  *    composition argument).
  *
  * The election is re-run over whatever pair set the store serves:
  * components of the thresholded pair graph, keeper = LOWEST cosine
  * to the assigned frozen centroid (Abbas et al.'s diversity rule),
  * ties to the smaller vec_id. Erasure can only shrink or split
  * components, so verdicts weaken monotonically — spec-pinned like
  * the dedup index's.
  *
  * Oracles re-derive everything from scratch (frozen centroids, both
  * assignment generations, within-cell pairs, transitive closure,
  * election) with no knowledge of file sets or delete deltas; the
  * lifecycle oracle additionally drops every pair touching an erased
  * vector before the closure. */
object SemDedupMaintained extends graft.QueryModule {

  /** Same emit threshold as the one-shot tier. */
  private val Threshold = 0.3

  /** ONE pair-scoring spelling for the batch build and every streamed
    * micro-batch (r10 review: the threshold/rounding contract must
    * live in exactly one place — a drift between the two builds would
    * fail the chop-invariance spec the hard way). */
  private def scoredPairs(s: SparkSession, dir: String,
      cand: DataFrame): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    cand
      .join(e.select(col("vec_id").as("vec_a"),
        col("embedding").as("ea")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"),
        col("embedding").as("eb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        graft.functions.ScalarFns.roundN(
          expr("cosine_sim(ea, eb)"), 6).as("cosine_sim"))
      .filter(col("cosine_sim") >= Threshold)
  }

  private[graft] final case class PairState(root: String,
      baseFiles: Map[String, Long], deltaFiles: Map[String, Long])

  private def listPq(dir: String): Map[String, Long] =
    Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length).toMap

  /** The maintained pair store, built once per (JVM, corpus): base
    * pairs written, day-2 pairs appended, both under the SAME frozen
    * assignment — so the store's content equals the from-scratch
    * within-cell pair set by construction (spec-asserted). */
  private[graft] def pairState(spark: SparkSession, dir: String): PairState =
    Substrate.state("graft_semdedup_maint_", dir) { root =>
      val st = IvfMaintained.state(spark, dir)
      val assign = spark.read.parquet(st.root)
      val baseA = assign.filter(!GraphOps.isNewVec)
      val basePairs = baseA.as("a").join(baseA.as("b"),
          col("a.cid") === col("b.cid") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      scoredPairs(spark, dir, basePairs)
        .write.mode("overwrite").parquet(root)
      val baseFiles = listPq(root)
      // the ingest increment: every pair with ≥ 1 new endpoint —
      // new×all within cell, normalized (va < vb), deduped (a
      // new×new pair is generated from both sides)
      val newA = assign.filter(GraphOps.isNewVec)
      val deltaPairs = newA.as("n").join(assign.as("x"),
          col("n.cid") === col("x.cid") &&
            col("n.vec_id") =!= col("x.vec_id"))
        .select(least(col("n.vec_id"), col("x.vec_id")).as("vec_a"),
          greatest(col("n.vec_id"), col("x.vec_id")).as("vec_b"))
        .distinct()
      scoredPairs(spark, dir, deltaPairs)
        .write.mode("append").parquet(root)
      PairState(root, baseFiles, listPq(root) -- baseFiles.keys)
    }

  /** GRADED: the maintained pair evidence — base ∪ appended, served
    * straight off the store's files. */
  def semanticDedupPairsMaintained(spark: SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(pairState(spark, dir).root)
      .select(col("vec_a"), col("vec_b"), col("cosine_sim"))
      .orderBy("vec_a", "vec_b")

  /** Election key under the MAINTAINED geometry: cosine to the
    * assigned FROZEN base centroid (one kernel per vector off the
    * stored lists). */
  private def centSims(spark: SparkSession, dir: String): DataFrame = {
    val st = IvfMaintained.state(spark, dir)
    val e = Tables(spark, dir, "embeddings")
    val cents = e.filter(!GraphOps.isNewVec)
      .orderBy(col("vec_id")).limit(st.nlist)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    spark.read.parquet(st.root)
      .join(e, Seq("vec_id"))
      .join(broadcast(cents), Seq("cid"))
      .select(col("vec_id"),
        graft.functions.ScalarFns.roundN(
          expr("cosine_sim(embedding, cv)"), 6).as("cent_sim"))
  }

  /** The election over any pair frame served by the store — built
    * ONCE per (JVM, corpus, variant) into scratch parquet (r10
    * review: the components helper caches its labels frame under a
    * caller-releases contract; serving from scratch both honors it
    * and stops every serving call from re-collecting the edge set). */
  private def survivorsOf(spark: SparkSession, dir: String,
      variant: String, pairs: => DataFrame): DataFrame = {
    val path = Substrate.dir("graft_semdedup_surv_", s"$dir|$variant") { out =>
      val p = pairs
      val edges = p.select(col("vec_a").as("src"), col("vec_b").as("dst"))
        .union(p.select(col("vec_b").as("src"), col("vec_a").as("dst")))
      val (labels, _) = Similarity.connectedComponents(edges)
      try {
        val wC = Window.partitionBy("component")
        val wR = wC.orderBy(col("cent_sim").asc, col("vec_id"))
        labels
          .select(col("doc_id").as("vec_id"), col("label").as("component"))
          .join(centSims(spark, dir), Seq("vec_id"))
          .withColumn("n_members", count(lit(1)).over(wC))
          .withColumn("rk", row_number().over(wR))
          .filter(col("rk") === 1 && col("n_members") > 1)
          .select(col("component"), col("n_members"),
            col("vec_id").as("keeper_vec"),
            col("cent_sim").as("keeper_cent_sim"),
            (col("n_members") - 1).cast("bigint").as("dropped_vecs"))
          .write.mode("overwrite").parquet(out)
      } finally {
        try { labels.unpersist(); () } catch { case _: Throwable => () }
      }
    }
    spark.read.parquet(path).orderBy("component")
  }

  /** GRADED: survivorship over the GROWN store — base and day-2
    * vectors compete in the same components. */
  def semanticDedupSurvivorsMaintained(spark: SparkSession,
      dir: String): DataFrame =
    survivorsOf(spark, dir, "maintained",
      spark.read.parquet(pairState(spark, dir).root))

  /** GRADED: the full lifecycle — the grown store under the GDPR
    * retirement, re-elected. Components can only shrink or split, so
    * a keeper either persists or yields to a surviving member. */
  def semanticDedupSurvivorsLifecycle(spark: SparkSession,
      dir: String): DataFrame =
    survivorsOf(spark, dir, "lifecycle",
      IndexErasure.erasedView(spark, pairState(spark, dir).root,
        IndexErasure.erased(col("vec_a")) ||
          IndexErasure.erased(col("vec_b"))))

  // ------------------------------------------------------------------
  // STREAMED ingest twin: the day-2 vectors arrive in micro-batches
  // (AvailableNow + foreachBatch, the replay discipline). Per batch:
  // assign the batch's vectors against the FROZEN centroids, emit
  // exactly the pairs whose LATER endpoint is in this batch —
  // batch×(already-visible ∪ batch) within cell — and append them to
  // the store; roll the visible-assignment state forward one version.
  // Every cross-batch pair is generated exactly once (in its later
  // endpoint's batch) and in-batch duplicates are normalized away, so
  // the final store must equal the batch-maintained store row for row
  // (chop-invariance spec) and the BATCH ORACLE grades it verbatim.
  // ------------------------------------------------------------------

  private[graft] def streamedPairsDir(spark: SparkSession,
      dir: String): String =
    Substrate.dir("graft_semdedup_stream_", dir) { root =>
      val st = IvfMaintained.state(spark, dir)
      val ss = Extensions.newSession(spark,
        "spark.sql.shuffle.partitions" -> "2")
      val e = Tables(ss, dir, "embeddings")
      val cents = e.filter(!GraphOps.isNewVec)
        .orderBy(col("vec_id")).limit(st.nlist)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      // the 2-file ingest feed: day-2 vectors split by id parity
      val feed = Replay.feed("graft_semdedup_feed_", dir) {
        Seq(0, 1).map(par =>
          e.filter(GraphOps.isNewVec && pmod(col("vec_id"), lit(2)) === par))
      }
      // v0 visible assignment = the stored BASE lists; v0 pairs = the
      // maintained store's base generation (same build, same values)
      val baseA = ss.read.parquet(st.root).filter(!GraphOps.isNewVec)
      baseA.write.mode("overwrite").parquet(s"$root/assign/v0_init")
      // pair generations land in PER-BATCH overwrite dirs (base, b0,
      // b1, …) so a replayed micro-batch rewrites its own dir instead
      // of appending duplicates — the versioned-sink idempotency rule
      scoredPairs(ss, dir, baseA.as("a").join(baseA.as("b"),
          col("a.cid") === col("b.cid") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b")))
        .write.mode("overwrite").parquet(s"$root/pairs/base")
      Replay.run(Replay.read(ss, feed, 1).writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          val s = batch.sparkSession
          val prev =
            if (batchId == 0) s.read.parquet(s"$root/assign/v0_init")
            else s.read.parquet(s"$root/assign/v${batchId - 1}")
          val w = Window.partitionBy("vec_id")
            .orderBy(col("s").desc, col("cid"))
          val batchA = batch.toDF()
            .crossJoin(broadcast(cents))
            .select(col("vec_id"), col("cid"),
              expr("cosine_sim(embedding, cv)").as("s"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("vec_id"), col("cid"))
          val visible = prev.unionByName(batchA)
          // the LATER-endpoint rule falls out structurally: the
          // left side is THIS batch only, so a prev×prev pair can
          // never form; batch×batch pairs normalize+dedup in-batch;
          // batch×prev pairs appear exactly once — every pair is
          // emitted in its later endpoint's batch, exactly once
          val cand = batchA.as("n").join(visible.as("x"),
              col("n.cid") === col("x.cid") &&
                col("n.vec_id") =!= col("x.vec_id"))
            .select(least(col("n.vec_id"), col("x.vec_id")).as("vec_a"),
              greatest(col("n.vec_id"), col("x.vec_id")).as("vec_b"))
            .distinct()
          scoredPairs(s, dir, cand).coalesce(1)
            .write.mode("overwrite").parquet(s"$root/pairs/b$batchId")
          visible.coalesce(1)
            .write.mode("overwrite").parquet(s"$root/assign/v$batchId")
          ()
      }, "graft_semdedup_sckpt_")
    }

  /** GRADED: the stream-ingested pair store — the maintained (batch)
    * oracle verbatim. */
  def semanticDedupPairsStreamed(spark: SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(
      Replay.batchDirs(s"${streamedPairsDir(spark, dir)}/pairs"): _*)
      .select(col("vec_a"), col("vec_b"), col("cosine_sim"))
      .orderBy("vec_a", "vec_b")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "semantic_dedup_pairs_streamed" ->
      (semanticDedupPairsStreamed(_, _)),
    "semantic_dedup_pairs_maintained" ->
      (semanticDedupPairsMaintained(_, _)),
    "semantic_dedup_survivors_maintained" ->
      (semanticDedupSurvivorsMaintained(_, _)),
    "semantic_dedup_survivors_lifecycle" ->
      (semanticDedupSurvivorsLifecycle(_, _)))

  // ------------------------------------------------------------------
  // Oracles: frozen centroids + both assignment generations + within-
  // cell pairs from scratch; closure; election. The lifecycle arm
  // drops pairs touching an erased vector BEFORE the closure.
  // ------------------------------------------------------------------

  private def cos(a: String, b: String) = {
    import Similarity.duckDot
    s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"
  }

  /** Shared prefix ending in `spairs(vec_a, vec_b, cosine_sim)`. */
  private def maintainedPairCtes: String =
    s"""base AS (
       |  SELECT * FROM embeddings
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) >= '2'),
       |cent AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM (
       |    SELECT vec_id, embedding,
       |      row_number() OVER (ORDER BY vec_id) AS rk,
       |      ceil(sqrt((SELECT count(*) FROM base))) AS nl
       |    FROM base) WHERE rk <= nl),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cos("e.embedding", "c.cv")} DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
       |pr AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM assign a JOIN assign b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id),
       |spairs AS (
       |  SELECT vec_a, vec_b, cosine_sim FROM (
       |    SELECT p.vec_a, p.vec_b,
       |      ${graft.functions.ScalarFns.roundSql(
            cos("ea.embedding", "eb.embedding"), 6)} AS cosine_sim
       |    FROM pr p
       |    JOIN embeddings ea ON ea.vec_id = p.vec_a
       |    JOIN embeddings eb ON eb.vec_id = p.vec_b)
       |  WHERE cosine_sim >= $Threshold)""".stripMargin

  /** Closure + election tail over a pair-CTE name. */
  private def electionOver(tbl: String): String =
    s"""edges AS (
       |  SELECT vec_a AS s, vec_b AS d FROM $tbl
       |  UNION ALL SELECT vec_b, vec_a FROM $tbl),
       |nodes AS (SELECT DISTINCT s AS vec_id FROM edges),
       |reach AS (
       |  SELECT vec_id, vec_id AS r FROM nodes
       |  UNION
       |  SELECT e.s AS vec_id, reach.r
       |  FROM reach JOIN edges e ON reach.vec_id = e.d),
       |eclu AS (SELECT vec_id, min(r) AS component FROM reach GROUP BY 1),
       |centsim AS (
       |  SELECT a.vec_id,
       |    ${graft.functions.ScalarFns.roundSql(
          cos("e.embedding", "c.cv"), 6)} AS cent_sim
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
       |ORDER BY component""".stripMargin

  val oracles: Map[String, String] = Map(
    "semantic_dedup_pairs_maintained" ->
      s"""WITH $maintainedPairCtes
         |SELECT vec_a, vec_b, cosine_sim FROM spairs
         |ORDER BY vec_a, vec_b""".stripMargin,
    // streamed twin: the batch oracle VERBATIM — micro-batch chopping
    // of the ingest must be invisible in the stored pair set
    "semantic_dedup_pairs_streamed" ->
      s"""WITH $maintainedPairCtes
         |SELECT vec_a, vec_b, cosine_sim FROM spairs
         |ORDER BY vec_a, vec_b""".stripMargin,
    "semantic_dedup_survivors_maintained" ->
      s"""WITH RECURSIVE $maintainedPairCtes,
         |${electionOver("spairs")}""".stripMargin,
    "semantic_dedup_survivors_lifecycle" ->
      s"""WITH RECURSIVE $maintainedPairCtes,
         |lpairs AS (
         |  SELECT vec_a, vec_b, cosine_sim FROM spairs
         |  WHERE ${IndexErasure.survivorSql("vec_a")}
         |    AND ${IndexErasure.survivorSql("vec_b")}),
         |${electionOver("lpairs")}""".stripMargin)
}
