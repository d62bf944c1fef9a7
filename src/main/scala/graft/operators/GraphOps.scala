package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Substrate

/** K-NN GRAPH + MULTI-SOURCE BFS — distributed graph traversal over a
  * similarity graph, the navigation primitive behind graph-ANN indexes
  * (NSW-style "greedy walk over a neighborhood graph") and the
  * "expand from curated seeds" corpus-growth move a training-data
  * pipeline runs (start from a trusted seed set, pull in everything
  * within k similarity hops, stop at a hop budget).
  *
  * The reference's retrieval surface is point-lookup + segmentation
  * (`tools.py:49-86`); this generalizes its similarity tier the same
  * way [[Similarity]]'s components/PageRank queries do — but where
  * components ask "which docs are transitively connected" and PageRank
  * asks "which are central", BFS asks the navigational question:
  * HOW FAR is every vector from the seed set, under a hop cap.
  *
  * Two stages, both graded end-to-end by one oracle:
  *
  * '''1. kNN-graph build (the edge generator).''' Exact all-pairs kNN
  * is N² — never built. Instead the graph rides the repo's IVF
  * machinery: every vector is assigned to its top-2 coarse buckets
  * (multi-probe assignment, the `cosine_topk_ivf2` move applied to the
  * DATA side), candidates are pairs sharing ≥1 bucket, and each node
  * keeps its top-2 candidates by exact cosine (ties to the smaller
  * neighbor id). Per-bucket population is ~√N (nlist = ⌈√N⌉ scales
  * with the corpus inside the plan), so candidate volume is O(N·√N) —
  * and the 2-probe overlap is what stitches neighboring buckets into
  * one navigable graph instead of √N disconnected cliques. Edges are
  * symmetrized (an NSW-style undirected neighborhood graph).
  *
  * '''2. Frontier BFS (the traversal).''' Textbook BSP/Pregel frontier
  * expansion: per round, one co-partitioned equi-join
  * (frontier ⋈ edges), one distinct, one anti-join against the visited
  * set — every round is shuffle-bounded by the frontier, never the
  * graph. The loop follows [[Similarity.connectedComponentsLoop]]'s
  * measured discipline: edges eagerly `localCheckpoint`ed and pinned
  * at [[Similarity.LoopParts]] partitions on the join key (so the
  * per-round join never re-shuffles the edge side), per-round visited
  * frames lazily checkpointed and materialized by the round's SINGLE
  * driver action (the new frontier count, which doubles as the
  * early-exit test), previous round's blocks released as the loop
  * advances, and the final labeling written to scratch parquet and
  * served as a file scan — fully rebuildable lineage, no driver
  * collect anywhere.
  *
  * Scale: rounds are capped (`maxHops`), each round's state is
  * O(vertices reached), and the expensive side (edges) is built once,
  * checkpointed once, and co-partitioned for every round. At 100 TB
  * the edge build is the dominant cost and it is the already-graded
  * IVF shape; the traversal itself is the cheap part — exactly why
  * hop-bounded seed expansion is the production corpus-growth tool.
  *
  * Oracle: the full chain — centroids, multi-probe assignment,
  * bucket-joined candidates, exact-cosine top-2, symmetrized edges —
  * is re-derived in DuckDB CTEs (same double arithmetic, same
  * tie-breaks), and the traversal is a `WITH RECURSIVE` walk with a
  * hop column; `min(hop)` per vertex ≡ BFS distance. Grading the
  * Spark loop against a recursive-CTE fixpoint pins the iterative
  * DataFrame program to declarative graph semantics.
  */
object GraphOps extends graft.QueryModule {

  /** Seed rule: graph vertices with vec_id ≡ 0 (mod SeedMod) — ~1% of
    * nodes, deterministic, engine-neutral integer arithmetic. */
  private val SeedMod = 97

  /** Hop budget. At sf0.01 the graph's true eccentricity from the
    * seed set is 8 — a cap of 6 leaves a non-trivial unreached tail,
    * so the grade also pins the cap semantics (not just reachability). */
  private val MaxHops = 6

  /** Symmetrized top-`deg`-per-node kNN edge set (src, dst), built
    * from IVF multi-probe buckets — O(N·√N) candidates, never N².
    * `deg` is the out-degree knob (NSW efConstruction's cousin): the
    * BFS substrate stays at the graded top-2; the search family also
    * grades a denser top-4 graph, where the walk's recall recovers
    * what the sparse graph gives up. */
  // The scored candidate table (va, vb, cs) is DEGREE-INDEPENDENT —
  // d2 and d4 graphs differ only in the final top-k filter — so the
  // expensive part (IVF sweep + O(N·√N) candidate scoring) is
  // materialized ONCE per corpus and every degree variant derives
  // from it with one window.
  private def scoredCandDir(spark: SparkSession, dir: String): String =
    Substrate.dir("graft_knn_cand_", dir) { out =>
      // top-2 coarse buckets per vector: the multi-probe assignment
      val wa = Window.partitionBy("vec_id")
        .orderBy(col("s").desc, col("cid"))
      // the raw sweep, NOT ResultCache'd: the cache's contract is
      // KB-sized post-aggregation frames, and pinning the O(N·√N)
      // score table regresses memory for the whole IVF family (r7c
      // review finding) — scratch parquet is the right home
      val assign2 = Similarity.ivfSims(spark, dir)
        .withColumn("rn", row_number().over(wa))
        .filter(col("rn") <= 2)
        .select(col("vec_id"), col("cid"))
      // candidates: distinct ordered pairs sharing any probe bucket.
      // Self-join on cid: per-bucket population ~2·√N (two probes), so
      // this is the O(N·√N) candidate generator, not a cross join.
      val cand = assign2.as("a")
        .join(assign2.as("b"),
          col("a.cid") === col("b.cid") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
        .distinct()
      val e = Tables(spark, dir, "embeddings")
      // exact cosine on candidates only; shuffle joins keyed on
      // vec_id — the corpus side is never broadcast (it IS the big
      // table)
      cand
        .join(e.select(col("vec_id").as("va"), col("embedding").as("ea")),
          "va")
        .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb")),
          "vb")
        .select(col("va"), col("vb"), expr("cosine_sim(ea, eb)").as("cs"))
        .write.mode("overwrite").parquet(out)
    }

  /** The scored candidate table as a frame (spec + margin mining). */
  private[graft] def scoredCand(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(scoredCandDir(spark, dir))

  /** GRADED (r10): MARGIN-BASED MUTUAL-kNN pair mining — the
    * Artetxe/Schwenk criterion (the CCMatrix/LASER bitext-mining
    * standard, applied here to near-duplicate mining): a pair is a
    * candidate only if each side sits in the OTHER's top-2 (mutual
    * kNN — kills hub vectors that are "everyone's neighbor"), and its
    * score is the RATIO margin `cos(x,y) / ((m_x + m_y)/2)` where m_v
    * is the mean of v's top-2 similarities — a local normalization
    * that separates "close because the region is dense" from "close
    * because they match". `is_mined` pins the classic margin > 1.05
    * threshold on the rounded value.
    *
    * Determinism: m_v = (max + min)/2 of ≤2 kept sims (order-free
    * aggregates, one exactly-rounded expression), margins rounded 6 dp
    * before the threshold compare. All off the SHARED once-per-corpus
    * scored-candidate table — zero new kernel work. */
  def mutualKnnMargin(spark: SparkSession, dir: String): DataFrame = {
    val scored = scoredCand(spark, dir)
    val wk = Window.partitionBy("va").orderBy(col("cs").desc, col("vb"))
    val knn = scored.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= 2)
      .select(col("va"), col("vb"), col("cs"))
    val stats = knn.groupBy(col("va"))
      .agg(((max(col("cs")) + min(col("cs"))) / lit(2.0)).as("m"))
    val mut = knn.as("a").join(knn.as("b"),
        col("a.va") === col("b.vb") && col("a.vb") === col("b.va") &&
          col("a.va") < col("a.vb"))
      .select(col("a.va").as("x"), col("a.vb").as("y"), col("a.cs").as("cs"))
    val margin = col("cs") / ((col("mx") + col("my")) / lit(2.0))
    mut
      .join(stats.select(col("va").as("x"), col("m").as("mx")), Seq("x"))
      .join(stats.select(col("va").as("y"), col("m").as("my")), Seq("y"))
      .select(col("x").as("va"), col("y").as("vb"),
        graft.functions.ScalarFns.roundN(col("cs"), 6).as("cosine"),
        graft.functions.ScalarFns.roundN(margin, 6).as("margin"))
      .withColumn("is_mined", col("margin") > 1.05)
      .orderBy("va", "vb")
  }

  private[graft] def knnEdges(spark: SparkSession, dir: String,
      deg: Int = 2): DataFrame = {
    val scored = spark.read.parquet(scoredCandDir(spark, dir))
    val wk = Window.partitionBy("va").orderBy(col("cs").desc, col("vb"))
    val knn = scored.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= deg)
      .select(col("va"), col("vb"))
    knn.select(col("va").as("src"), col("vb").as("dst"))
      .unionByName(knn.select(col("vb").as("src"), col("va").as("dst")))
      .distinct()
  }

  // The symmetrized edge set, materialized to scratch parquet ONCE per
  // (JVM, corpus): the BFS, the beam search, and the recall row all
  // consume the same graph — three IVF sweeps for one substrate would
  // triple the dominant cost (r8: the graph gained its SEARCH path).
  private[graft] def knnEdgesDir(spark: SparkSession, dir: String,
      deg: Int = 2): String =
    Substrate.dir("graft_knn_edges_", s"$dir#$deg") { out =>
      knnEdges(spark, dir, deg).write.mode("overwrite").parquet(out)
    }

  // ----------------------------------------------------------------
  // Graph INSERT maintenance (r8) — the lifecycle move the dedup
  // index and the postings index already grade, applied to the graph
  // family: a corpus grows daily, and rebuilding the whole kNN graph
  // per ingest is the job graph-ANN indexes exist to avoid. The NSW
  // insert: each NEW vector probes the BASE graph's coarse centroids
  // (top-2, the multi-probe assignment), scores the base vectors
  // sharing a probe bucket, keeps its top-2 base neighbors, and the
  // symmetrized new edges land as an APPENDED FILE SET — base edge
  // files are never rewritten (spec pins the name+length set). Base
  // distances MAY legitimately shorten through new nodes — the
  // maintained BFS is over the union graph, which is exactly what the
  // composed oracle computes.
  //
  // Centroids are the ⌈√|base|⌉ smallest base vec_ids (rank-based —
  // base ids aren't contiguous after the split); the count is one
  // driver scalar, planner metadata like ZOrder.bounds. Insert cost:
  // O(new · √N) probe + candidate scoring — never touches base×base.
  // ----------------------------------------------------------------

  /** Newly-ingested vectors: md5 first nibble '0'/'1' (~1/8). */
  private[graft] def isNewVec =
    substring(md5(col("vec_id").cast("string")), 1, 1) < "2"

  private[graft] final case class GraphState(root: String,
      baseFiles: Map[String, Long], deltaFiles: Map[String, Long],
      assignRoot: String)

  private def listParquet(root: String): Map[String, Long] =
    Option(new java.io.File(root).listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length).toMap

  private[graft] def maintainedEdges(spark: SparkSession,
      dir: String): GraphState =
    Substrate.state("graft_knn_maint_", dir) { root =>
      val e = Tables(spark, dir, "embeddings")
      val base = e.filter(!isNewVec)
      val fresh = e.filter(isNewVec)
      // centroid pick: one driver scalar (planner metadata), then a
      // TakeOrdered head — no global sort materialization
      val nl = math.ceil(math.sqrt(base.count().toDouble)).toInt
      val cents = base.orderBy(col("vec_id")).limit(nl)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      def assignOf(side: DataFrame): DataFrame = {
        val w = Window.partitionBy("vec_id")
          .orderBy(col("s").desc, col("cid"))
        graft.Tables.fanOut(spark, side, key = "vec_id")
          .crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cid"),
            expr("cosine_sim(embedding, cv)").as("s"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("vec_id"), col("cid"))
      }
      def topkSym(cand: DataFrame): DataFrame = topkSymOf(cand, e)
      // Persist the (tiny) probe assignments FIRST — in their own
      // scratch root, since the edge overwrite below truncates `root` —
      // and derive every candidate set from the read-back parquet
      // (r13, guide §1.2 don't-compute-twice): the coarse sweeps
      // (corpus × √N-centroid cosine) previously re-ran inside EVERY
      // downstream action — base sweep 3× (base-edge write, delta
      // write, assign_base write), fresh sweep 2×. One sweep each now;
      // the two writes overlap (§2.6). The HNSW-maintained walk reads
      // the same stored assignments via GraphState.assignRoot.
      val assignRoot = Tables.scratchDir("graft_knn_assign_")
        .getAbsolutePath
      Tables.concurrently(spark)(
        () => { assignOf(base).write.mode("overwrite")
          .parquet(s"$assignRoot/base"); null },
        () => { assignOf(fresh).write.mode("overwrite")
          .parquet(s"$assignRoot/new"); null })
      val baseAssign = spark.read.parquet(s"$assignRoot/base")
      val freshAssign = spark.read.parquet(s"$assignRoot/new")
      // base graph: candidates among base only
      val baseCand = baseAssign.as("a")
        .join(baseAssign.as("b"),
          col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
        .distinct()
      topkSym(baseCand).write.mode("overwrite").parquet(root)
      val baseFiles = listParquet(root)
      // insert: new probes base — candidates are new×base ONLY
      val newCand = freshAssign.as("n")
        .join(baseAssign.as("a"), col("n.cid") === col("a.cid"))
        .select(col("n.vec_id").as("va"), col("a.vec_id").as("vb"))
        .distinct()
      topkSym(newCand).write.mode("append").parquet(root)
      val all = listParquet(root)
      GraphState(root, baseFiles, all -- baseFiles.keys, assignRoot)
    }

  /** Exact-cosine top-2-per-`va` over a candidate pair set, then
    * symmetrized — the edge finisher shared by the maintained base
    * graph and the maintained HNSW layer graphs. */
  private def topkSymOf(cand: DataFrame, e: DataFrame): DataFrame = {
    val scored = cand
      .join(e.select(col("vec_id").as("va"), col("embedding").as("ea")),
        "va")
      .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb")),
        "vb")
      .select(col("va"), col("vb"), expr("cosine_sim(ea, eb)").as("cs"))
    val wk = Window.partitionBy("va").orderBy(col("cs").desc, col("vb"))
    val knn = scored.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= 2).select(col("va"), col("vb"))
    knn.select(col("va").as("src"), col("vb").as("dst"))
      .unionByName(knn.select(col("vb").as("src"), col("va").as("dst")))
      .distinct()
  }

  /** The BFS loop over ANY edge table — shared by the one-shot and
    * the maintained graphs (one definition, cannot drift). `edgesOf`
    * receives the session the loop PLANS under
    * ([[Similarity.loopSession]]: adaptive off — one job per round
    * instead of one per exchange; r12) so every loop frame derives
    * from it. */
  private def bfsFrom(spark: SparkSession,
      edgesOf: SparkSession => DataFrame): DataFrame = {
    val P = Similarity.LoopParts
    // edge side of every round's join: checkpoint ONCE, partitioned on
    // the join key so rounds re-shuffle only the (small) frontier
    val edges = edgesOf(Similarity.loopSession(spark))
      .repartition(P, col("src")).localCheckpoint(true)
    var visited: DataFrame = null
    var ok = false
    try {
      visited = edges.select(col("src").as("vec_id")).distinct()
        .filter(col("vec_id") % SeedMod === 0)
        .select(col("vec_id"), lit(0L).as("hop"))
        .repartition(P, col("vec_id"))
        .localCheckpoint(true)
      var frontier = visited.select("vec_id")
      var frontierN = frontier.count()
      var h = 1L
      while (h <= MaxHops && frontierN > 0) {
        // frontier arrives partitioned (vec_id, P) off the previous
        // round's checkpoint; edges are checkpoint-partitioned
        // (src, P): the join is exchange-free on both sides. distinct
        // + anti-join run on the explicit (vec_id, P) partitioning.
        val next = frontier
          .join(edges, frontier("vec_id") === edges("src"))
          .select(col("dst").as("vec_id"))
          .repartition(P, col("vec_id")).distinct()
          .join(visited, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), lit(h).as("hop"))
        val nv = visited.unionByName(next)
          .repartition(P, col("vec_id"))
          .localCheckpoint(false) // lazy: the count below materializes it
        val prev = visited
        visited = nv
        // THE round's single action: materializes the checkpoint and
        // yields the early-exit signal in one job
        frontierN = nv.filter(col("hop") === h).count()
        Similarity.releaseCheckpoint(prev)
        frontier = nv.filter(col("hop") === h).select("vec_id")
        h += 1
      }
      // serve from scratch parquet: the loop's checkpoint blocks are
      // released, so the returned frame must not lean on them
      // (rebuild-on-miss discipline, cf. connectedComponentsLoop)
      val out = Tables.scratchDir("graft_bfs_hops_")
      visited.write.mode("overwrite").parquet(out.getAbsolutePath)
      val served = spark.read.parquet(out.getAbsolutePath)
        .orderBy(col("vec_id"))
      ok = true
      served
    } finally {
      Similarity.releaseCheckpoint(edges)
      if (visited != null)
        try Similarity.releaseCheckpoint(visited)
        catch { case _: Throwable => () }
      if (!ok && visited != null)
        try visited.unpersist() catch { case _: Throwable => () }
    }
  }

  /** GRADED: min-hop distance from the seed set for every vertex
    * reached within [[MaxHops]] — (vec_id, hop), hop ∈ [0, MaxHops]. */
  def knnBfsHops(spark: SparkSession, dir: String): DataFrame = {
    val path = knnEdgesDir(spark, dir)
    bfsFrom(spark, ss => ss.read.parquet(path))
  }

  // ----------------------------------------------------------------
  // WEIGHTED single-source shortest paths — the min-PLUS upgrade of
  // the BFS above (hop counting = SSSP with unit weights): edge cost
  // is the integer similarity DEFICIT `10⁶ − round(cos·10⁶)` (near
  // neighbors are cheap to traverse, weak edges expensive), so the
  // distance ranks how similarity decays along the graph rather than
  // how many hops it takes. Frontier-based Bellman-Ford: round r
  // relaxes exactly the vertices improved in round r−1, so after
  // [[MaxHops]] rounds every ≤MaxHops-edge path has been considered —
  // the identical bound the oracle's recursive CTE states, making the
  // two engines comparable EXACTLY. Weights are deterministic
  // integers (the cosine is the same IEEE double on both engines; the
  // floor(x·10⁶+0.5) render is the roundN discipline), so min-plus
  // arithmetic never ties ambiguously across engines. Same checkpoint
  // regime as [[bfsFrom]]: edges checkpointed once partitioned on
  // src, one action per round, rebuild-safe scratch serve.
  // ----------------------------------------------------------------

  /** Weighted symmetric edge set off the SHARED scored-candidate
    * table — (src, dst, w) with w the similarity deficit in ppm. */
  private[graft] def weightedEdges(spark: SparkSession, dir: String,
      deg: Int = 2): DataFrame = {
    val scored = spark.read.parquet(scoredCandDir(spark, dir))
    val wk = Window.partitionBy("va").orderBy(col("cs").desc, col("vb"))
    val knn = scored.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= deg)
      .select(col("va"), col("vb"),
        expr("1000000 - CAST(floor(cs * 1000000.0 + 0.5) AS BIGINT)")
          .as("w"))
    knn.select(col("va").as("src"), col("vb").as("dst"), col("w"))
      .unionByName(knn.select(col("vb").as("src"), col("va").as("dst"),
        col("w")))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
  }

  /** GRADED: cheapest-similarity-path distance from the seed set for
    * every vertex reached within [[MaxHops]] edges — (vec_id,
    * dist_ppm). */
  def knnSsspDeficit(spark: SparkSession, dir: String): DataFrame = {
    val P = Similarity.LoopParts
    // the scored-cand substrate is built under the caller's session;
    // the loop itself plans non-adaptively (see Similarity.loopSession)
    scoredCandDir(spark, dir)
    val edges = weightedEdges(Similarity.loopSession(spark), dir)
      .repartition(P, col("src")).localCheckpoint(true)
    var dists: DataFrame = null
    var ok = false
    try {
      dists = edges.select(col("src").as("vec_id")).distinct()
        .filter(col("vec_id") % SeedMod === 0)
        .select(col("vec_id"), lit(0L).as("d"))
        .repartition(P, col("vec_id"))
        .localCheckpoint(true)
      var frontier = dists
      var improvedN = frontier.count()
      var r = 1
      while (r <= MaxHops && improvedN > 0) {
        // relax out-edges of last round's improved set; both join
        // sides arrive on their checkpoint partitioning
        val relaxed = frontier
          .join(edges, frontier("vec_id") === edges("src"))
          .select(col("dst").as("vec_id"),
            (frontier("d") + edges("w")).as("nd"))
          .repartition(P, col("vec_id"))
          .groupBy(col("vec_id")).agg(min(col("nd")).as("nd"))
        val merged = dists.select(col("vec_id"), col("d"))
          .join(relaxed, Seq("vec_id"), "full_outer")
          .select(col("vec_id"),
            when(col("d").isNull, col("nd"))
              .when(col("nd").isNull, col("d"))
              .otherwise(least(col("d"), col("nd"))).as("d"),
            (col("d").isNull ||
              (col("nd").isNotNull && col("nd") < col("d"))).as("imp"))
          .repartition(P, col("vec_id"))
          .localCheckpoint(false) // lazy: the count below materializes
        val prev = dists
        improvedN = merged.filter(col("imp")).count()
        dists = merged
        Similarity.releaseCheckpoint(prev)
        frontier = merged.filter(col("imp"))
          .select(col("vec_id"), col("d"))
        r += 1
      }
      val out = Tables.scratchDir("graft_knn_sssp_")
      dists.select(col("vec_id"), col("d").as("dist_ppm"))
        .write.mode("overwrite").parquet(out.getAbsolutePath)
      val served = spark.read.parquet(out.getAbsolutePath)
        .orderBy(col("vec_id"))
      ok = true
      served
    } finally {
      Similarity.releaseCheckpoint(edges)
      if (dists != null)
        try Similarity.releaseCheckpoint(dists)
        catch { case _: Throwable => () }
      if (!ok && dists != null)
        try dists.unpersist() catch { case _: Throwable => () }
    }
  }

  /** GRADED: the same BFS over the MAINTAINED (base ∪ inserted) graph
    * — the composed oracle re-derives base edges, the NSW insert
    * edges, unions, and walks; distances may legitimately shorten
    * through new nodes, which is exactly union-graph semantics. */
  def knnBfsHopsMaintained(spark: SparkSession, dir: String): DataFrame = {
    val root = maintainedEdges(spark, dir).root
    bfsFrom(spark, ss => ss.read.parquet(root))
  }

  /** GRADED (r10): the FULL index lifecycle — the maintained
    * (base ∪ inserted) graph under the GDPR retirement, in one
    * serving view. The erase class lives in the BASE slice (md5 'a'
    * ≥ '2'), but insert edges link new→base, so the delete delta
    * spans BOTH generations' files (spec pins retirement non-vacuous
    * in each) — the position-delete mechanism composes with the
    * append-only insert path with neither file set rewritten. The
    * oracle re-derives the union graph, drops every edge touching an
    * erased vector, and walks — grow and forget must commute into
    * plain predicate semantics. */
  def knnBfsHopsLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val root = maintainedEdges(spark, dir).root
    bfsFrom(spark, ss => IndexErasure.erasedView(ss, root,
      IndexErasure.erased(col("src")) || IndexErasure.erased(col("dst"))))
  }

  /** ERASURE propagation into the kNN edge files (r8 verdict #1):
    * erasing a vector must retire every edge row that references it —
    * src OR dst — or a graph walk keeps routing through (and
    * returning) the erased id. The delete delta is [[IndexErasure]]'s
    * position-delete file set over the stored deg-2 edge dir; the
    * walk runs over the DV-filtered view, so surviving components may
    * legitimately FRAGMENT where an erased vector was the bridge —
    * exactly what the oracle's surviving-edge walk computes. Seeds
    * derive from the surviving edges (an erased seed is gone with its
    * edges), matching the seeds-from-edges rule of the base query. */
  def knnBfsHopsErased(spark: SparkSession, dir: String): DataFrame = {
    val path = knnEdgesDir(spark, dir)
    bfsFrom(spark, ss => IndexErasure.erasedView(ss, path,
      IndexErasure.erased(col("src")) || IndexErasure.erased(col("dst"))))
  }

  /** GRADED: exact TRIANGLE census of the undirected kNN graph — the
    * standard graph-quality statistic (a kNN graph whose neighbors
    * are mutually close is triangle-dense; clustering collapse flags
    * a broken metric or a disconnected build). The 100 TB shape is
    * DEGREE ORIENTATION (Cohen's oriented wedge counting / the MR
    * triangle algorithm): orient every undirected edge from the
    * endpoint with smaller (degree, id) to the larger, so each
    * triangle is counted at exactly ONE vertex (its order-minimum)
    * and — the scale point — the wedge join fans out from each
    * vertex's OUT-degree, which orientation caps near √|E| even under
    * power-law skew (a celebrity vertex's million in-edges produce no
    * wedges at the celebrity; the wedge work lands on the low-degree
    * side). Clustering coefficient = 3·triangles/wedges in exact ppm
    * (floor div, both engines). */
  def knnTriangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOf(spark.read.parquet(knnEdgesDir(spark, dir)))

  /** The census over any symmetric edge set — fully lazy (the
    * triangle count is an aggregate in the returned plan, not a
    * driver-side count at build time); [[graft.GraphOpsSpec]] grades
    * it against a brute-force enumeration on a handmade graph. */
  private[graft] def trianglesOf(e: DataFrame): DataFrame = {
    val und = e.filter(col("src") < col("dst"))
      .select(col("src"), col("dst")).distinct()
    val deg = und.select(col("src").as("v"))
      .unionByName(und.select(col("dst").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // total order key: lexicographic (deg, id) as a STRUCT comparison
    // — not packed arithmetic (r10 review: deg·10⁹ + id stops being
    // lexicographic once ids reach 10⁹, silently corrupting the
    // orientation at exactly the scale the operator advertises)
    def ord(d: org.apache.spark.sql.Column,
        v: org.apache.spark.sql.Column) = struct(d.as("d"), v.as("v"))
    def srcFirst = ord(col("ds"), col("src")) < ord(col("dd"), col("dst"))
    val o = und
      .join(deg.select(col("v").as("src"), col("deg").as("ds")), Seq("src"))
      .join(deg.select(col("v").as("dst"), col("deg").as("dd")), Seq("dst"))
      .select(
        when(srcFirst, col("src")).otherwise(col("dst")).as("a"),
        when(srcFirst, col("dst")).otherwise(col("src")).as("b"),
        when(srcFirst, ord(col("dd"), col("dst")))
          .otherwise(ord(col("ds"), col("src"))).as("ordb"))
    // wedge at the order-minimum pivot, closed by the oriented edge
    // v→w (v precedes w in the total order by construction)
    val tri = o.as("e1").join(o.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.ordb") < col("e2.ordb"))
      .select(col("e1.b").as("v"), col("e2.b").as("w"))
      .join(o.as("c"), col("c.a") === col("v") && col("c.b") === col("w"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val stats = deg.agg(
      count(lit(1)).as("n_vertices"),
      expr("CAST(sum(deg) div 2 AS BIGINT)").as("n_edges"),
      expr("CAST(sum((deg * (deg - 1)) div 2) AS BIGINT)").as("n_wedges"))
    // two 1-row aggregates — the cross join is a driver-free constant
    stats.crossJoin(tri)
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        // widen before the ×3e6 (the Baskets idiom): BIGINT wraps
        // silently under ANSI-off once triangles exceed ~3e12
        expr("CAST((CAST(n_triangles AS DECIMAL(38,0)) * 3000000)" +
          " div n_wedges AS BIGINT)").as("clustering_ppm"))
  }

  // ----------------------------------------------------------------
  // GRAPH-ANN SEARCH (r7 verdict #2): the graph built above, finally
  // TRAVERSED FOR RETRIEVAL — NSW-style beam search, the navigation
  // move HNSW/NSW indexes run per query. Seeds = the query's top-
  // [[BeamProbes]] coarse centroids (the ivfAssign step applied to the
  // query — multi-probe seeding, same knob as `cosine_topk_ivf2`);
  // then [[BeamRounds]] rounds of: expand the beam by its out-edges,
  // score candidates by exact cosine against the query, keep the top
  // [[BeamWidth]] (ties to the smaller vec_id). Deterministic by
  // construction — no priority queue, no visit-order dependence — so
  // the whole walk unrolls into DuckDB CTEs round for round.
  //
  // Scale: per round the work is |beam|·degree scoring ops per query
  // — independent of corpus size; the corpus is touched only through
  // the (prebuilt, shared) edge list and the candidate-row embedding
  // lookups, i.e. O(b·deg·R) point reads per query where IVF pays a
  // whole probe-bucket scan. That is WHY graph-ANN wins at billions of
  // vectors — and the recall row pins what the repo's sparse top-2
  // graph gives up for it: the walk greedily descends a degree-~3
  // graph, and where the true neighborhood isn't stitched into the
  // local basin the beam cannot reach it (recall@10 is 1.0 at sf0.01
  // but ~0.5 at sf0.1 — the diagnostic the board exists to surface;
  // production raises out-degree/efConstruction, which densifies
  // exactly this graph).
  // ----------------------------------------------------------------

  private[graft] val BeamWidth = 16
  private[graft] val BeamRounds = 6
  private[graft] val BeamProbes = 2

  // final beam per (JVM, corpus), served from scratch parquet: both
  // graded consumers (top-k + recall row) and bench repeats read one
  // walk; every loop checkpoint is released once the write lands
  private[graft] def beamDir(spark: SparkSession, dir: String,
      deg: Int = 2): String =
    Substrate.dir("graft_beam_", s"$dir#$deg") { out =>
      // walk loop plans non-adaptively (Similarity.loopSession, r12):
      // per-round frames are 16 rows; AQE only adds per-exchange jobs
      val edgesPath = knnEdgesDir(spark, dir, deg) // substrate: parent session
      val ls = Similarity.loopSession(spark)
      val e = Tables(ls, dir, "embeddings")
      val edges = ls.read.parquet(edgesPath)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      // exact cosine of a candidate set against the broadcast query —
      // the only way the walk ever touches an embedding
      def scoreOf(cands: DataFrame): DataFrame =
        cands.join(e, Seq("vec_id"))
          .crossJoin(broadcast(q))
          .select(col("vec_id"), expr("cosine_sim(embedding, qv)").as("cs"))
      val nlist = e.agg(ceil(sqrt(count(lit(1)))).as("nlist"))
      val cents = e.crossJoin(broadcast(nlist))
        .filter(col("vec_id") < col("nlist")).select(col("vec_id"))
      var beam = scoreOf(cents)
        .orderBy(col("cs").desc, col("vec_id")).limit(BeamProbes)
        .localCheckpoint(true)
      try {
        for (_ <- 1 to BeamRounds) {
          // beam ∪ out-neighbors, rescored, pruned to the top-b. The
          // per-round eager checkpoint is the loop discipline: beam is
          // referenced twice below, and without the materialized leaf
          // the self-referencing plan doubles every round.
          val cand = beam.select(col("vec_id")).unionByName(
              beam.select(col("vec_id"))
                .join(edges, col("vec_id") === col("src"))
                .select(col("dst").as("vec_id")))
            .distinct()
          val nb = scoreOf(cand)
            .orderBy(col("cs").desc, col("vec_id")).limit(BeamWidth)
            .localCheckpoint(true)
          Similarity.releaseCheckpoint(beam)
          beam = nb
        }
        beam.write.mode("overwrite").parquet(out)
      } finally Similarity.releaseCheckpoint(beam)
    }

  /** GRADED: top-10 retrieval off the final beam (query vector 0, the
    * board's standing query) — the graph-ANN answer, judged against
    * the identical walk unrolled in DuckDB. */
  def graphAnnTopk(spark: SparkSession, dir: String,
      deg: Int = 2): DataFrame =
    spark.read.parquet(beamDir(spark, dir, deg))
      .filter(col("vec_id") =!= 0)
      .orderBy(col("cs").desc, col("vec_id")).limit(10)
      .select(col("vec_id"),
        graft.functions.ScalarFns.roundN(col("cs"), 6).as("cosine_sim"))

  // the ERASED walk's final beam (r8 verdict optional #9 — the graph-
  // ANN consumer of the kNN edge retirement): same walk, but edges =
  // the DV-filtered view (every edge touching an erased vector
  // retired — the SAME delete delta knn_bfs_hops_erased reads) and
  // entry centroids restricted to survivors, so the beam can neither
  // route through nor return an erased id. Post-deletion serving is
  // the half of index maintenance DELETE that actually matters: the
  // recall row below shows the walk still converges on the survivors.
  private[graft] def beamErasedDir(spark: SparkSession, dir: String): String =
    Substrate.dir("graft_beam_erased_", dir) { out =>
      val edgesPath = knnEdgesDir(spark, dir) // substrate: parent session
      val ls = Similarity.loopSession(spark)
      val e = Tables(ls, dir, "embeddings")
      val edges = IndexErasure.erasedView(ls, edgesPath,
        IndexErasure.erased(col("src")) || IndexErasure.erased(col("dst")))
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      def scoreOf(cands: DataFrame): DataFrame =
        cands.join(e, Seq("vec_id"))
          .crossJoin(broadcast(q))
          .select(col("vec_id"), expr("cosine_sim(embedding, qv)").as("cs"))
      val nlist = e.agg(ceil(sqrt(count(lit(1)))).as("nlist"))
      // entry points: the erased centroids' rows are retired with
      // their edges, so seeding on one would strand the beam — the
      // survivor filter is the seed-side half of the retirement
      val cents = e.crossJoin(broadcast(nlist))
        .filter(col("vec_id") < col("nlist"))
        .filter(!IndexErasure.erased(col("vec_id")))
        .select(col("vec_id"))
      var beam = scoreOf(cents)
        .orderBy(col("cs").desc, col("vec_id")).limit(BeamProbes)
        .localCheckpoint(true)
      try {
        for (_ <- 1 to BeamRounds) {
          val cand = beam.select(col("vec_id")).unionByName(
              beam.select(col("vec_id"))
                .join(edges, col("vec_id") === col("src"))
                .select(col("dst").as("vec_id")))
            .distinct()
          val nb = scoreOf(cand)
            .orderBy(col("cs").desc, col("vec_id")).limit(BeamWidth)
            .localCheckpoint(true)
          Similarity.releaseCheckpoint(beam)
          beam = nb
        }
        beam.write.mode("overwrite").parquet(out)
      } finally Similarity.releaseCheckpoint(beam)
    }

  /** GRADED: graph-ANN top-10 AFTER erasure — the beam walk over the
    * DV-filtered edge view; judged against the identical walk unrolled
    * in DuckDB over the surviving edge set. */
  def graphAnnTopkErased(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(beamErasedDir(spark, dir))
      .filter(col("vec_id") =!= 0)
      .orderBy(col("cs").desc, col("vec_id")).limit(10)
      .select(col("vec_id"),
        graft.functions.ScalarFns.roundN(col("cs"), 6).as("cosine_sim"))

  /** GRADED: the post-erasure recall row — the erased walk's top-10
    * against the exact top-10 over the SURVIVING corpus (erasure
    * changes the ground truth too: an erased vector is not a valid
    * answer). Shows the walk still converges after edge retirement. */
  def graphAnnRecallErased(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val res = spark.read.parquet(beamErasedDir(spark, dir))
      .filter(col("vec_id") =!= 0)
      .orderBy(col("cs").desc, col("vec_id")).limit(10)
      .select(col("vec_id"))
    // rounded-then-ordered, mirroring [[Similarity.cosineTopk]] (and
    // the oracle): ties must break at 6-dp precision on both engines
    val exact = e.filter(col("vec_id") =!= 0)
      .filter(!IndexErasure.erased(col("vec_id")))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), graft.functions.ScalarFns.roundN(
        expr("cosine_sim(embedding, qv)"), 6).as("cse"))
      .orderBy(col("cse").desc, col("vec_id")).limit(10)
      .select(col("vec_id"))
    exact.join(res, Seq("vec_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(s"graph_beam_b${BeamWidth}_r${BeamRounds}_d2_erased")
        .as("method"),
        col("n_overlap"),
        graft.functions.ScalarFns.roundN(
          col("n_overlap").cast("double") / 10.0, 4).as("recall_at_10"))
  }

  // ----------------------------------------------------------------
  // HNSW (r11 verdict #4): the hierarchical entry-point layers that
  // complete the graph-ANN family — Malkov & Yashunin's move over the
  // NSW base graph the repo already walks. Two SPARSE upper layers
  // (every vertex with md5 first nibble < '4' is promoted to layer 1
  // — p = 1/4, the deterministic stand-in for HNSW's geometric level
  // draw; first TWO nibbles < '4' promotes to layer 2, p = 1/16), each
  // carrying its own top-2 kNN graph among ITS members only (derived
  // from the shared scored-candidate table with a layer-membership
  // semi-filter — no new scoring work). Search = greedy DESCENT: start
  // at the ONE global entry point (max level, then min vec_id),
  // [[HnswDescentRounds]] fixed rounds per layer of "move to the
  // argmax cosine among {current} ∪ layer-neighbors(current)" (beam
  // width 1 — monotone by construction since the current node is in
  // its own candidate set, deterministic, unrollable), landing node
  // seeds the UNCHANGED base-layer beam walk. What the hierarchy buys
  // and the board measures: the base walk's IVF-centroid seeding costs
  // an O(√N)-candidate coarse sweep per query; the HNSW entry costs
  // O(deg·R) point reads through layers of N/16 and N/4 vertices —
  // the logarithmic-entry property that makes graph-ANN serving
  // corpus-size-independent end to end. Levels are a pure function of
  // vec_id, so insert/erasure maintenance composes exactly as the base
  // graph's (a new vector joins its layers by hash; no rebalancing).
  // ----------------------------------------------------------------

  private[graft] val HnswDescentRounds = 4

  /** Deterministic level of an id column: 2, 1 or 0 (see block
    * comment) — the pure hash the INSERT story leans on. */
  private def hnswLvlCol(id: Column): Column = {
    val h = md5(id.cast("string"))
    when(substring(h, 1, 1) < "4",
      when(substring(h, 2, 1) < "4", 2L).otherwise(1L))
      .otherwise(0L)
  }

  private def hnswLevels(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings").select(col("vec_id"),
      hnswLvlCol(col("vec_id")).as("lvl"))

  /** Layer-ℓ top-2 kNN edges among level ≥ ℓ members, from the shared
    * scored-candidate substrate (semi-filtered, re-windowed — the
    * d2/d4 degree-variant pattern applied to layer membership). */
  private def layerEdges(spark: SparkSession, dir: String,
      minLvl: Long): DataFrame = {
    val members = hnswLevels(spark, dir).filter(col("lvl") >= minLvl)
      .select(col("vec_id"))
    val scored = scoredCand(spark, dir)
      .join(members.select(col("vec_id").as("va")), Seq("va"), "left_semi")
      .join(members.select(col("vec_id").as("vb")), Seq("vb"), "left_semi")
    val wk = Window.partitionBy("va").orderBy(col("cs").desc, col("vb"))
    val knn = scored.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= 2)
      .select(col("va"), col("vb"))
    knn.select(col("va").as("src"), col("vb").as("dst"))
      .unionByName(knn.select(col("vb").as("src"), col("va").as("dst")))
      .distinct()
  }

  // the HNSW walk's final beam per (JVM, corpus) — descent + base walk
  // materialized once; both graded consumers read it
  private[graft] def hnswBeamDir(spark: SparkSession, dir: String): String =
    Substrate.dir("graft_hnsw_", dir) { out =>
      val basePath = knnEdgesDir(spark, dir, 2) // substrate: parent session
      val ls = Similarity.loopSession(spark)
      val e = Tables(ls, dir, "embeddings")
      val baseEdges = ls.read.parquet(basePath)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      def scoreOf(cands: DataFrame): DataFrame =
        cands.join(e, Seq("vec_id"))
          .crossJoin(broadcast(q))
          .select(col("vec_id"), expr("cosine_sim(embedding, qv)").as("cs"))
      // the ONE global entry point: max level, then min vec_id
      val entry = hnswLevels(ls, dir)
        .orderBy(col("lvl").desc, col("vec_id")).limit(1)
        .select(col("vec_id"))
      // NOTE (r13, honest negative result per guide §1.1): unrolling
      // the rounds into one lazy plan per layer was tried and
      // REGRESSED ~2.7x (recall_hnsw 3.3 -> 8.8 s board): each round
      // references the previous beam TWICE (self ∪ neighbors), so an
      // unrolled plan doubles per round and Spark's physical planner
      // has no common-subplan reuse across union branches — the prefix
      // recomputes 2^rounds times. The one-action-per-round
      // localCheckpoint discipline below is load-bearing, not overhead.
      var cur = scoreOf(entry).localCheckpoint(true)
      try {
        for (minLvl <- Seq(2L, 1L)) {
          val edges = layerEdges(ls, dir, minLvl).localCheckpoint(true)
          try {
            for (_ <- 1 to HnswDescentRounds) {
              val cand = cur.select(col("vec_id")).unionByName(
                  cur.select(col("vec_id"))
                    .join(edges, col("vec_id") === col("src"))
                    .select(col("dst").as("vec_id")))
                .distinct()
              val nc = scoreOf(cand)
                .orderBy(col("cs").desc, col("vec_id")).limit(1)
                .localCheckpoint(true)
              Similarity.releaseCheckpoint(cur)
              cur = nc
            }
          } finally Similarity.releaseCheckpoint(edges)
        }
        // base layer: the unchanged beam walk, seeded at the landing
        // node instead of the IVF coarse sweep
        for (_ <- 1 to BeamRounds) {
          val cand = cur.select(col("vec_id")).unionByName(
              cur.select(col("vec_id"))
                .join(baseEdges, col("vec_id") === col("src"))
                .select(col("dst").as("vec_id")))
            .distinct()
          val nb = scoreOf(cand)
            .orderBy(col("cs").desc, col("vec_id")).limit(BeamWidth)
            .localCheckpoint(true)
          Similarity.releaseCheckpoint(cur)
          cur = nb
        }
        cur.write.mode("overwrite").parquet(out)
      } finally Similarity.releaseCheckpoint(cur)
    }

  /** GRADED: top-10 off the HNSW walk's final beam — judged against
    * the per-layer unrolled walk in DuckDB. */
  def graphAnnTopkHnsw(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(hnswBeamDir(spark, dir))
      .filter(col("vec_id") =!= 0)
      .orderBy(col("cs").desc, col("vec_id")).limit(10)
      .select(col("vec_id"),
        graft.functions.ScalarFns.roundN(col("cs"), 6).as("cosine_sim"))

  /** GRADED: the HNSW row of the recall board, beside d2/d4 — what the
    * hierarchical entry gives or costs against the same exact top-10. */
  def graphAnnRecallHnsw(spark: SparkSession, dir: String): DataFrame = {
    val res = spark.read.parquet(hnswBeamDir(spark, dir))
      .filter(col("vec_id") =!= 0)
      .orderBy(col("cs").desc, col("vec_id")).limit(10)
      .select(col("vec_id"))
    val exact = Similarity.cosineTopk(spark, dir).select(col("vec_id"))
    exact.join(res, Seq("vec_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(s"graph_hnsw_l2_b${BeamWidth}_r${BeamRounds}_d2")
        .as("method"),
        col("n_overlap"),
        graft.functions.ScalarFns.roundN(
          col("n_overlap").cast("double") / 10.0, 4).as("recall_at_10"))
  }

  // HNSW INSERT maintenance (r12): levels are a pure hash of vec_id,
  // so a new vector joins its layers with no rebalancing, and each
  // layer graph maintains EXACTLY like the graded base graph — stored
  // base-layer edges are never rewritten, the new member's
  // top-2-into-base edges land as an appended file set (new×base
  // candidates only; base×base never re-forms). The walk then runs
  // over the union layer graphs and the union base graph — serving
  // composed with insert, the half of index maintenance that matters.
  private[graft] def hnswMaintainedDir(spark: SparkSession,
      dir: String): String =
    Substrate.dir("graft_hnsw_maint_", dir) { out =>
      val st = maintainedEdges(spark, dir)
      val e = Tables(spark, dir, "embeddings")
      // the stored probe assignments — no coarse sweep re-runs here
      val baseAssign = spark.read.parquet(s"${st.assignRoot}/base")
      val freshAssign = spark.read.parquet(s"${st.assignRoot}/new")
      // ONE write action for all four layer-edge sets (r12 verdict #5
      // / guide §1.2): the base-graph top-2 per layer and the
      // inserted-member delta per layer are computed exactly as
      // before (top-k windows stay SEPARATE per set — base×base edges
      // are never re-formed against the inserts), but their union
      // lands in a single (lvl, part)-partitioned parquet instead of
      // four sequential write jobs. part ∈ {base, delta} keeps the
      // maintenance story's FILE-SET separation (the delta is a
      // distinct file set beside the frozen base — GraphOpsSpec
      // asserts it); the walk below partition-prunes by lvl.
      Seq(2L, 1L).map { minLvl =>
        val bm = baseAssign.filter(hnswLvlCol(col("vec_id")) >= minLvl)
        val lCand = bm.as("a")
          .join(bm.as("b"), col("a.cid") === col("b.cid") &&
            col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
          .distinct()
        val nm = freshAssign.filter(hnswLvlCol(col("vec_id")) >= minLvl)
        val dCand = nm.as("n")
          .join(bm.as("a"), col("n.cid") === col("a.cid"))
          .select(col("n.vec_id").as("va"), col("a.vec_id").as("vb"))
          .distinct()
        topkSymOf(lCand, e).select(lit(minLvl).as("lvl"),
            lit("base").as("part"), col("src"), col("dst"))
          .unionByName(topkSymOf(dCand, e).select(lit(minLvl).as("lvl"),
            lit("delta").as("part"), col("src"), col("dst")))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").partitionBy("lvl", "part")
        .parquet(s"$out/layers")
      val ls = Similarity.loopSession(spark)
      val le = Tables(ls, dir, "embeddings")
      val baseEdges = ls.read.parquet(st.root) // base + delta files
      val q = le.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      def scoreOf(cands: DataFrame): DataFrame =
        cands.join(le, Seq("vec_id"))
          .crossJoin(broadcast(q))
          .select(col("vec_id"), expr("cosine_sim(embedding, qv)").as("cs"))
      // entry over the UNION corpus: a new vector can be the new entry
      val entry = hnswLevels(ls, dir)
        .orderBy(col("lvl").desc, col("vec_id")).limit(1)
        .select(col("vec_id"))
      var cur = scoreOf(entry).localCheckpoint(true)
      try {
        for (minLvl <- Seq(2L, 1L)) {
          val edges = ls.read.parquet(s"$out/layers")
            .filter(col("lvl") === minLvl).select(col("src"), col("dst"))
          for (_ <- 1 to HnswDescentRounds) {
            val cand = cur.select(col("vec_id")).unionByName(
                cur.select(col("vec_id"))
                  .join(edges, col("vec_id") === col("src"))
                  .select(col("dst").as("vec_id")))
              .distinct()
            val nc = scoreOf(cand)
              .orderBy(col("cs").desc, col("vec_id")).limit(1)
              .localCheckpoint(true)
            Similarity.releaseCheckpoint(cur)
            cur = nc
          }
        }
        for (_ <- 1 to BeamRounds) {
          val cand = cur.select(col("vec_id")).unionByName(
              cur.select(col("vec_id"))
                .join(baseEdges, col("vec_id") === col("src"))
                .select(col("dst").as("vec_id")))
            .distinct()
          val nb = scoreOf(cand)
            .orderBy(col("cs").desc, col("vec_id")).limit(BeamWidth)
            .localCheckpoint(true)
          Similarity.releaseCheckpoint(cur)
          cur = nb
        }
        cur.write.mode("overwrite").parquet(s"$out/beam")
      } finally Similarity.releaseCheckpoint(cur)
    }

  /** GRADED: HNSW serving composed with INSERT — top-10 off the
    * maintained-hierarchy walk (union layer graphs + union base
    * graph); judged against the composed union-graph walk unrolled in
    * DuckDB. */
  def graphAnnTopkHnswMaintained(spark: SparkSession,
      dir: String): DataFrame =
    spark.read.parquet(s"${hnswMaintainedDir(spark, dir)}/beam")
      .filter(col("vec_id") =!= 0)
      .orderBy(col("cs").desc, col("vec_id")).limit(10)
      .select(col("vec_id"),
        graft.functions.ScalarFns.roundN(col("cs"), 6).as("cosine_sim"))

  /** GRADED: post-insert recall — the maintained walk's top-10 against
    * the exact top-10 over the FULL (base + inserted) corpus: does
    * serving stay accurate after the index grew by appended deltas? */
  def graphAnnRecallHnswMaintained(spark: SparkSession,
      dir: String): DataFrame = {
    val res = spark.read.parquet(s"${hnswMaintainedDir(spark, dir)}/beam")
      .filter(col("vec_id") =!= 0)
      .orderBy(col("cs").desc, col("vec_id")).limit(10)
      .select(col("vec_id"))
    val exact = Similarity.cosineTopk(spark, dir).select(col("vec_id"))
    exact.join(res, Seq("vec_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(s"graph_hnsw_maint_l2_b${BeamWidth}_r${BeamRounds}_d2")
        .as("method"),
        col("n_overlap"),
        graft.functions.ScalarFns.roundN(
          col("n_overlap").cast("double") / 10.0, 4).as("recall_at_10"))
  }

  /** Batch query set: every [[BatchQueryMod]]-th vector (~4 %). */
  private[graft] val BatchQueryMod = 25

  // the batched walk's final beams, once per (JVM, corpus) — ALL
  // queries advance through each round together: per round ONE join
  // against the edge table and ONE window keyed (qid), so serving a
  // query batch costs the same number of Spark jobs as serving one
  // query — the ANN-serving amortization graph indexes exist for
  private[graft] def beamBatchDir(spark: SparkSession, dir: String): String =
    Substrate.dir("graft_beam_batch_", dir) { out =>
      val edgesPath = knnEdgesDir(spark, dir) // substrate: parent session
      val ls = Similarity.loopSession(spark)
      val e = Tables(ls, dir, "embeddings")
      val edges = ls.read.parquet(edgesPath)
      val qs = e.filter(col("vec_id") % BatchQueryMod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      def scoreOf(cands: DataFrame): DataFrame =
        cands.join(e, Seq("vec_id"))
          .join(broadcast(qs), Seq("qid"))
          .select(col("qid"), col("vec_id"),
            expr("cosine_sim(embedding, qv)").as("cs"))
      val nlist = e.agg(ceil(sqrt(count(lit(1)))).as("nlist"))
      val cents = e.crossJoin(broadcast(nlist))
        .filter(col("vec_id") < col("nlist")).select(col("vec_id"))
      val wq = Window.partitionBy("qid")
        .orderBy(col("cs").desc, col("vec_id"))
      var beam = scoreOf(qs.select(col("qid"))
          .crossJoin(broadcast(cents)))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= BeamProbes)
        .select(col("qid"), col("vec_id"), col("cs"))
        .localCheckpoint(true)
      try {
        for (_ <- 1 to BeamRounds) {
          val cand = beam.select(col("qid"), col("vec_id")).unionByName(
              beam.select(col("qid"), col("vec_id"))
                .join(edges, col("vec_id") === col("src"))
                .select(col("qid"), col("dst").as("vec_id")))
            .distinct()
          val nb = scoreOf(cand)
            .withColumn("rn", row_number().over(wq))
            .filter(col("rn") <= BeamWidth)
            .select(col("qid"), col("vec_id"), col("cs"))
            .localCheckpoint(true)
          Similarity.releaseCheckpoint(beam)
          beam = nb
        }
        beam.write.mode("overwrite").parquet(out)
      } finally Similarity.releaseCheckpoint(beam)
    }

  /** GRADED: BATCHED graph-ANN serving — top-10 per query for the
    * whole query set off ONE shared walk (every beam advances through
    * the same per-round join + window; jobs don't scale with query
    * count). Judged against the identical per-qid walk unrolled in
    * DuckDB. The query vector itself is excluded per qid. */
  def graphAnnTopkBatch(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("cs").desc, col("vec_id"))
    spark.read.parquet(beamBatchDir(spark, dir))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"),
        graft.functions.ScalarFns.roundN(col("cs"), 6).as("cosine_sim"))
      .orderBy(col("qid"), col("cosine_sim").desc, col("vec_id"))
  }

  /** GRADED: the graph-ANN row of the recall board — recall@10 of the
    * beam-search top-10 against the exact top-10, same contract as
    * `rp_recall` / `pq_recall`. */
  def graphAnnRecall(spark: SparkSession, dir: String,
      deg: Int = 2): DataFrame = {
    val res = spark.read.parquet(beamDir(spark, dir, deg))
      .filter(col("vec_id") =!= 0)
      .orderBy(col("cs").desc, col("vec_id")).limit(10)
      .select(col("vec_id"))
    val exact = Similarity.cosineTopk(spark, dir).select(col("vec_id"))
    exact.join(res, Seq("vec_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(s"graph_beam_b${BeamWidth}_r${BeamRounds}_d$deg")
        .as("method"),
        col("n_overlap"),
        graft.functions.ScalarFns.roundN(
          col("n_overlap").cast("double") / 10.0, 4).as("recall_at_10"))
  }

  /** Label-propagation seeds: 1 in 7 vectors keep their true label. */
  private[graft] val LpSeedMod = 7
  /** Synchronous propagation rounds — pinned, both engines. */
  private[graft] val LpRounds = 3

  /** GRADED (r10): LABEL PROPAGATION over the kNN graph — the
    * semi-supervised companion to the kNN classifier
    * (`knn_label_confusion`): a sparse seed set (vec_id % 7 = 0 keeps
    * its true label, clamped) spreads labels along the shared
    * symmetric edge substrate for [[LpRounds]] SYNCHRONOUS rounds
    * (round r reads only round r−1's labels — asynchronous LPA is
    * execution-order-dependent and ungradeable). Update rule: a
    * non-seed takes the majority label among its labeled neighbors
    * (count DESC, label ASC — the deterministic tie-break classic LPA
    * lacks), retaining its previous label when no neighbor is labeled.
    * Output grades the result against the held-out truth (the weak
    * supervision loop's acceptance metric).
    *
    * Scale shape: each round is one edge⋈label join + one
    * (vertex, label) partial-agg shuffle + one per-vertex argmax
    * window — vertex/edge granularity throughout, R pinned, the graph
    * substrate shared with the BFS/beam/SSSP family (one IVF sweep
    * per JVM×corpus). */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val edgesPath = knnEdgesDir(spark, dir) // substrate: parent session
    val ls = Similarity.loopSession(spark)
    val embs = Tables(ls, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("bigint").as("label_true"))
    val edges = ls.read.parquet(edgesPath)
    var lab = embs.select(col("vec_id"),
      when(col("vec_id") % LpSeedMod === 0, col("label_true"))
        .otherwise(lit(null).cast("bigint")).as("lab"))
    for (_ <- 1 to LpRounds) {
      val msgs = edges
        .join(lab.select(col("vec_id").as("dst"), col("lab").as("nlab")),
          Seq("dst"))
        .filter(col("nlab").isNotNull)
        .groupBy(col("src"), col("nlab"))
        .agg(count(lit(1)).as("c"))
      val wv = Window.partitionBy(col("src"))
        .orderBy(col("c").desc, col("nlab"))
      val prop = msgs.withColumn("rn", row_number().over(wv))
        .filter(col("rn") === 1)
        .select(col("src").as("vec_id"), col("nlab").as("maj"))
      lab = lab.join(prop, Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          when(col("vec_id") % LpSeedMod === 0, col("lab"))
            .otherwise(coalesce(col("maj"), col("lab"))).as("lab"))
    }
    lab.join(embs, Seq("vec_id"))
      .select(col("vec_id"),
        (col("vec_id") % LpSeedMod === 0).as("is_seed"),
        coalesce(col("lab"), lit(-1L)).as("label_pred"),
        col("label_true"),
        (coalesce(col("lab"), lit(-1L)) === col("label_true")).as("correct"))
      .orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "label_propagation" -> (labelPropagation(_, _)),
    "mutual_knn_margin" -> (mutualKnnMargin(_, _)),
    "knn_bfs_hops" -> (knnBfsHops(_, _)),
    "knn_bfs_hops_erased" -> (knnBfsHopsErased(_, _)),
    "knn_sssp" -> (knnSsspDeficit(_, _)),
    "knn_bfs_hops_maintained" -> (knnBfsHopsMaintained(_, _)),
    "knn_bfs_hops_lifecycle" -> (knnBfsHopsLifecycle(_, _)),
    "graph_ann_topk" -> ((s: SparkSession, d: String) => graphAnnTopk(s, d)),
    "graph_ann_recall" -> ((s: SparkSession, d: String) =>
      graphAnnRecall(s, d)),
    // the out-degree knob graded: the SAME walk over a denser top-4
    // graph recovers the recall the sparse top-2 graph gives up
    // (0.5 → 0.9 at sf0.1) — the navigability/degree trade the board
    // exists to pin
    "graph_ann_topk_d4" -> ((s: SparkSession, d: String) =>
      graphAnnTopk(s, d, deg = 4)),
    "graph_ann_topk_batch" -> (graphAnnTopkBatch(_, _)),
    "graph_ann_recall_d4" -> ((s: SparkSession, d: String) =>
      graphAnnRecall(s, d, deg = 4)),
    // DELETE maintenance composed with serving (r8 verdict optional
    // #9): the walk over the DV-retired edge set, and its recall row
    // against the surviving-corpus ground truth
    "graph_ann_topk_erased" -> (graphAnnTopkErased(_, _)),
    "graph_ann_recall_erased" -> (graphAnnRecallErased(_, _)),
    // the hierarchical entry layer (r11 #4): greedy descent through
    // two sparse layers seeds the same base walk — graded beside
    // d2/d4 on the recall board
    "graph_ann_topk_hnsw" -> (graphAnnTopkHnsw(_, _)),
    "graph_ann_recall_hnsw" -> (graphAnnRecallHnsw(_, _)),
    // INSERT maintenance composed with hierarchical serving: layer
    // membership is a pure hash, base layer edges frozen, new members'
    // top-2-into-base edges appended — then the same walk
    "graph_ann_topk_hnsw_maintained" -> (graphAnnTopkHnswMaintained(_, _)),
    "graph_ann_recall_hnsw_maintained" ->
      (graphAnnRecallHnswMaintained(_, _)),
    "knn_triangles" -> (knnTriangles(_, _)))

  /** DuckDB twin: same IVF multi-probe kNN edge derivation (identical
    * double arithmetic and tie-breaks), then a recursive hop walk —
    * min(hop) per vertex is the BFS distance. DISTINCT-over-UNION-ALL
    * in the edge CTE (not bare UNION): under WITH RECURSIVE DuckDB
    * gives top-level UNIONs in non-recursive CTEs recursive-union
    * semantics and duplicates would survive. */
  /** Shared DuckDB CTE chain re-deriving the kNN edge set — identical
    * double arithmetic and tie-breaks to [[knnEdges]]; consumed by all
    * three graded queries (ends at `edges(src, dst)`, no WITH). */
  private def edgeCtes: String = edgeCtesDeg(2)

  /** The degree-independent prefix (cent→sims→assign→cand→scored) —
    * shared by every edge-deriving oracle AND the margin-mining
    * oracle, mirroring [[scoredCandDir]]'s once-per-corpus build. */
  private def scoredCtes: String = {
    import Similarity.duckDot
    def cos(a: String, b: String) =
      s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"
    s"""cent AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
       |  WHERE vec_id < ceil(sqrt((SELECT count(*) FROM embeddings)))),
       |sims AS (
       |  SELECT e.vec_id, c.cid, ${cos("e.embedding", "c.cv")} AS s
       |  FROM embeddings e CROSS JOIN cent c),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY s DESC, cid) AS rn
       |    FROM sims) WHERE rn <= 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM assign a JOIN assign b
       |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |scored AS (
       |  SELECT c.va, c.vb, ${cos("ea.embedding", "eb.embedding")} AS cs
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.va
       |  JOIN embeddings eb ON eb.vec_id = c.vb)""".stripMargin
  }

  private def edgeCtesDeg(deg: Int): String = {
    s"""$scoredCtes,
       |knn AS (
       |  SELECT va, vb FROM (
       |    SELECT va, vb,
       |      row_number() OVER (PARTITION BY va
       |                         ORDER BY cs DESC, vb) AS rn
       |    FROM scored) WHERE rn <= $deg),
       |edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT va AS src, vb AS dst FROM knn
       |    UNION ALL
       |    SELECT vb, va FROM knn))""".stripMargin
  }

  /** The same chain keeping the cosine: knn carries the similarity
    * deficit weight, the symmetrized edge set keeps the min weight
    * per (src, dst) — the DuckDB twin of [[weightedEdges]]. */
  private def weightedEdgeCtes: String = {
    import Similarity.duckDot
    def cos(a: String, b: String) =
      s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"
    s"""cent AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
       |  WHERE vec_id < ceil(sqrt((SELECT count(*) FROM embeddings)))),
       |sims AS (
       |  SELECT e.vec_id, c.cid, ${cos("e.embedding", "c.cv")} AS s
       |  FROM embeddings e CROSS JOIN cent c),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY s DESC, cid) AS rn
       |    FROM sims) WHERE rn <= 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM assign a JOIN assign b
       |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |scored AS (
       |  SELECT c.va, c.vb, ${cos("ea.embedding", "eb.embedding")} AS cs
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.va
       |  JOIN embeddings eb ON eb.vec_id = c.vb),
       |knn AS (
       |  SELECT va, vb,
       |    1000000 - CAST(floor(cs * 1000000.0 + 0.5) AS BIGINT) AS w
       |  FROM (
       |    SELECT va, vb, cs,
       |      row_number() OVER (PARTITION BY va
       |                         ORDER BY cs DESC, vb) AS rn
       |    FROM scored) WHERE rn <= 2),
       |wedges AS (
       |  SELECT src, dst, min(w) AS w FROM (
       |    SELECT va AS src, vb AS dst, w FROM knn
       |    UNION ALL
       |    SELECT vb, va, w FROM knn) GROUP BY 1, 2)""".stripMargin
  }

  /** The beam walk unrolled: entry = top-[[BeamProbes]] centroids,
    * then one CTE per round keeping the raw-cosine top-[[BeamWidth]]
    * of beam ∪ out-neighbors — ends at `b{BeamRounds}(vec_id, cs)`.
    * `allcos` scores every vertex once; each round reads only its
    * candidates from it (the SQL mirror of the Spark side's per-round
    * candidate scoring). */
  private def beamCtes: String = beamCtesOver("edges", "")

  /** The walk with the edge table and an optional entry-centroid
    * predicate pluggable — the erased twin walks `sedges` (survivor
    * edges) seeded on surviving centroids only. */
  private def beamCtesOver(edgeTable: String, entryWhere: String): String = {
    import Similarity.duckDot
    def cos(a: String, b: String) =
      s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"
    val rounds = (1 to BeamRounds).map { r =>
      val prev = s"b${r - 1}"
      s"""b$r AS (SELECT vec_id, cs FROM (
         |  SELECT a.vec_id, a.cs,
         |    row_number() OVER (ORDER BY a.cs DESC, a.vec_id) AS rn
         |  FROM allcos a
         |  WHERE a.vec_id IN (SELECT vec_id FROM $prev)
         |     OR a.vec_id IN (SELECT e.dst FROM $edgeTable e
         |                     JOIN $prev p ON e.src = p.vec_id)
         |  ) WHERE rn <= $BeamWidth)""".stripMargin
    }.mkString(",\n")
    s"""qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
       |allcos AS (
       |  SELECT e.vec_id, ${cos("e.embedding", "q.v")} AS cs
       |  FROM embeddings e, qv q),
       |entry AS (SELECT cid AS vec_id FROM (
       |  SELECT c.cid, a.cs,
       |    row_number() OVER (ORDER BY a.cs DESC, c.cid) AS rn
       |  FROM cent c JOIN allcos a ON a.vec_id = c.cid
       |  $entryWhere)
       |  WHERE rn <= $BeamProbes),
       |b0 AS (SELECT a.vec_id, a.cs FROM allcos a JOIN entry USING (vec_id)),
       |$rounds""".stripMargin
  }

  /** Unrolled synchronous LPA oracle: lab0 = clamped seeds; each round
    * r = majority CTE + argmax CTE + update CTE, reading only
    * lab(r−1) — the same synchronous contract the Spark loop states. */
  private def labelPropagationSql: String = {
    val rounds = (1 to LpRounds).map { r =>
      s"""m$r AS (
         |  SELECT e.src, l.lab AS nlab, count(*) AS c
         |  FROM edges e JOIN lab${r - 1} l ON l.vec_id = e.dst
         |  WHERE l.lab IS NOT NULL
         |  GROUP BY 1, 2),
         |p$r AS (
         |  SELECT src, nlab FROM (
         |    SELECT src, nlab,
         |      row_number() OVER (PARTITION BY src
         |        ORDER BY c DESC, nlab) AS rn
         |    FROM m$r) x WHERE rn = 1),
         |lab$r AS (
         |  SELECT l.vec_id,
         |    CASE WHEN l.vec_id % $LpSeedMod = 0 THEN l.lab
         |      ELSE coalesce(p.nlab, l.lab) END AS lab
         |  FROM lab${r - 1} l LEFT JOIN p$r p ON p.src = l.vec_id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |lab0 AS (
       |  SELECT vec_id,
       |    CASE WHEN vec_id % $LpSeedMod = 0
       |      THEN CAST(label AS BIGINT) ELSE NULL END AS lab
       |  FROM embeddings),
       |$rounds
       |SELECT l.vec_id,
       |  l.vec_id % $LpSeedMod = 0 AS is_seed,
       |  coalesce(l.lab, -1) AS label_pred,
       |  CAST(e.label AS BIGINT) AS label_true,
       |  coalesce(l.lab, -1) = CAST(e.label AS BIGINT) AS correct
       |FROM lab$LpRounds l JOIN embeddings e ON e.vec_id = l.vec_id
       |ORDER BY l.vec_id""".stripMargin
  }

  private def mutualKnnMarginSql: String = {
    val r6 = (e: String) => graft.functions.ScalarFns.roundSql(e, 6)
    s"""WITH $scoredCtes,
       |knn AS (
       |  SELECT va, vb, cs FROM (
       |    SELECT va, vb, cs,
       |      row_number() OVER (PARTITION BY va
       |                         ORDER BY cs DESC, vb) AS rn
       |    FROM scored) k WHERE rn <= 2),
       |stats AS (
       |  SELECT va, (max(cs) + min(cs)) / 2.0 AS m FROM knn GROUP BY 1),
       |mut AS (
       |  SELECT a.va AS x, a.vb AS y, a.cs AS cs
       |  FROM knn a JOIN knn b ON a.va = b.vb AND a.vb = b.va
       |  WHERE a.va < a.vb)
       |SELECT mut.x AS va, mut.y AS vb,
       |  ${r6("mut.cs")} AS cosine,
       |  ${r6("mut.cs / ((sx.m + sy.m) / 2.0)")} AS margin,
       |  ${r6("mut.cs / ((sx.m + sy.m) / 2.0)")} > 1.05 AS is_mined
       |FROM mut
       |JOIN stats sx ON sx.va = mut.x
       |JOIN stats sy ON sy.va = mut.y
       |ORDER BY va, vb""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "label_propagation" -> labelPropagationSql,
    "mutual_knn_margin" -> mutualKnnMarginSql,
    "knn_bfs_hops" ->
      s"""WITH RECURSIVE $edgeCtes,
         |seeds AS (
         |  SELECT DISTINCT src AS vec_id FROM edges
         |  WHERE src % $SeedMod = 0),
         |walk AS (
         |  SELECT vec_id, 0 AS hop FROM seeds
         |  UNION
         |  SELECT e.dst AS vec_id, w.hop + 1 AS hop
         |  FROM walk w JOIN edges e ON e.src = w.vec_id
         |  WHERE w.hop < $MaxHops)
         |SELECT vec_id, CAST(min(hop) AS BIGINT) AS hop
         |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,
    // the erased twin: the SAME edge derivation (the stored graph was
    // built on the full corpus — list rows are retired, the graph is
    // never rebuilt), then every edge touching an erased vector is
    // dropped and the walk runs over the survivors; seeds re-derive
    // from the surviving edge set
    "knn_bfs_hops_erased" ->
      s"""WITH RECURSIVE $edgeCtes,
         |sedges AS (
         |  SELECT src, dst FROM edges
         |  WHERE ${IndexErasure.survivorSql("src")}
         |    AND ${IndexErasure.survivorSql("dst")}),
         |seeds AS (
         |  SELECT DISTINCT src AS vec_id FROM sedges
         |  WHERE src % $SeedMod = 0),
         |walk AS (
         |  SELECT vec_id, 0 AS hop FROM seeds
         |  UNION
         |  SELECT e.dst AS vec_id, w.hop + 1 AS hop
         |  FROM walk w JOIN sedges e ON e.src = w.vec_id
         |  WHERE w.hop < $MaxHops)
         |SELECT vec_id, CAST(min(hop) AS BIGINT) AS hop
         |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,
    // min-plus walk over the weighted edges: ≤ MaxHops-edge paths
    // enumerated, min(total deficit) per vertex — the recursive-CTE
    // ground truth the frontier Bellman-Ford must reproduce exactly
    "knn_sssp" ->
      s"""WITH RECURSIVE $weightedEdgeCtes,
         |seeds AS (
         |  SELECT DISTINCT src AS vec_id FROM wedges
         |  WHERE src % $SeedMod = 0),
         |walk AS (
         |  SELECT vec_id, CAST(0 AS BIGINT) AS d, 0 AS r FROM seeds
         |  UNION
         |  SELECT e.dst AS vec_id, w.d + e.w AS d, w.r + 1 AS r
         |  FROM walk w JOIN wedges e ON e.src = w.vec_id
         |  WHERE w.r < $MaxHops)
         |SELECT vec_id, CAST(min(d) AS BIGINT) AS dist_ppm
         |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,
    "knn_bfs_hops_maintained" -> maintainedBfsOracle,
    "knn_bfs_hops_lifecycle" -> lifecycleBfsOracle,
    "graph_ann_topk_batch" -> batchTopkOracle,
    "graph_ann_topk" -> topkOracle(2),
    "graph_ann_topk_d4" -> topkOracle(4),
    "graph_ann_recall" -> recallOracle(2),
    "graph_ann_recall_d4" -> recallOracle(4),
    "graph_ann_topk_erased" -> topkErasedOracle,
    "graph_ann_recall_erased" -> recallErasedOracle,
    "graph_ann_topk_hnsw" -> topkHnswOracle,
    "graph_ann_recall_hnsw" -> recallHnswOracle,
    "graph_ann_topk_hnsw_maintained" -> topkHnswMaintainedOracle,
    "graph_ann_recall_hnsw_maintained" -> recallHnswMaintainedOracle,
    // INDEPENDENT formulation on purpose: the naive id-ordered triple
    // join (a<b<c, all three edges present) — not a restatement of
    // the Spark side's degree orientation, so hash equality proves
    // the oriented wedge count itself, not just engine parity
    "knn_triangles" ->
      s"""WITH $edgeCtes,
         |und AS (SELECT DISTINCT src, dst FROM edges WHERE src < dst),
         |dg AS (
         |  SELECT v, count(*) AS deg FROM (
         |    SELECT src AS v FROM und UNION ALL SELECT dst FROM und)
         |  GROUP BY 1),
         |wed AS (SELECT sum((deg * (deg - 1)) // 2) AS n_wedges FROM dg),
         |tri AS (
         |  SELECT count(*) AS n_triangles
         |  FROM und e1
         |  JOIN und e2 ON e2.src = e1.src AND e2.dst > e1.dst
         |  JOIN und e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
         |SELECT
         |  CAST((SELECT count(*) FROM dg) AS BIGINT) AS n_vertices,
         |  CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
         |  CAST(w.n_wedges AS BIGINT) AS n_wedges,
         |  CAST(t.n_triangles AS BIGINT) AS n_triangles,
         |  CAST((CAST(t.n_triangles AS HUGEINT) * 3000000)
         |    // w.n_wedges AS BIGINT) AS clustering_ppm
         |FROM tri t, wed w""".stripMargin)

  /** Survivor edge set: the stored graph is never rebuilt — every
    * edge touching an erased vector is dropped (the SQL restatement
    * of the DV retirement). */
  private def erasedEdgeCte: String =
    s"""sedges AS (
       |  SELECT src, dst FROM edges
       |  WHERE ${IndexErasure.survivorSql("src")}
       |    AND ${IndexErasure.survivorSql("dst")})""".stripMargin

  private def erasedEntryWhere: String =
    s"WHERE ${IndexErasure.survivorSql("c.cid")}"

  private def topkErasedOracle: String =
    s"""WITH $edgeCtes,
       |$erasedEdgeCte,
       |${beamCtesOver("sedges", erasedEntryWhere)}
       |SELECT vec_id,
       |  ${graft.functions.ScalarFns.roundSql("cs", 6)} AS cosine_sim
       |FROM b$BeamRounds
       |WHERE vec_id <> 0 ORDER BY cs DESC, vec_id LIMIT 10""".stripMargin

  private def recallErasedOracle: String = {
    import Similarity.duckDot
    val cosR = graft.functions.ScalarFns.roundSql(
      s"(${duckDot("e.embedding", "q.v")} / " +
        s"(sqrt(${duckDot("e.embedding", "e.embedding")}) * " +
        s"sqrt(${duckDot("q.v", "q.v")})))", 6)
    s"""WITH $edgeCtes,
       |$erasedEdgeCte,
       |${beamCtesOver("sedges", erasedEntryWhere)},
       |res AS (SELECT vec_id FROM (
       |  SELECT vec_id, cs,
       |    row_number() OVER (ORDER BY cs DESC, vec_id) AS rn
       |  FROM b$BeamRounds WHERE vec_id <> 0) WHERE rn <= 10),
       |exact AS (
       |  SELECT e.vec_id, $cosR AS cse
       |  FROM embeddings e, qv q
       |  WHERE e.vec_id <> 0
       |    AND ${IndexErasure.survivorSql("e.vec_id")}
       |  ORDER BY cse DESC, e.vec_id LIMIT 10)
       |SELECT 'graph_beam_b${BeamWidth}_r${BeamRounds}_d2_erased' AS method,
       |  CAST(count(*) AS BIGINT) AS n_overlap,
       |  ${graft.functions.ScalarFns.roundSql("count(*) / 10.0", 4)}
       |    AS recall_at_10
       |FROM res JOIN exact USING (vec_id)
       |ORDER BY method""".stripMargin
  }

  /** The maintained graph re-derived end to end: base chain with
    * rank-based centroids over the base slice, the NSW insert chain
    * (new probes base centroids, candidates new×base only), union,
    * recursive walk — identical arithmetic and tie-breaks. */
  /** The walk tail over any edge-CTE name (shared by the maintained
    * and the lifecycle oracles — one spelling, cannot drift). */
  private def walkOver(tbl: String): String =
    s"""seeds AS (
       |  SELECT DISTINCT src AS vec_id FROM $tbl
       |  WHERE src % $SeedMod = 0),
       |walk AS (
       |  SELECT vec_id, 0 AS hop FROM seeds
       |  UNION
       |  SELECT e.dst AS vec_id, w.hop + 1 AS hop
       |  FROM walk w JOIN $tbl e ON e.src = w.vec_id
       |  WHERE w.hop < $MaxHops)
       |SELECT vec_id, CAST(min(hop) AS BIGINT) AS hop
       |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin

  private def maintainedBfsOracle: String =
    s"""WITH RECURSIVE $maintainedEdgeCtes,
       |${walkOver("edges")}""".stripMargin

  /** The full-lifecycle twin: the SAME union-graph derivation, every
    * edge touching an erased vector dropped, then the walk. */
  private def lifecycleBfsOracle: String =
    s"""WITH RECURSIVE $maintainedEdgeCtes,
       |sedges AS (
       |  SELECT src, dst FROM edges
       |  WHERE ${IndexErasure.survivorSql("src")}
       |    AND ${IndexErasure.survivorSql("dst")}),
       |${walkOver("sedges")}""".stripMargin

  private def maintainedEdgeCtes: String = {
    import Similarity.duckDot
    def cos(a: String, b: String) =
      s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"
    s"""base AS (
       |  SELECT * FROM embeddings
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) >= '2'),
       |newv AS (
       |  SELECT * FROM embeddings
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '2'),
       |cent AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM (
       |    SELECT vec_id, embedding,
       |      row_number() OVER (ORDER BY vec_id) AS rk,
       |      ceil(sqrt((SELECT count(*) FROM base))) AS nl
       |    FROM base) WHERE rk <= nl),
       |sims AS (
       |  SELECT b.vec_id, c.cid, ${cos("b.embedding", "c.cv")} AS s
       |  FROM base b CROSS JOIN cent c),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY s DESC, cid) AS rn
       |    FROM sims) WHERE rn <= 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM assign a JOIN assign b
       |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |scored AS (
       |  SELECT c.va, c.vb, ${cos("ea.embedding", "eb.embedding")} AS cs
       |  FROM cand c JOIN embeddings ea ON ea.vec_id = c.va
       |  JOIN embeddings eb ON eb.vec_id = c.vb),
       |knn AS (
       |  SELECT va, vb FROM (
       |    SELECT va, vb,
       |      row_number() OVER (PARTITION BY va
       |                         ORDER BY cs DESC, vb) AS rn
       |    FROM scored) WHERE rn <= 2),
       |bedges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT va AS src, vb AS dst FROM knn
       |    UNION ALL SELECT vb, va FROM knn)),
       |nsims AS (
       |  SELECT n.vec_id, c.cid, ${cos("n.embedding", "c.cv")} AS s
       |  FROM newv n CROSS JOIN cent c),
       |nassign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY s DESC, cid) AS rn
       |    FROM nsims) WHERE rn <= 2),
       |ncand AS (
       |  SELECT DISTINCT na.vec_id AS va, a.vec_id AS vb
       |  FROM nassign na JOIN assign a ON na.cid = a.cid),
       |nscored AS (
       |  SELECT c.va, c.vb, ${cos("ea.embedding", "eb.embedding")} AS cs
       |  FROM ncand c JOIN embeddings ea ON ea.vec_id = c.va
       |  JOIN embeddings eb ON eb.vec_id = c.vb),
       |nknn AS (
       |  SELECT va, vb FROM (
       |    SELECT va, vb,
       |      row_number() OVER (PARTITION BY va
       |                         ORDER BY cs DESC, vb) AS rn
       |    FROM nscored) WHERE rn <= 2),
       |dedges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT va AS src, vb AS dst FROM nknn
       |    UNION ALL SELECT vb, va FROM nknn)),
       |edges AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT * FROM bedges UNION ALL SELECT * FROM dedges))""".stripMargin
  }

  /** The batched walk unrolled per qid: candidate CTE (beam ∪
    * out-neighbors, DISTINCT over UNION ALL) + per-qid top-B window
    * per round; entry = top-2 centroids per qid. */
  private def batchTopkOracle: String = {
    import Similarity.duckDot
    def cos(a: String, b: String) =
      s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"
    val rounds = (1 to BeamRounds).map { r =>
      val prev = if (r == 1) "b0" else s"b${r - 1}"
      s"""bc$r AS (
         |  SELECT DISTINCT qid, vec_id FROM (
         |    SELECT qid, vec_id FROM $prev
         |    UNION ALL
         |    SELECT p.qid, e.dst AS vec_id
         |    FROM edges e JOIN $prev p ON e.src = p.vec_id)),
         |b$r AS (SELECT qid, vec_id, cs FROM (
         |  SELECT a.qid, a.vec_id, a.cs,
         |    row_number() OVER (PARTITION BY a.qid
         |                       ORDER BY a.cs DESC, a.vec_id) AS rn
         |  FROM allcos a JOIN bc$r USING (qid, vec_id)
         |  ) WHERE rn <= $BeamWidth)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |       WHERE vec_id % $BatchQueryMod = 0),
       |allcos AS (
       |  SELECT q.qid, e.vec_id, ${cos("e.embedding", "q.qv")} AS cs
       |  FROM embeddings e CROSS JOIN qs q),
       |entry AS (SELECT qid, cid AS vec_id FROM (
       |  SELECT a.qid, c.cid, a.cs,
       |    row_number() OVER (PARTITION BY a.qid
       |                       ORDER BY a.cs DESC, c.cid) AS rn
       |  FROM cent c JOIN allcos a ON a.vec_id = c.cid)
       |  WHERE rn <= $BeamProbes),
       |b0 AS (SELECT a.qid, a.vec_id, a.cs
       |       FROM allcos a JOIN entry USING (qid, vec_id)),
       |$rounds
       |SELECT qid, vec_id,
       |  ${graft.functions.ScalarFns.roundSql("cs", 6)} AS cosine_sim
       |FROM (
       |  SELECT qid, vec_id, cs,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY cs DESC, vec_id) AS rn
       |  FROM b$BeamRounds WHERE vec_id <> qid) WHERE rn <= 10
       |ORDER BY qid, cosine_sim DESC, vec_id""".stripMargin
  }

  /** The HNSW walk unrolled: level table → per-layer top-2 graphs →
    * greedy descent (width-1 beam, [[HnswDescentRounds]] rounds per
    * layer) → the base beam rounds seeded at the landing node. Ends at
    * `b$BeamRounds(vec_id, cs)` like [[beamCtes]]. */
  private def hnswCos(a: String, b: String): String = {
    import Similarity.duckDot
    s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"
  }

  /** The shared walk prelude: levels, query cosines, global entry.
    * Every doubling-referenced CTE is MATERIALIZED — DuckDB inlines
    * plain CTEs and 14 doubling rounds otherwise expand past the
    * process fd limit (the neardup_coreness lesson). */
  private def hnswCommonCtes: String =
    s"""lvl AS MATERIALIZED (
       |  SELECT vec_id,
       |    CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '4'
       |      THEN CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)
       |          < '4' THEN 2 ELSE 1 END
       |      ELSE 0 END AS lvl
       |  FROM embeddings),
       |qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
       |allcos AS MATERIALIZED (
       |  SELECT e.vec_id, ${hnswCos("e.embedding", "q.v")} AS cs
       |  FROM embeddings e, qv q),
       |ent AS MATERIALIZED (SELECT vec_id FROM (
       |  SELECT vec_id, row_number() OVER (ORDER BY lvl DESC, vec_id)
       |    AS rn
       |  FROM lvl) x WHERE rn = 1)""".stripMargin

  /** Width-1 greedy descent rounds over layer graph `etab`. */
  private def hnswGreedyCtes(pref: String, start: String,
      etab: String): String =
    (1 to HnswDescentRounds).map { r =>
      val prev = if (r == 1) start else s"${pref}_${r - 1}"
      s"""${pref}_$r AS MATERIALIZED (SELECT vec_id FROM (
         |  SELECT a.vec_id,
         |    row_number() OVER (ORDER BY a.cs DESC, a.vec_id) AS rn
         |  FROM allcos a
         |  WHERE a.vec_id IN (SELECT vec_id FROM $prev)
         |     OR a.vec_id IN (SELECT e.dst FROM $etab e
         |                     JOIN $prev p ON e.src = p.vec_id)
         |  ) x WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** The base-layer beam rounds b1..b[[BeamRounds]] over `edges`
    * (whatever edge CTE the surrounding chain defines). */
  private def hnswBeamRoundCtes: String =
    (1 to BeamRounds).map { r =>
      val prev = s"b${r - 1}"
      s"""b$r AS MATERIALIZED (SELECT vec_id, cs FROM (
         |  SELECT a.vec_id, a.cs,
         |    row_number() OVER (ORDER BY a.cs DESC, a.vec_id) AS rn
         |  FROM allcos a
         |  WHERE a.vec_id IN (SELECT vec_id FROM $prev)
         |     OR a.vec_id IN (SELECT e.dst FROM edges e
         |                     JOIN $prev p ON e.src = p.vec_id)
         |  ) WHERE rn <= $BeamWidth)""".stripMargin
    }.mkString(",\n")

  private def hnswCtes: String = {
    def layer(k: String, e: String, l: String) =
      s"""$k AS MATERIALIZED (
         |  SELECT va, vb FROM (
         |    SELECT s.va, s.vb,
         |      row_number() OVER (PARTITION BY s.va
         |                         ORDER BY s.cs DESC, s.vb) AS rn
         |    FROM scored s
         |    JOIN $l la ON la.vec_id = s.va
         |    JOIN $l lb ON lb.vec_id = s.vb) x WHERE rn <= 2),
         |$e AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT va AS src, vb AS dst FROM $k
         |    UNION ALL SELECT vb, va FROM $k))""".stripMargin
    s"""$hnswCommonCtes,
       |l2 AS (SELECT vec_id FROM lvl WHERE lvl >= 2),
       |l1 AS (SELECT vec_id FROM lvl WHERE lvl >= 1),
       |${layer("k2", "e2", "l2")},
       |${layer("k1", "e1", "l1")},
       |${hnswGreedyCtes("g2", "ent", "e2")},
       |${hnswGreedyCtes("g1", s"g2_$HnswDescentRounds", "e1")},
       |b0 AS MATERIALIZED (SELECT a.vec_id, a.cs FROM allcos a
       |  WHERE a.vec_id IN (SELECT vec_id FROM g1_$HnswDescentRounds)),
       |$hnswBeamRoundCtes""".stripMargin
  }

  /** The MAINTAINED hierarchy unrolled: layer graphs derived from the
    * stored base/new probe assignments exactly as the Spark builder —
    * base-member candidates (base×base within the layer) plus
    * new-member probes (new×base within the layer), each top-2 by
    * cosine then symmetrized — then the shared descent and the beam
    * rounds over the union base graph (`edges` from
    * [[maintainedEdgeCtes]]). */
  private def hnswMaintainedCtes: String = {
    def layerM(tag: Int): String =
      s"""bm$tag AS (
         |  SELECT a.vec_id, a.cid FROM assign a
         |  JOIN lvl h ON h.vec_id = a.vec_id AND h.lvl >= $tag),
         |nm$tag AS (
         |  SELECT n.vec_id, n.cid FROM nassign n
         |  JOIN lvl h ON h.vec_id = n.vec_id AND h.lvl >= $tag),
         |bc$tag AS (
         |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
         |  FROM bm$tag a JOIN bm$tag b
         |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |bs$tag AS (
         |  SELECT c.va, c.vb, ${hnswCos("ea.embedding", "eb.embedding")}
         |    AS cs
         |  FROM bc$tag c JOIN embeddings ea ON ea.vec_id = c.va
         |  JOIN embeddings eb ON eb.vec_id = c.vb),
         |bk$tag AS (
         |  SELECT va, vb FROM (
         |    SELECT va, vb, row_number() OVER (PARTITION BY va
         |      ORDER BY cs DESC, vb) AS rn FROM bs$tag) x WHERE rn <= 2),
         |dc$tag AS (
         |  SELECT DISTINCT n.vec_id AS va, a.vec_id AS vb
         |  FROM nm$tag n JOIN bm$tag a ON n.cid = a.cid),
         |ds$tag AS (
         |  SELECT c.va, c.vb, ${hnswCos("ea.embedding", "eb.embedding")}
         |    AS cs
         |  FROM dc$tag c JOIN embeddings ea ON ea.vec_id = c.va
         |  JOIN embeddings eb ON eb.vec_id = c.vb),
         |dk$tag AS (
         |  SELECT va, vb FROM (
         |    SELECT va, vb, row_number() OVER (PARTITION BY va
         |      ORDER BY cs DESC, vb) AS rn FROM ds$tag) x WHERE rn <= 2),
         |e${tag}m AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT va AS src, vb AS dst FROM bk$tag
         |    UNION ALL SELECT vb, va FROM bk$tag
         |    UNION ALL SELECT va, vb FROM dk$tag
         |    UNION ALL SELECT vb, va FROM dk$tag))""".stripMargin
    s"""$hnswCommonCtes,
       |${layerM(2)},
       |${layerM(1)},
       |${hnswGreedyCtes("g2", "ent", "e2m")},
       |${hnswGreedyCtes("g1", s"g2_$HnswDescentRounds", "e1m")},
       |b0 AS MATERIALIZED (SELECT a.vec_id, a.cs FROM allcos a
       |  WHERE a.vec_id IN (SELECT vec_id FROM g1_$HnswDescentRounds)),
       |$hnswBeamRoundCtes""".stripMargin
  }

  private def topkHnswMaintainedOracle: String =
    s"""WITH RECURSIVE $maintainedEdgeCtes,
       |$hnswMaintainedCtes
       |SELECT vec_id,
       |  ${graft.functions.ScalarFns.roundSql("cs", 6)} AS cosine_sim
       |FROM b$BeamRounds
       |WHERE vec_id <> 0 ORDER BY cs DESC, vec_id LIMIT 10""".stripMargin

  private def recallHnswMaintainedOracle: String = {
    import Similarity.duckDot
    val cosR = graft.functions.ScalarFns.roundSql(
      s"(${duckDot("e.embedding", "q.v")} / " +
        s"(sqrt(${duckDot("e.embedding", "e.embedding")}) * " +
        s"sqrt(${duckDot("q.v", "q.v")})))", 6)
    s"""WITH RECURSIVE $maintainedEdgeCtes,
       |$hnswMaintainedCtes,
       |res AS (SELECT vec_id FROM (
       |  SELECT vec_id, cs,
       |    row_number() OVER (ORDER BY cs DESC, vec_id) AS rn
       |  FROM b$BeamRounds WHERE vec_id <> 0) WHERE rn <= 10),
       |exact AS (
       |  SELECT e.vec_id, $cosR AS cse
       |  FROM embeddings e, qv q
       |  WHERE e.vec_id <> 0
       |  ORDER BY cse DESC, e.vec_id LIMIT 10)
       |SELECT 'graph_hnsw_maint_l2_b${BeamWidth}_r${BeamRounds}_d2'
       |    AS method,
       |  CAST(count(*) AS BIGINT) AS n_overlap,
       |  ${graft.functions.ScalarFns.roundSql("count(*) / 10.0", 4)}
       |    AS recall_at_10
       |FROM res JOIN exact USING (vec_id)
       |ORDER BY method""".stripMargin
  }

  private def topkHnswOracle: String =
    s"""WITH ${edgeCtesDeg(2)},
       |$hnswCtes
       |SELECT vec_id,
       |  ${graft.functions.ScalarFns.roundSql("cs", 6)} AS cosine_sim
       |FROM b$BeamRounds
       |WHERE vec_id <> 0 ORDER BY cs DESC, vec_id LIMIT 10""".stripMargin

  private def recallHnswOracle: String = {
    import Similarity.duckDot
    val cosR = graft.functions.ScalarFns.roundSql(
      s"(${duckDot("e.embedding", "q.v")} / " +
        s"(sqrt(${duckDot("e.embedding", "e.embedding")}) * " +
        s"sqrt(${duckDot("q.v", "q.v")})))", 6)
    s"""WITH ${edgeCtesDeg(2)},
       |$hnswCtes,
       |res AS (SELECT vec_id FROM (
       |  SELECT vec_id, cs,
       |    row_number() OVER (ORDER BY cs DESC, vec_id) AS rn
       |  FROM b$BeamRounds WHERE vec_id <> 0) WHERE rn <= 10),
       |exact AS (
       |  SELECT e.vec_id, $cosR AS cse
       |  FROM embeddings e, qv q
       |  WHERE e.vec_id <> 0
       |  ORDER BY cse DESC, e.vec_id LIMIT 10)
       |SELECT 'graph_hnsw_l2_b${BeamWidth}_r${BeamRounds}_d2' AS method,
       |  CAST(count(*) AS BIGINT) AS n_overlap,
       |  ${graft.functions.ScalarFns.roundSql("count(*) / 10.0", 4)}
       |    AS recall_at_10
       |FROM res JOIN exact USING (vec_id)
       |ORDER BY method""".stripMargin
  }

  private def topkOracle(deg: Int): String =
    s"""WITH ${edgeCtesDeg(deg)},
       |$beamCtes
       |SELECT vec_id,
       |  ${graft.functions.ScalarFns.roundSql("cs", 6)} AS cosine_sim
       |FROM b$BeamRounds
       |WHERE vec_id <> 0 ORDER BY cs DESC, vec_id LIMIT 10""".stripMargin

  private def recallOracle(deg: Int): String = {
    import Similarity.duckDot
    val cosR = graft.functions.ScalarFns.roundSql(
      s"(${duckDot("e.embedding", "q.v")} / " +
        s"(sqrt(${duckDot("e.embedding", "e.embedding")}) * " +
        s"sqrt(${duckDot("q.v", "q.v")})))", 6)
    s"""WITH ${edgeCtesDeg(deg)},
       |$beamCtes,
       |res AS (SELECT vec_id FROM (
       |  SELECT vec_id, cs,
       |    row_number() OVER (ORDER BY cs DESC, vec_id) AS rn
       |  FROM b$BeamRounds WHERE vec_id <> 0) WHERE rn <= 10),
       |exact AS (
       |  SELECT e.vec_id, $cosR AS cse
       |  FROM embeddings e, qv q
       |  WHERE e.vec_id <> 0
       |  ORDER BY cse DESC, e.vec_id LIMIT 10)
       |SELECT 'graph_beam_b${BeamWidth}_r${BeamRounds}_d$deg' AS method,
       |  CAST(count(*) AS BIGINT) AS n_overlap,
       |  ${graft.functions.ScalarFns.roundSql("count(*) / 10.0", 4)}
       |    AS recall_at_10
       |FROM res JOIN exact USING (vec_id)
       |ORDER BY method""".stripMargin
  }
}
