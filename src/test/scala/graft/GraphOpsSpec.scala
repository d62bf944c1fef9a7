package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** kNN-graph BFS: distance-certificate invariants that pin the hop
  * labels to true BFS semantics without re-deriving the oracle. */
class GraphOpsSpec extends SparkSpec {

  private lazy val edges: Map[Long, Set[Long]] =
    GraphOps.knnEdges(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }

  private lazy val hops: Map[Long, Long] =
    GraphOps.knnBfsHops(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap

  test("edge set is symmetric and irreflexive") {
    assert(edges.nonEmpty)
    edges.foreach { case (s, ds) =>
      assert(!ds.contains(s), s"self-loop at $s")
      ds.foreach(d => assert(edges(d).contains(s), s"asymmetric $s->$d"))
    }
  }

  test("every node keeps at least 2 neighbors (top-2 out-degree, " +
      "symmetrization only adds)") {
    edges.foreach { case (s, ds) =>
      assert(ds.size >= 2, s"node $s has degree ${ds.size}")
    }
  }

  test("seeds are exactly the mod-97 vertices, at hop 0") {
    val seeds = edges.keySet.filter(_ % 97 == 0)
    assert(seeds.nonEmpty, "no seeds in graph at sf0.001")
    assert(hops.filter(_._2 == 0L).keySet == seeds)
  }

  test("hop labels are valid BFS distances: every hop-h>0 node has a " +
      "hop-(h-1) neighbor and none closer") {
    assert(hops.nonEmpty)
    hops.foreach { case (v, h) =>
      if (h > 0) {
        val nbr = edges(v).flatMap(hops.get)
        assert(nbr.min == h - 1,
          s"$v at hop $h has nearest labeled neighbor at ${nbr.min}")
      }
    }
  }

  test("frontier closure: an unreached node never touches a labeled " +
      "node at hop < cap (the cap is the only reason it is missing)") {
    val unreached = edges.keySet -- hops.keySet
    unreached.foreach { v =>
      val labeled = edges(v).flatMap(hops.get)
      assert(labeled.forall(_ >= 6), s"unreached $v adjacent to hop " +
        s"${if (labeled.isEmpty) "none" else labeled.min}")
    }
  }

  test("maintained graph: base edge files untouched by the insert; " +
      "every delta edge touches a new vector; every new vector is " +
      "wired in; maintained BFS ≡ a driver replay over the union") {
    val st = GraphOps.maintainedEdges(spark, sf0001)
    assert(st.baseFiles.nonEmpty && st.deltaFiles.nonEmpty)
    val now = st.baseFiles.keys.map(n =>
      n -> new java.io.File(st.root, n).length).toMap
    assert(now == st.baseFiles, "a base edge file was rewritten")
    val isNew = (v: Long) => {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = "%02x".format(md.digest(v.toString.getBytes("UTF-8"))(0))
      h.charAt(0) < '2'
    }
    val delta = spark.read.parquet(
        st.deltaFiles.keys.map(n => s"${st.root}/$n").toSeq: _*)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(delta.forall { case (s, d) => isNew(s) || isNew(d) },
      "a delta edge touches no new vector")
    val newIds = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id")).collect().map(_.getLong(0)).filter(isNew).toSet
    val wired = delta.flatMap { case (s, d) => Seq(s, d) }.filter(isNew).toSet
    assert(wired == newIds, s"unwired new vectors: ${newIds -- wired}")
    // independent BFS replay over the union edge map
    val union = spark.read.parquet(st.root).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    var dist = union.keySet.filter(_ % 97 == 0).map(_ -> 0L).toMap
    var frontier = dist.keySet
    var h = 1L
    while (h <= 6 && frontier.nonEmpty) {
      val next = frontier.flatMap(v => union.getOrElse(v, Set.empty))
        .diff(dist.keySet)
      dist ++= next.map(_ -> h)
      frontier = next
      h += 1
    }
    val got = GraphOps.knnBfsHopsMaintained(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == dist,
      s"diff: +${(got.toSet -- dist.toSet).take(3)} " +
        s"-${(dist.toSet -- got.toSet).take(3)}")
  }

  test("maintained graph build sweeps once: the embeddings × centroids " +
      "crossJoin runs only in the two assignment writes, and every " +
      "candidate-set write reads the stored assignments") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.datasources
      .InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes) ++
        other.subqueries.flatMap(nodes)
    })
    // a fresh path over the same corpus misses the per-path memo, so
    // this JVM builds the maintained graph once more, under the listener
    val tmp = java.nio.file.Files.createTempDirectory("graft_spec_graph_")
    val link = java.nio.file.Files.createSymbolicLink(tmp.resolve("sf"),
      java.nio.file.Paths.get(sf0001)).toString
    // (write output path or "", executed plan) per action, in order
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String,
      SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.analyzed.collectFirst {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
        }.getOrElse("") -> qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val st =
      try {
        val st = GraphOps.maintainedEdges(spark, link)
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        st
      } finally {
        spark.listenerManager.unregister(listener)
        java.nio.file.Files.delete(java.nio.file.Paths.get(link))
        java.nio.file.Files.delete(tmp)
      }
    import scala.jdk.CollectionConverters._
    val plans = seen.asScala.toSeq
    def sweeps(p: SparkPlan): Boolean = nodes(p).exists(n =>
      n.nodeName.startsWith("BroadcastNestedLoopJoin") ||
        n.nodeName.startsWith("CartesianProduct"))
    def readsAssign(p: SparkPlan): Boolean = nodes(p).exists(n =>
      fileScans(n).exists(_.relation.location.rootPaths
        .exists(_.toString.contains("graft_knn_assign_"))))
    val sweepOuts = plans.filter(x => sweeps(x._2)).map(_._1)
    assert(sweepOuts.map(_.split('/').last).sorted == Seq("base", "new"),
      s"crossJoin plans write to: $sweepOuts")
    assert(sweepOuts.forall(_.contains("graft_knn_assign_")), sweepOuts)
    val candWrites = plans.filter(_._1.stripPrefix("file:") == st.root)
    assert(candWrites.size == 2,
      s"${candWrites.size} writes to the edge root ${st.root}")
    candWrites.foreach { case (out, p) =>
      assert(readsAssign(p) && !sweeps(p),
        s"candidate write to $out recomputes the assignment sweep")
    }
  }

  test("batched walk ≡ the single-query walk for the shared query: " +
      "qid 0's final beam matches beamDir exactly") {
    val batch = spark.read.parquet(GraphOps.beamBatchDir(spark, sf0001))
      .filter(col("qid") === 0L)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    val single = spark.read.parquet(GraphOps.beamDir(spark, sf0001))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(batch == single,
      s"diff: +${(batch -- single).take(3)} -${(single -- batch).take(3)}")
    // and the batch covers every query id
    val qids = spark.read.parquet(GraphOps.beamBatchDir(spark, sf0001))
      .select(col("qid")).distinct().collect().map(_.getLong(0)).toSet
    val expect = Tables(spark, sf0001, "embeddings")
      .filter(col("vec_id") % GraphOps.BatchQueryMod === 0)
      .collect().map(_.getLong(0)).toSet
    assert(qids == expect)
  }

  // driver-side cosine in the SAME left-to-right double fold as the
  // CosineSim expression — exact-equality safe
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("beam search: the final beam is EXACTLY a driver-side replay of " +
      "the walk (seeds, expansion, pruning, tie-breaks); top-k and the " +
      "recall row are consistent with it") {
    val emb = Tables(spark, sf0001, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val q = emb(0L)
    val cosq = emb.map { case (v, e) => v -> cosine(e, q) }
    // independent replay of the whole walk off the collected edge map
    val ncent = math.ceil(math.sqrt(emb.size.toDouble)).toLong
    val seedRank = (0L until ncent)
      .sortBy(c => (-cosq(c), c)).take(GraphOps.BeamProbes)
    var beam = seedRank.toSet
    for (_ <- 1 to GraphOps.BeamRounds) {
      val cand = beam ++ beam.flatMap(v => edges.getOrElse(v, Set.empty))
      beam = cand.toSeq.sortBy(v => (-cosq(v), v))
        .take(GraphOps.BeamWidth).toSet
    }
    val got = spark.read.parquet(GraphOps.beamDir(spark, sf0001))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == beam,
      s"beam diff: +${got.keySet -- beam} -${beam -- got.keySet}")
    assert(got.size <= GraphOps.BeamWidth)
    got.foreach { case (v, cs) => assert(cs == cosq(v), s"score drift $v") }
    // top-k = top-10 of the beam minus the query vertex
    val expectTop = beam.toSeq.filter(_ != 0L)
      .sortBy(v => (-cosq(v), v)).take(10)
    val gotTop = GraphOps.graphAnnTopk(spark, sf0001).collect()
      .map(_.getLong(0)).toSeq
    assert(gotTop == expectTop)
    // recall row consistent with an exact driver-side top-10
    val exact = emb.keySet.filter(_ != 0L).toSeq
      .sortBy(v => (-math.floor(cosq(v) * 1e6 + 0.5) / 1e6, v)).take(10)
    val overlap = exact.toSet.intersect(gotTop.toSet).size
    val row = GraphOps.graphAnnRecall(spark, sf0001).collect().head
    assert(row.getString(0) == s"graph_beam_b${GraphOps.BeamWidth}" +
      s"_r${GraphOps.BeamRounds}_d2")
    assert(row.getLong(1) == overlap.toLong)
    assert(row.getDouble(2) ==
      math.floor(overlap / 10.0 * 1e4 + 0.5) / 1e4)
    // the walk found something real: non-trivial overlap with exact
    assert(overlap > 0, "recall 0 — the walk never left its seeds")
  }

  test("hnsw walk: levels, layer graphs, greedy descent and the seeded " +
      "base walk all replay exactly on the driver; recall row consistent") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def lvlOf(v: Long): Int = {
      val h = md5hex(v.toString)
      if (h(0) < '4') { if (h(1) < '4') 2 else 1 } else 0
    }
    val emb = Tables(spark, sf0001, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cosq = emb.map { case (v, e) => v -> cosine(e, emb(0L)) }
    // layers are non-trivially populated and nest
    val l1 = emb.keySet.filter(lvlOf(_) >= 1)
    val l2 = emb.keySet.filter(lvlOf(_) >= 2)
    assert(l2.nonEmpty && l2.subsetOf(l1) && l1.size < emb.size)
    // layer edges replayed from the shared scored-candidate table
    val scored = GraphOps.scoredCand(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def layerEdges(members: Set[Long]): Map[Long, Set[Long]] = {
      val knn = scored.filter(s => members(s._1) && members(s._2))
        .groupBy(_._1).toSeq.flatMap { case (va, xs) =>
          xs.sortBy(x => (-x._3, x._2)).take(2).map(x => (va, x._2)) }
      (knn ++ knn.map(p => (p._2, p._1))).groupBy(_._1)
        .map { case (s, es) => s -> es.map(_._2).toSet }
    }
    val entry = emb.keySet.toSeq.sortBy(v => (-lvlOf(v), v)).head
    var cur = entry
    for (members <- Seq(l2, l1)) {
      val le = layerEdges(members)
      for (_ <- 1 to GraphOps.HnswDescentRounds) {
        val cand = Set(cur) ++ le.getOrElse(cur, Set.empty)
        cur = cand.toSeq.sortBy(v => (-cosq(v), v)).head
      }
    }
    var beam = Set(cur)
    for (_ <- 1 to GraphOps.BeamRounds) {
      val cand = beam ++ beam.flatMap(v => edges.getOrElse(v, Set.empty))
      beam = cand.toSeq.sortBy(v => (-cosq(v), v))
        .take(GraphOps.BeamWidth).toSet
    }
    val got = spark.read.parquet(GraphOps.hnswBeamDir(spark, sf0001))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == beam,
      s"hnsw beam diff: +${got.keySet -- beam} -${beam -- got.keySet}")
    got.foreach { case (v, cs) => assert(cs == cosq(v), s"score drift $v") }
    val expectTop = beam.toSeq.filter(_ != 0L)
      .sortBy(v => (-cosq(v), v)).take(10)
    val gotTop = GraphOps.graphAnnTopkHnsw(spark, sf0001).collect()
      .map(_.getLong(0)).toSeq
    assert(gotTop == expectTop)
    val exact = emb.keySet.filter(_ != 0L).toSeq
      .sortBy(v => (-math.floor(cosq(v) * 1e6 + 0.5) / 1e6, v)).take(10)
    val overlap = exact.toSet.intersect(gotTop.toSet).size
    val row = GraphOps.graphAnnRecallHnsw(spark, sf0001).collect().head
    assert(row.getString(0) == s"graph_hnsw_l2_b${GraphOps.BeamWidth}" +
      s"_r${GraphOps.BeamRounds}_d2")
    assert(row.getLong(1) == overlap.toLong)
    assert(overlap > 0, "hnsw recall 0 — the descent stranded the walk")
  }

  test("hnsw maintained: layer graphs replay from independently " +
      "recomputed probe assignments (base frozen + delta appended), " +
      "and the union-graph walk replays exactly") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def lvlOf(v: Long): Int = {
      val h = md5hex(v.toString)
      if (h(0) < '4') { if (h(1) < '4') 2 else 1 } else 0
    }
    val emb = Tables(spark, sf0001, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cosq = emb.map { case (v, e) => v -> cosine(e, emb(0L)) }
    val baseIds = emb.keySet.filter(v => md5hex(v.toString)(0) >= '2')
    val freshIds = emb.keySet -- baseIds
    assert(freshIds.nonEmpty && baseIds.nonEmpty)
    // independent replay of the probe assignments (centroids = the
    // ⌈√|base|⌉ smallest base ids, top-2 cells by cosine then cid)
    val nl = math.ceil(math.sqrt(baseIds.size.toDouble)).toInt
    val cents = baseIds.toSeq.sorted.take(nl)
    def assignOf(v: Long): Seq[Long] = cents
      .map(c => (c, cosine(emb(v), emb(c))))
      .sortBy { case (c, s) => (-s, c) }.take(2).map(_._1)
    val bAssign = baseIds.toSeq.map(v => v -> assignOf(v)).toMap
    val nAssign = freshIds.toSeq.map(v => v -> assignOf(v)).toMap
    def top2Sym(cand: Seq[(Long, Long)]): Set[(Long, Long)] = {
      val knn = cand.distinct.groupBy(_._1).toSeq.flatMap { case (va, xs) =>
        xs.map(_._2).distinct
          .map(vb => (vb, cosine(emb(va), emb(vb))))
          .sortBy { case (vb, cs) => (-cs, vb) }.take(2)
          .map { case (vb, _) => (va, vb) }
      }
      (knn ++ knn.map(p => (p._2, p._1))).toSet
    }
    def layerEdges(minLvl: Int): Map[Long, Set[Long]] = {
      val bm = baseIds.filter(lvlOf(_) >= minLvl)
      val nm = freshIds.filter(lvlOf(_) >= minLvl)
      val bCand = for {
        a <- bm.toSeq; b <- bm.toSeq
        if a != b && bAssign(a).intersect(bAssign(b)).nonEmpty
      } yield (a, b)
      val dCand = for {
        n <- nm.toSeq; b <- bm.toSeq
        if nAssign(n).intersect(bAssign(b)).nonEmpty
      } yield (n, b)
      (top2Sym(bCand) ++ top2Sym(dCand)).groupBy(_._1)
        .map { case (s, es) => s -> es.map(_._2).toSet }
    }
    // base union graph: the maintained artifact's own files (its
    // base-frozen/delta-appended construction is pinned by the
    // maintained-graph test above)
    val st = GraphOps.maintainedEdges(spark, sf0001)
    val unionEdges = spark.read.parquet(st.root).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    var cur = emb.keySet.toSeq.sortBy(v => (-lvlOf(v), v)).head
    for (minLvl <- Seq(2, 1)) {
      val le = layerEdges(minLvl)
      for (_ <- 1 to GraphOps.HnswDescentRounds) {
        val cand = Set(cur) ++ le.getOrElse(cur, Set.empty)
        cur = cand.toSeq.sortBy(v => (-cosq(v), v)).head
      }
    }
    var beam = Set(cur)
    for (_ <- 1 to GraphOps.BeamRounds) {
      val cand = beam ++ beam.flatMap(v =>
        unionEdges.getOrElse(v, Set.empty))
      beam = cand.toSeq.sortBy(v => (-cosq(v), v))
        .take(GraphOps.BeamWidth).toSet
    }
    val root = GraphOps.hnswMaintainedDir(spark, sf0001)
    val got = spark.read.parquet(s"$root/beam")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == beam,
      s"maint beam diff: +${got.keySet -- beam} -${beam -- got.keySet}")
    val gotTop = GraphOps.graphAnnTopkHnswMaintained(spark, sf0001)
      .collect().map(_.getLong(0)).toSeq
    val expectTop = beam.toSeq.filter(_ != 0L)
      .sortBy(v => (-cosq(v), v)).take(10)
    assert(gotTop == expectTop)
    // the delta layer files really exist beside the frozen base set
    // (r13: the four layer-edge writes are batched into ONE
    // (lvl, part)-partitioned write; base/delta remain separate file
    // sets under their part= dirs)
    for (l <- Seq(1, 2); part <- Seq("base", "delta")) {
      val d = new java.io.File(s"$root/layers/lvl=$l/part=$part")
      val files = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      assert(files.nonEmpty,
        s"layer $l $part set is empty — the maintenance file-set " +
          "separation is gone")
    }
  }

  test("deterministic across shuffle-partition settings") {
    val a = hops
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = GraphOps.knnBfsHops(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("SSSP: seeds at zero, reached set ≡ BFS reached set, distances " +
    "bounded by the per-hop weight range") {
    val d = GraphOps.knnSsspDeficit(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val h = hops
    assert(d.keySet == h.keySet,
      "min-plus reachability must equal unit-weight reachability")
    h.filter(_._2 == 0L).keys.foreach(v => assert(d(v) == 0L))
    // every edge costs at most 2e6 ppm (cos ≥ −1), so dist ≤ 2e6·hop;
    // and a non-seed's distance is strictly positive
    d.foreach { case (v, dist) =>
      assert(dist >= 0L && dist <= 2000000L * h(v),
        s"vec $v: dist $dist inconsistent with hop ${h(v)}")
      if (h(v) > 0) assert(dist > 0L)
    }
  }

  test("triangle census: hand graph matches by-hand counts, and the " +
      "returned plan is lazy (no job at build time)") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + path 4-5-6 + triangle {6,7,8}
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (6L, 8L), (7L, 8L))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null)
      .length
    val df = GraphOps.trianglesOf(sym)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null)
      .length == before, "constructing the census plan ran a Spark job")
    val r = df.collect().head
    assert(r.getAs[Long]("n_vertices") == 8L)
    assert(r.getAs[Long]("n_edges") == 11L)
    assert(r.getAs[Long]("n_wedges") == 21L)   // Σ deg·(deg−1)/2
    assert(r.getAs[Long]("n_triangles") == 5L) // C(4,3) + 1
    assert(r.getAs[Long]("clustering_ppm") == 3L * 5 * 1000000 / 21)
  }

  test("triangle census: n_triangles on the corpus graph matches a " +
      "brute-force min-vertex enumeration of the collected edge set") {
    val brute = edges.keysIterator.map { v =>
      val nb = edges(v).filter(_ > v).toSeq.sorted
      nb.combinations(2).count { case Seq(a, b) => edges(a).contains(b) }
    }.sum
    val r = GraphOps.knnTriangles(spark, sf0001).collect().head
    assert(r.getAs[Long]("n_triangles") == brute.toLong)
    assert(r.getAs[Long]("n_vertices") == edges.size.toLong)
    assert(r.getAs[Long]("n_edges") ==
      edges.valuesIterator.map(_.size).sum / 2)
  }

  test("label propagation ≡ a from-scratch synchronous recompute; seeds " +
      "are clamped; propagation reaches beyond the seed set") {
    val edgeList = GraphOps.knnEdges(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = edgeList.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    val truth = Tables(spark, sf0001, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var lab: Map[Long, Option[Long]] = truth.map { case (v, l) =>
      v -> (if (v % GraphOps.LpSeedMod == 0) Some(l) else None)
    }
    for (_ <- 1 to GraphOps.LpRounds) {
      val next = lab.map { case (v, cur) =>
        if (v % GraphOps.LpSeedMod == 0) v -> cur
        else {
          val counted = nbrs.getOrElse(v, Array.empty[Long]).toSeq
            .flatMap(n => lab(n)).groupBy(identity)
            .map { case (l, xs) => (l, xs.length) }.toSeq
          val maj = counted.sortBy { case (l, c) => (-c, l) }.headOption
          v -> maj.map(_._1).orElse(cur)
        }
      }
      lab = next
    }
    val expected = truth.keys.toSeq.sorted.map { v =>
      (v, v % GraphOps.LpSeedMod == 0, lab(v).getOrElse(-1L), truth(v),
        lab(v).getOrElse(-1L) == truth(v))
    }
    val got = GraphOps.labelPropagation(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    assert(got == expected)
    // seeds always grade correct; the spread is live (some non-seed
    // ends labeled)
    got.filter(_._2).foreach(r => assert(r._5, s"seed mislabeled: $r"))
    assert(got.exists(r => !r._2 && r._3 >= 0),
      "no non-seed vertex ever received a label — propagation vacuous")
  }

  test("mutual-kNN margin mining ≡ a from-scratch recompute off the " +
      "scored candidate table; mutuality and threshold are live") {
    def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val scored = GraphOps.scoredCand(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val knn = scored.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      xs.sortBy { case (_, vb, cs) => (-cs, vb) }.take(2).toSeq
    }
    val knnSet = knn.map(e => (e._1, e._2)).toSet
    val m = knn.groupBy(_._1).map { case (va, xs) =>
      val cs = xs.map(_._3)
      va -> (cs.max + cs.min) / 2.0
    }
    val expected = knn.filter { case (x, y, _) =>
      x < y && knnSet.contains((y, x))
    }.map { case (x, y, cs) =>
      val margin = round6(cs / ((m(x) + m(y)) / 2.0))
      (x, y, round6(cs), margin, margin > 1.05)
    }.sortBy(e => (e._1, e._2))
    val got = GraphOps.mutualKnnMargin(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4))).toSeq
    assert(got == expected)
    assert(got.nonEmpty, "no mutual pair at sf0.001 — mining vacuous")
    // the margin separates: both classes occur OR all margins exceed
    // the bar (tiny-corpus escape hatch, must not be silently empty)
    assert(got.exists(_._5), "nothing mined — threshold dead")
  }
}
