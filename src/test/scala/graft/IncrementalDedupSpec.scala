package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.{IncrementalDedup, Similarity, TextOps}
import graft.plans.{DedupSignature, Extensions}
import graft.Tables

/** Invariants of the incremental (batch-vs-corpus) dedup classifier on
  * sf0.001 — each check recomputes the tier by an INDEPENDENT method
  * (exploded-gram joins, direct normalized-text joins) rather than
  * re-running the operator's own array_intersect/broadcast shapes. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables(spark, sf0001, "documents")

  test("verdicts partition the incoming batch exactly") {
    val v = IncrementalDedup.verdicts(spark, sf0001)
    val incoming = docs.filter(IncrementalDedup.isIncoming)
    assert(v.count() == incoming.count())
    assert(v.select("doc_id").distinct().count() == v.count())
    val labels = v.select("verdict").distinct().as[String].collect().toSet
    assert(labels.subsetOf(Set("exact", "near", "new")), labels.toString)
    // stats query's category counts re-add to the membership counts
    val s = IncrementalDedup.incrementalDedupStats(spark, sf0001)
    val bad = s.filter($"n_exact" + $"n_near" + $"n_new" =!= $"n_incoming")
    assert(bad.count() == 0)
  }

  test("'exact' tier ≡ incoming docs with a base normalized-text match") {
    // independent formulation: direct join on the normalized STRING
    // (the operator joins md5 hashes of it)
    val nrm = docs.select($"doc_id",
      TextOps.normalized($"text").as("nt"),
      IncrementalDedup.isIncoming.as("inc"))
    val expected = nrm.filter($"inc").as("a")
      .join(nrm.filter(!$"inc").as("b"), $"a.nt" === $"b.nt", "left_semi")
      .select($"doc_id").as[Long].collect().toSet
    val got = IncrementalDedup.verdicts(spark, sf0001)
      .filter($"verdict" === "exact").select($"doc_id")
      .as[Long].collect().toSet
    assert(got == expected,
      s"exact mismatch: +${(got -- expected).take(3)} -${(expected -- got).take(3)}")
  }

  test("'near' tier matches an exploded-gram recount of LSH candidates") {
    // independent verification path: distinct (doc, gram) equi-join for
    // n_inter (the oracle's method) instead of hash-set intersection
    val d = docs.select($"doc_id", $"text",
      IncrementalDedup.isIncoming.as("inc"))
    val sh = Similarity.shinglesOf(spark, d).distinct()
    val sig = Similarity.signaturesFrom(Similarity.shinglesOf(spark, d))
    val bands = sig.select($"doc_id", explode(array((0 to 3).map(i =>
        struct(lit(i).as("band"), col(s"m$i").as("m"))): _*)).as("bm"))
      .select($"doc_id", $"bm.band".as("band"), $"bm.m".as("m"))
    val incIds = d.filter($"inc").select($"doc_id").as[Long].collect().toSet
    val cand = bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.m" === $"b.m")
      .select($"a.doc_id".as("inc_id"), $"b.doc_id".as("base_id")).distinct()
      .filter($"inc_id".isin(incIds.toSeq: _*) &&
        !$"base_id".isin(incIds.toSeq: _*))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("nsh"))
    val expected = cand
      .join(sh.select($"doc_id".as("inc_id"), $"s"), Seq("inc_id"))
      .join(sh.select($"doc_id".as("base_id"), $"s"), Seq("base_id", "s"))
      .groupBy($"inc_id", $"base_id").agg(count(lit(1)).as("ni"))
      .join(sizes.select($"doc_id".as("inc_id"), $"nsh".as("na")), Seq("inc_id"))
      .join(sizes.select($"doc_id".as("base_id"), $"nsh".as("nb")), Seq("base_id"))
      // same 4-dp rounding rule as the operator — the independence is
      // in the n_inter method, not the threshold arithmetic
      .filter(graft.functions.ScalarFns.roundN(
        $"ni".cast("double") / ($"na" + $"nb" - $"ni"), 4) >=
        IncrementalDedup.NearThreshold)
      .select($"inc_id").distinct().as[Long].collect().toSet
    // near reports NET of exact (exact wins the CASE) — compare on the
    // union side: every expected near doc is flagged near OR exact
    val v = IncrementalDedup.verdicts(spark, sf0001)
    val gotNear = v.filter($"verdict" === "near")
      .select($"doc_id").as[Long].collect().toSet
    val gotExact = v.filter($"verdict" === "exact")
      .select($"doc_id").as[Long].collect().toSet
    assert((gotNear -- expected).isEmpty,
      s"near docs without a qualifying base partner: ${(gotNear -- expected).take(3)}")
    assert((expected -- gotNear -- gotExact).isEmpty,
      s"qualifying docs not flagged: ${(expected -- gotNear -- gotExact).take(3)}")
  }

  test("fabricated corpus: every tier fires and classifies as designed") {
    // ids chosen by their md5 first hex char: 6/19/24/33 land in the
    // incoming split ({0,1} prefix), 1/2/3/4/5 in the base corpus —
    // so each tier's membership is KNOWN by construction, independent
    // of what the shipped corpora happen to contain.
    val sent = "the quick brown fox jumps over the lazy dog " * 5
    val rows = Seq(
      // base corpus
      (1L, sent + "alpha beta gamma", "s"),
      (2L, "completely different words about spark shuffles and joins " * 6, "s"),
      (3L, "unique base text nobody matches here at all " * 4, "s"),
      (4L, "Shared!! Exact,, TEXT with   punctuation variants " * 3, "s"),
      (5L, "another isolated base document with its own story " * 4, "s"),
      // incoming batch
      (6L, sent + "alpha beta gamma", "s"),                // exact (vs 1)
      (19L, sent + "alpha beta DELTA epsilon", "s"),       // near (vs 1)
      (24L, "totally novel incoming content unlike anything stored " * 4, "s"),  // new
      (33L, "shared exact text WITH punctuation!!! variants " * 3, "s")) // exact (vs 4, normalization)
      .toDF("doc_id", "text", "source")
    val v = IncrementalDedup.classify(spark, rows)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(v == Map(6L -> "exact", 19L -> "near", 24L -> "new",
      33L -> "exact"), v.toString)
  }

  test("index-backed classify ≡ inline classify (fabricated + shipped corpus)") {
    val sent = "the quick brown fox jumps over the lazy dog " * 5
    val rows = Seq(
      (1L, sent + "alpha beta gamma", "s"),
      (2L, "completely different words about spark shuffles and joins " * 6, "s"),
      (4L, "Shared!! Exact,, TEXT with   punctuation variants " * 3, "s"),
      (6L, sent + "alpha beta gamma", "s"),
      (19L, sent + "alpha beta DELTA epsilon", "s"),
      (24L, "totally novel incoming content unlike anything stored " * 4, "s"),
      (33L, "shared exact text WITH punctuation!!! variants " * 3, "s"))
      .toDF("doc_id", "text", "source")
    val idx = IncrementalDedup.buildIndex(spark,
      rows.filter(!IncrementalDedup.isIncoming)
        .select($"doc_id", $"text"))
    // both paths run the one classifyFromIndexes probe, so this half
    // pins the plumbing around it: classify's own base split and index
    // derivation over the mixed docs frame ≡ a base index built apart
    // (the probe itself is pinned against the join algebra by the
    // "probe ≡ join algebra" cases below); the shipped-corpus half
    // compares the text-derived base with the stored scratch index
    val inline = IncrementalDedup.classify(spark, rows)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val indexed = IncrementalDedup.classifyIndexed(spark, rows, idx)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(indexed == inline, s"indexed=$indexed inline=$inline")
    // and on the real corpus, through the materialized scratch index
    val vInline = IncrementalDedup.verdicts(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val vIdx = IncrementalDedup.verdictsIndexed(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(vIdx == vInline,
      s"diff: +${(vIdx -- vInline).take(3)} -${(vInline -- vIdx).take(3)}")
  }

  test("buildIndex writes exactly the shape readIndex declares") {
    // readIndex skips parquet footer inference by trusting IndexSchema;
    // a drift between the two would mis-read the index silently.
    // simpleString ignores nullability, which parquet relaxes on read.
    def shape(st: org.apache.spark.sql.types.StructType) =
      st.fields.map(f => f.name -> f.dataType.simpleString).toSeq
    val built = IncrementalDedup.buildIndex(spark,
      docs.select($"doc_id", $"text")).schema
    assert(shape(built) == shape(IncrementalDedup.IndexSchema))
    val read = IncrementalDedup.readIndex(spark,
      IncrementalDedup.indexPath(spark, sf0001))
    assert(read.count() ==
      docs.filter(!IncrementalDedup.isIncoming).count())
  }

  test("index-backed plan reads the maintained index, not base text") {
    val path = IncrementalDedup.indexPath(spark, sf0001)
    // the index row carries everything each tier needs
    val idx = spark.read.parquet(path)
    assert(idx.columns.toSet ==
      Set("doc_id", "nh", "m0", "m1", "m2", "m3", "hs"))
    // a FRESH (uncached) indexed classification plans scans of the
    // scratch index directory
    val fresh = IncrementalDedup.classifyIndexed(spark,
      Tables(spark, sf0001, "documents")
        .select($"doc_id", $"text", $"source"), idx)
    val plan = fresh.queryExecution.executedPlan.toString
    assert(plan.contains("graft_dedup_idx_"), "no index scan in plan")
  }

  test("streamed ingest classify ≡ batch classify, across ≥2 micro-batches") {
    // the replay input is written as 3 files and streamed with
    // maxFilesPerTrigger=1, so the classifier must survive the
    // incoming batch arriving in several independent micro-batches
    val streamed = graft.streaming.StreamReplay
      .incrementalDedupStreamed(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val input = graft.sources.Substrate
      .built[String]("graft_incdedup_in_", sf0001).get
    val nFiles = new java.io.File(input).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 2, s"replay input has $nFiles files — single-batch")
    val batch = IncrementalDedup.verdicts(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(streamed == batch,
      s"diff: +${(streamed -- batch).take(3)} -${(batch -- streamed).take(3)}")
  }

  test("the split is honest: incoming is a strict, nonempty subset") {
    val n = docs.count()
    val inc = docs.filter(IncrementalDedup.isIncoming).count()
    assert(inc > 0 && inc < n, s"degenerate split: $inc of $n")
  }

  test("maintained index: day-2 verdicts DIFFER from the static answer " +
      "exactly where day-1 admits matter") {
    // ids by md5 first hex char: 27/59 → day 1 ('0'), 6/19/24/33 →
    // day 2 ('1'), 1/2 → base. Day 1 admits doc 27 (novel text); day 2
    // then re-sees that text exactly (6) and nearly (19) — the grown
    // index must catch both, the static index must miss both.
    val sent = "the quick brown fox jumps over the lazy dog " * 5
    val crawl = "a unique freshly crawled passage about morton curves " +
      "and bloom filters in distributed layout maintenance " * 4
    val rows = Seq(
      // base corpus
      (1L, sent + "alpha beta gamma", "s"),
      (2L, "completely different words about spark shuffles and joins " * 6, "s"),
      // day 1 (hex '0')
      (27L, crawl, "s"),                          // novel → admitted
      (59L, sent + "alpha beta gamma", "s"),      // exact vs base 1 → rejected
      // day 2 (hex '1')
      (6L, crawl, "s"),                           // exact vs ADMITTED 27
      (19L, crawl + " trailing novel suffix words", "s"), // near vs 27
      (24L, "totally novel incoming content unlike anything stored " * 4, "s"),
      (33L, sent + "alpha beta gamma", "s"))      // exact vs BASE 1
      .toDF("doc_id", "text", "source")
    val baseIdx = IncrementalDedup.buildIndex(spark,
      rows.filter(!IncrementalDedup.isIncoming).select($"doc_id", $"text"))
    val incIdx = IncrementalDedup.buildIndex(spark,
      rows.filter(IncrementalDedup.isIncoming).select($"doc_id", $"text"))
    val (v1, v2) = IncrementalDedup.maintainedVerdicts(spark, rows,
      incIdx, baseIdx, adm => baseIdx.unionByName(adm))
    val m1 = v1.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val m2 = v2.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m1 == Map(27L -> "new", 59L -> "exact"), m1.toString)
    assert(m2 == Map(6L -> "exact", 19L -> "near", 24L -> "new",
      33L -> "exact"), m2.toString)
    // static-index control: classify day 2 against the UN-grown index —
    // the docs the grown index caught via day-1 admits come back 'new'
    val b2Idx = incIdx.filter(IncrementalDedup.batchPred(
      IncrementalDedup.Batch2Hex))
    val static = IncrementalDedup.classifyFromIndexes(spark,
        rows.filter(IncrementalDedup.batchPred(IncrementalDedup.Batch2Hex))
          .select($"doc_id", $"source"), b2Idx, baseIdx)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(static == Map(6L -> "new", 19L -> "new", 24L -> "new",
      33L -> "exact"), static.toString)
    assert(m2 != static, "the day-1 append changed nothing")
  }

  test("graded maintained query: grown index = base index + day-1 admits") {
    val out = IncrementalDedup.incrementalDedupMaintained(spark, sf0001)
    // row shape: both batches present, categories re-add per row
    assert(out.select("batch").distinct().as[Int].collect().toSet == Set(1, 2))
    val bad = out.filter($"n_exact" + $"n_near" + $"n_new" =!= $"n_incoming")
    assert(bad.count() == 0)
    // day-1-vs-base is the same classification as the single-stage
    // verdicts restricted to day-1 docs (identical base side), so the
    // admitted count — and therefore the grown index's delta — is
    // pinned by an independent path; the base file set is untouched
    // (the append is a delta directory, never a rewrite)
    val day1New = IncrementalDedup.verdicts(spark, sf0001)
      .filter(IncrementalDedup.batchPred(IncrementalDedup.Batch1Hex) &&
        $"verdict" === "new").count()
    val deltaN = spark.read.parquet(graft.sources.Substrate
      .built[String]("graft_dedup_idx_delta_", sf0001).get).count()
    assert(deltaN == day1New, s"delta $deltaN != day-1 admits $day1New")
  }

  test("index compaction is a pure layout change: compacted file set " +
    "holds exactly the grown index's rows, fewer files, sorted ranges") {
    val grown = spark.read.parquet(
        IncrementalDedup.indexPath(spark, sf0001),
        IncrementalDedup.grownDeltaPath(spark, sf0001))
      .select($"doc_id", $"nh").collect().map(_.toSeq).toSet
    val compactedPath = IncrementalDedup.compactedIndexPath(spark, sf0001)
    val compacted = spark.read.parquet(compactedPath)
      .select($"doc_id", $"nh").collect().map(_.toSeq).toSet
    assert(compacted == grown)
    // folded layout: ≤2 data files, each owning a disjoint doc_id range
    val files = new java.io.File(compactedPath).listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length <= 2, files.map(_.getName).mkString(", "))
    val ranges = files.map { f =>
      val ids = spark.read.parquet(f.getAbsolutePath)
        .select($"doc_id").as[Long].collect()
      (ids.min, ids.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._2 < b._1, s"overlap: $a $b")
      case _ => ()
    }
    // and the day-2 classification against it matches the maintained
    // (fragmented-file-set) day-2 rows exactly
    val viaCompacted = IncrementalDedup
      .incrementalDedupCompacted(spark, sf0001).collect().map(_.toSeq).toSet
    val viaGrown = IncrementalDedup
      .incrementalDedupMaintained(spark, sf0001)
      .filter($"batch" === 2).collect().map(_.toSeq).toSet
    assert(viaCompacted == viaGrown)
  }

  test("one inline classify build signs each base doc once and scans " +
      "the base documents once") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the shared incoming index is signed by the real kernel, before
    // the counting one is installed
    val incPath = IncrementalDedup.incIndexPath(spark, sf0001)
    val ss = Extensions.newSession(spark)
    ss.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dedup_signature", e => CountedSignature(e.head), "scala_udf")
    CountedSignature.calls.set(0L)
    val v = IncrementalDedup.classify(ss,
      Tables(ss, sf0001, "documents")
        .select($"doc_id", $"text", $"source"),
      Some(IncrementalDedup.readIndex(ss, incPath)))
    v.collect()
    val plan = v.queryExecution.executedPlan
    val base = docs.filter(!IncrementalDedup.isIncoming)
    val signed = CountedSignature.calls.get
    assert(signed == base.filter($"text".isNotNull).count(),
      s"$signed kernel calls for the base side")
    // every scan that ran, any in-memory relation's own plan included
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val textScans = nodes(plan).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == "documents.parquet") &&
            s.requiredSchema.fieldNames.contains("text") =>
        s.metrics("numOutputRows")
    }.distinctBy(_.id)
    assert(textScans.map(_.value).sum == docs.count(),
      s"documents text rows scanned: ${textScans.map(_.value)}")
  }

  test("job-count pin: a cold verdicts build at sf0.001 launches at " +
      "most 7 jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // every JVM-wide memo (shared index, schemas) is warm; a new session
    // has its own ResultCache key, so its verdicts build is cold
    IncrementalDedup.verdicts(spark, sf0001)
    val ss = Extensions.newSession(spark)
    val sc = spark.sparkContext
    val group = "incremental-dedup-job-pin"
    val jobs = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(counter)
    try {
      sc.setJobGroup(group, "cold verdicts build")
      try IncrementalDedup.verdicts(ss, sf0001)
      finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(counter)
    // 16 when the base side was three passes (exact-tier hash, bands,
    // candidate gram sets); 15 with the one pinned index pass and the
    // seven-join tier algebra; 7 with the one probe pass
    assert(jobs.get > 0 && jobs.get <= 7, s"${jobs.get} jobs")
  }

  /** The join algebra `classifyFromIndexes` ran before its probe pass,
    * kept as the reference: exact = incoming `nh` ⋈ base `nh`; near =
    * base bands ⋈ incoming bands → candidate pairs → `array_intersect`
    * Jaccard over each pair's gram-hash sets; verdict = two left joins
    * (exact wins, then near, then new). */
  private def joinAlgebra(incMeta: DataFrame, incIdx: DataFrame,
      baseIdx: DataFrame): DataFrame = {
    def bandsOf(idx: DataFrame, as: String): DataFrame =
      idx.select(col("doc_id").as(as),
          explode(when(col("m0").isNotNull, array((0 to 3).map(i =>
            struct(lit(i).as("band"), col(s"m$i").as("m"))): _*))).as("bm"))
        .select(col(as), col("bm.band").as("band"), col("bm.m").as("m"))
    val hitNh = baseIdx.select(col("nh"))
      .join(broadcast(incIdx.select(col("nh")).distinct()), Seq("nh"))
      .distinct()
    val exactIds = incIdx.select(col("doc_id"), col("nh"))
      .join(broadcast(hitNh), Seq("nh"))
      .select(col("doc_id"))
    val cand = bandsOf(baseIdx, "base_id")
      .join(broadcast(bandsOf(incIdx, "inc_id")), Seq("band", "m"))
      .select(col("inc_id"), col("base_id")).distinct()
    val probe = cand.join(
      incIdx.select(col("doc_id").as("inc_id"), col("hs")), Seq("inc_id"))
    val nearIds = baseIdx.select(col("doc_id").as("base_id"), col("hs").as("bhs"))
      .join(broadcast(probe), Seq("base_id"))
      .select(col("inc_id"),
        size(array_intersect(col("hs"), col("bhs")))
          .cast("bigint").as("ni"),
        size(col("hs")).as("na"), size(col("bhs")).as("nb"))
      .filter(graft.functions.ScalarFns.roundN(col("ni").cast("double")
        / (col("na") + col("nb") - col("ni")), 4) >=
        IncrementalDedup.NearThreshold)
      .select(col("inc_id").as("doc_id")).distinct()
    incMeta.select(col("doc_id"), col("source"))
      .join(broadcast(exactIds.withColumn("is_exact", lit(true))),
        Seq("doc_id"), "left")
      .join(broadcast(nearIds.withColumn("is_near", lit(true))),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("is_exact"), "exact")
          .when(col("is_near"), "near")
          .otherwise("new").as("verdict"))
  }

  private def verdictMap(v: DataFrame): Map[Long, String] =
    v.collect().map(r => r.getLong(0) -> r.getString(2)).toMap

  private def assertSameVerdicts(got: Map[Long, String],
      want: Map[Long, String]): Unit = {
    val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    assert(bad.isEmpty, bad.take(5).map(k =>
      s"doc $k: probe=${got.get(k)} joins=${want.get(k)}").mkString("; "))
  }

  test("probe ≡ join algebra on sf0.001: stored and text-derived base " +
      "index") {
    val incMeta = docs.filter(IncrementalDedup.isIncoming)
      .select($"doc_id", $"source")
    val incIdx = IncrementalDedup.readIndex(spark,
      IncrementalDedup.incIndexPath(spark, sf0001))
    val bases = Seq(
      IncrementalDedup.readIndex(spark, IncrementalDedup.indexPath(spark, sf0001)),
      IncrementalDedup.baseIndexOf(spark, docs.select($"doc_id", $"text")))
    for (baseIdx <- bases) {
      val want = verdictMap(joinAlgebra(incMeta, incIdx, baseIdx))
      // sf0.001 has no exact duplicate in its batch; the fabricated
      // case below covers that tier
      assert(Set("near", "new").subsetOf(want.values.toSet),
        s"a tier is empty: ${want.values.groupBy(identity).view.mapValues(_.size).toMap}")
      assertSameVerdicts(verdictMap(IncrementalDedup.classifyFromIndexes(
        spark, incMeta, incIdx, baseIdx)), want)
    }
  }

  test("probe ≡ join algebra on fabricated edge rows: null-signature " +
      "exact, sub-threshold band hit, Jaccard that reaches 0.5 only " +
      "after rounding, several base hits per incoming doc") {
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val sent = "the quick brown fox jumps over the lazy dog " * 5
    val jugs = "pack my box with five dozen liquor jugs " * 4
    val t12 = words("t", 12)
    val s6002 = words("s", 6002)
    val base = Seq(
      (1L, "hello world"),                            // < 3 tokens
      (2L, "HELLO, world"),                           // < 3 tokens
      (3L, t12 + " " + words("y", 20)),               // vs 12: J = 10/50
      (4L, s6002 + " " + words("y", 3000)),           // vs 13: J = 6000/12001
      (5L, (sent + "ALPHA, beta gamma!").toUpperCase), // exact vs 14
      (6L, sent + "alpha beta DELTA epsilon"),        // near vs 14
      (7L, jugs + "three"),                           // near vs 15
      (8L, jugs + "four five"))                       // near vs 15
      .toDF("doc_id", "text")
    val inc = Seq(
      (11L, "Hello,  World!"),
      (12L, t12 + " " + words("x", 20)),
      (13L, s6002 + " " + words("x", 3001)),
      (14L, sent + "alpha beta gamma"),
      (15L, jugs + "one two"),
      (16L, "totally novel incoming content unlike anything stored " * 4),
      (17L, "two tokens"))
      .toDF("doc_id", "text")
    val baseIdx = IncrementalDedup.buildIndex(spark, base)
    val incIdx = IncrementalDedup.buildIndex(spark, inc)
    val incMeta = inc.select($"doc_id", lit("s").as("source"))
    val got = verdictMap(IncrementalDedup.classifyFromIndexes(spark,
      incMeta, incIdx, baseIdx))
    assert(got == Map(11L -> "exact", 12L -> "new", 13L -> "near",
      14L -> "exact", 15L -> "near", 16L -> "new", 17L -> "new"), got.toString)
    assertSameVerdicts(got, verdictMap(joinAlgebra(incMeta, incIdx, baseIdx)))
    // each edge row is what its comment says
    val rows = baseIdx.unionByName(incIdx).collect()
      .map(r => r.getLong(0) -> r).toMap
    def sharesBand(a: Long, b: Long) =
      (0 to 3).exists(i => rows(a).getString(2 + i) == rows(b).getString(2 + i))
    def inter(a: Long, b: Long) =
      rows(a).getSeq[Long](6).toSet.intersect(rows(b).getSeq[Long](6).toSet).size
    def union(a: Long, b: Long) =
      rows(a).getSeq[Long](6).toSet.union(rows(b).getSeq[Long](6).toSet).size
    assert(Seq(1L, 2L, 11L).forall(rows(_).isNullAt(2)), "a short doc was signed")
    assert(sharesBand(12L, 3L) && inter(12L, 3L) * 2 < union(12L, 3L),
      "12 vs 3 is not a sub-threshold band hit")
    assert(sharesBand(13L, 4L) && inter(13L, 4L) == 6000 &&
      union(13L, 4L) == 12001, "13 vs 4 is not the rounding edge")
  }

  test("stored index hs arrays are strictly increasing") {
    // the probe's merge count walks both sets in order
    for (path <- Seq(IncrementalDedup.indexPath(spark, sf0001),
        IncrementalDedup.incIndexPath(spark, sf0001))) {
      val sets = IncrementalDedup.readIndex(spark, path)
        .filter($"hs".isNotNull).select($"doc_id", $"hs").collect()
      assert(sets.nonEmpty, s"no signed rows in $path")
      val bad = sets.filter { r =>
        val hs = r.getSeq[Long](1)
        hs.zip(hs.tail).exists { case (a, b) => a >= b }
      }
      assert(bad.isEmpty, s"unsorted hs in $path: docs ${bad.map(_.getLong(0)).take(3).toSeq}")
    }
  }
}

/** `dedup_signature` behind a call counter: the same kernel, evaluated
  * through the interpreted path so every call passes the counter. */
case class CountedSignature(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DedupSignature.ResultType
  override def nullable: Boolean = true
  override def prettyName: String = "dedup_signature"
  override protected def nullSafeEval(input: Any): Any = {
    CountedSignature.calls.incrementAndGet()
    DedupSignature.compute(input.asInstanceOf[UTF8String])
  }
  override protected def withNewChildInternal(c: Expression): CountedSignature =
    copy(child = c)
}

object CountedSignature {
  val calls = new AtomicLong()
}
