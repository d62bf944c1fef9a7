package graft

import org.apache.spark.sql.functions._
import graft.operators.{IncrementalDedup, Similarity, TextOps}
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
    val input = graft.streaming.Replay.feeds
      .get(("graft_incdedup_in_", sf0001))
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
    val deltaN = spark.read.parquet(
      IncrementalDedup.grownDeltaPathFor(sf0001).get).count()
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
}
