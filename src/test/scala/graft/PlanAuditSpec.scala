package graft

import org.apache.spark.sql.functions._

/** Physical-plan audit (the "is this the plan you'd want at 100 TB"
  * check, SURVEY.md §4.2): every graded query must plan without a
  * cartesian product, and representative queries must show predicate
  * pushdown / pruned scans / broadcast dims. */
class PlanAuditSpec extends SparkSpec {

  test("no graded query plans a CartesianProduct") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated to a cartesian product:\n$plan")
    }
  }

  /** r11 verdict #3 — the overflow class that recurred three rounds
    * running (Q8/Q14 ppm, Baskets, MarkovAttribution ×10⁶), codified:
    * a ppm-scale integer multiply left in BIGINT overflows once its
    * data-dependent side reaches ~9.2×10¹² — trivially reachable for
    * corpus-scaled counts at the 100 TB framing — so every such
    * multiply must be widened to DECIMAL(38,0) BEFORE the product.
    * The walk is deliberately STRICTER than "after an aggregate": it
    * flags ANY integer-typed Multiply with a literal factor ≥ 10⁶
    * anywhere in any graded plan (dubiously-bounded sites are widened
    * too — widening is value-identical where no overflow occurs, and
    * a boundedness proof in a comment rots while a DECIMAL cast
    * doesn't). The ONE exception is itself machine-checked, never a
    * comment: `(x % m) * f` with literal m and f is bounded by |m|·|f|
    * independent of scale — the Packing fingerprint's modular Knuth
    * hash — and the walk verifies |m|·|f| < Long.MaxValue instead of
    * trusting an allowlist. */
  test("overflow audit: no graded plan multiplies an integer by a " +
      "ppm-scale literal without DECIMAL(38,0) widening") {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression,
      Literal, Multiply, Pmod, Remainder}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    def litVal(e: Expression): Option[Long] = e match {
      case Literal(v: Long, LongType) => Some(v)
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case c: Cast => litVal(c.child)
      case _ => None
    }
    def modBound(e: Expression): Option[Long] = e match {
      case r: Remainder => litVal(r.right).map(math.abs)
      case p: Pmod => litVal(p.right).map(math.abs)
      case c: Cast => modBound(c.child)
      case _ => None
    }
    def provablyBounded(m: Multiply): Boolean =
      Seq((m.left, m.right), (m.right, m.left)).exists { case (a, b) =>
        (for { mb <- modBound(a); f <- litVal(b) } yield
          BigInt(mb) * BigInt(math.abs(f)) < BigInt(Long.MaxValue))
          .getOrElse(false)
      }
    val offenders = scala.collection.mutable.Buffer[String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf0001).queryExecution.optimizedPlan
      plan.foreach { node =>
        node.expressions.foreach { root =>
          root.foreach {
            case m: Multiply
                if m.dataType == LongType || m.dataType == IntegerType =>
              val big = Seq(m.left, m.right).flatMap(litVal)
                .exists(v => math.abs(v) >= 1000000L)
              if (big && !provablyBounded(m))
                offenders += s"$name: ${m.sql}"
            case _ => ()
          }
        }
      }
    }
    assert(offenders.isEmpty,
      s"un-widened ppm multiplies:\n${offenders.distinct.mkString("\n")}")
  }

  test("pricing_summary pushes the shipdate filter into the parquet scan") {
    val plan = SparkEntry.queries("pricing_summary")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"))
    // column pruning: unused l_orderkey/l_partkey must NOT be read
    assert(!plan.contains("l_partkey"))
  }

  test("dim joins broadcast the dimension side") {
    val plan = SparkEntry.queries("revenue_by_nation")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }

  test("revenue_aqe_skew: AQE converts the hot-key SMJ to a skew join " +
      "at runtime (skew=true), and the split changes no value") {
    val q = graft.operators.Skew.aqeSkewRevenue(spark, sf0001)
    val rows = q.collect().map(_.toSeq)
    // the adaptive plan finalizes on execution — assert AFTER collect
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE never flagged the hot partition:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"join was not an SMJ:\n$plan")
    // pure redistribution: same values as the untuned plain join
    val expect = graft.operators.Skew.skewedJoinFrame(spark, sf0001)
      .collect().map(_.toSeq)
    assert(rows.toSeq == expect.toSeq)
    // the synthetic key IS hot: custkey 0 carries ~half the rows
    val hot = Tables(spark, sf0001, "orders")
      .filter(pmod(col("o_orderkey"), lit(2)) === 0).count()
    val all = Tables(spark, sf0001, "orders").count()
    assert(hot * 3 > all, "hot key lost its skew — tune the derivation")
  }

  test("dq_referential_audit: existence joins broadcast the parent keysets") {
    val plan = SparkEntry.queries("dq_referential_audit")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"no broadcast in the FK audit:\n${plan.take(2000)}")
  }

  test("term_autocomplete: the term count is partially aggregated before " +
      "its one shuffle (vocabulary-granularity, not token instances)") {
    val plan = SparkEntry.queries("term_autocomplete")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"),
      s"no map-side combine on the term count:\n${plan.take(2000)}")
  }

  test("topk_orders compiles to TakeOrderedAndProject (no global sort)") {
    val plan = SparkEntry.queries("topk_orders")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("LSH candidate generation is equi-joins, never a nested loop") {
    val plan = SparkEntry.queries("neardup_pairs")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("decontamination probes the benchmark grams via broadcast, never SMJ") {
    // the 100 TB property: the corpus-sized gram stream must probe the
    // (bounded) benchmark set map-side — a sort-merge join here would
    // shuffle every corpus gram by text, the exact cost the broadcast
    // exists to avoid. Audit the BUILD plan: the graded query consumes
    // the ResultCache's checkpointed copy, whose plan is (by design)
    // just a block scan.
    val plan = graft.operators.Curation
      .contaminatedDocIdsUncached(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi"), s"benchmark probe not broadcast:\n$plan")
  }

  test("hash_sample is one scan + one aggregate: no join, no extra exchange") {
    // membership = pure function of doc_id ⇒ the whole query is a
    // map-side flag + partial/final agg — exactly 1 shuffle exchange
    val plan = SparkEntry.queries("hash_sample")(spark, sf0001)
      .queryExecution.executedPlan
    val exchanges = plan.toString.linesIterator
      .count(_.contains("Exchange"))
    assert(exchanges <= 2, // partial→final agg + the final orderBy sort
      s"hash_sample plans $exchanges exchanges:\n$plan")
    assert(!plan.toString.contains("Join"), "hash_sample must not join")
  }

  test("bucketed tables co-locate the join: no exchange in the plan") {
    // The 100 TB fact⋈fact answer: both sides bucketed on the join key
    // → SortMergeJoin reads bucket i against bucket i, zero shuffle.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      Tables(spark, sf0001, "customer").write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("cust_bucketed")
      Tables(spark, sf0001, "orders").write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("ord_bucketed")
      val j = spark.table("ord_bucketed")
        .join(spark.table("cust_bucketed"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_mktsegment")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffled:\n$plan")
      // and the same join over the UNBUCKETED tables does shuffle — the
      // assertion above is meaningful, not vacuous
      val u = Tables(spark, sf0001, "orders")
        .join(Tables(spark, sf0001, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_mktsegment")
      u.collect()
      assert(u.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS cust_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("partitioned write produces a partition-PRUNED read, not a filter") {
    // The other half of the 100 TB scan story: lang=... becomes a
    // PartitionFilter (directories never listed), not a row-level
    // DataFilter over every file.
    val out = "target/partition_demo"
    Tables(spark, sf0001, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    val df = spark.read.parquet(out)
      .filter(col("lang") === "en").select("doc_id", "n_chars")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
    assert("PartitionFilters: \\[[^\\]]*lang#\\d+ = en".r
      .findFirstIn(plan).isDefined, plan)
    // the partition column must NOT appear as a row-level filter — the
    // pruning happens at directory level, before any file is opened
    assert(plan.contains("DataFilters: []"),
      s"lang filter leaked into data filters:\n$plan")
  }

  test("revenue_bucketed: graded co-located join — no exchange below the SortMergeJoin") {
    val df = SparkEntry.queries("revenue_bucketed")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastExchange"),
      s"join broadcast — proves nothing about bucketing:\n$plan")
    assert("Bucketed: true".r.findAllIn(plan).size >= 2,
      s"scans did not report bucket layout:\n$plan")
    // the final plan's join subtree (first SortMergeJoin to the end of
    // the final-plan section) must contain NO exchange: the bucket
    // layout IS the partitioning
    val joinSub = plan.substring(plan.indexOf("SortMergeJoin"))
      .split("== Initial Plan ==").head
    assert(!joinSub.contains("Exchange"),
      s"bucketed join still shuffles below the SMJ:\n$joinSub")
  }

  test("order_lookup_bucketed: point lookup opens ONE of 8 buckets") {
    // read-side bucketing: the equality literal hashes to its bucket and
    // the scan never opens the other 7 — the plan says so explicitly
    val df = SparkEntry.queries("order_lookup_bucketed")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
      s"bucket pruning did not engage:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"point lookup should not shuffle:\n$plan")
  }

  test("orders_pruned_priority: graded query partition-prunes (fewer files read than exist)") {
    val df = SparkEntry.queries("orders_pruned_priority")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderpriority"),
      s"priority predicate did not become a PartitionFilter:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*o_orderpriority#\\d+ = 1-URGENT".r
      .findFirstIn(plan).isDefined, plan)
    // fewer files READ than exist: the scan's numFiles metric (after
    // execution) must be under the partitioned copy's total file count.
    // AQE hides subtrees behind AdaptiveSparkPlanExec/QueryStageExec
    // "leaves" — descend through both to reach the file scan.
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case other => other.children.flatMap(scans)
    }
    val filesRead = scans(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    val filesTotal = graft.Tables.ordersPartitioned(spark, sf0001)
      .inputFiles.length
    assert(filesRead > 0 && filesRead < filesTotal,
      s"read $filesRead of $filesTotal files — no pruning happened")
  }

  test("hll_users plans as ObjectHashAggregate with a partial merge") {
    // TypedImperativeAggregate → ObjectHashAggregate (not sort-based),
    // two-phase: partial sketches merge before the exchange
    val plan = SparkEntry.queries("hll_users")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    // the PARTIAL mode marker specifically — a bare "hll_sketch" match
    // would pass even if the two-phase split regressed
    assert(plan.contains("partial_hll_sketch"), plan)
  }

  test("whole-stage codegen covers the segment filter pipeline") {
    // AQE shows codegen spans only in the FINAL plan — materialize first
    val df = SparkEntry.queries("segment_stats")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"))
    // "*(n)" prefixes mark WholeStageCodegen stages in the final plan
    assert(plan.contains("*("))
  }

  test("priority_sample is map-only + TakeOrderedAndProject: no shuffle at all") {
    // the 100 TB property of hash-based sampling: membership/priority
    // is a pure row function, so the only movement is the top-k merge
    val plan = SparkEntry.queries("priority_sample")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("bm25_search: broadcast corpus stats, top-k without a global sort") {
    val plan = SparkEntry.queries("bm25_search")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("bloom_prefilter: probe side never shuffles — bits and truth set broadcast") {
    val plan = SparkEntry.queries("bloom_prefilter")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), s"probe shuffled:\n$plan")
  }

  /** Regression guard for the r3 plan-bloat fix: ResultCache entries
    * are plan-truncated (the result rows lifted into an RDD[Row] leaf;
    * r5 swapped the lineage-less localCheckpoint for this rebuildable
    * form), so a CONSUMER of a cached frame must see a LogicalRDD
    * scan — a handful of plan nodes — not the build's full LSH lineage
    * (measured 2.78 s of driver re-analysis per action vs 0.24 s
    * execution before the fix). If someone hands the builder's own
    * frame back out, the consumer's analyzed plan re-inherits the
    * whole build tree and this count explodes. */
  test("a ResultCache consumer's plan is a bounded block scan, not the build lineage") {
    graft.sources.ResultCache.clear()
    val pairs = graft.operators.Similarity.neardupPairs(spark, sf0001)
    def nodeCount(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      1 + p.children.map(nodeCount).sum
    // the cached frame itself: exactly a LogicalRDD leaf
    assert(pairs.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      "cached entry is not an RDD leaf scan — plan-bloat fix regressed")
    // a downstream consumer (the degree diagnostic's shape): filter +
    // projection + union + agg over the scan — generously bounded at 25
    // nodes; the pre-fix lineage (shingle explode + distinct + bands +
    // self-join + vote + verification joins) is far past 100
    val consumer = pairs.filter(org.apache.spark.sql.functions.col("jaccard") >= 0.5)
      .groupBy("doc_a").count()
    val n = nodeCount(consumer.queryExecution.analyzed)
    assert(n <= 25,
      s"consumer of a cached frame analyzed to $n nodes — build lineage leaked")
  }

  test("F11/F14 presentation tier: formatting functions behave (non-graded)") {
    import spark.implicits._
    val r = Seq((1234567.891, java.sql.Date.valueOf("2001-08-01")))
      .toDF("amount", "d")
      .select(
        format_number($"amount", 0).as("money"),
        date_format($"d", "MMM d, yyyy").as("medium_date"),
        concat(lit("$"), format_number($"amount", 0)).as("dollars"),
        // F14 standardization: months-ago uses 30.44, not 30
        graft.functions.ScalarFns.roundN(
          datediff(lit(java.sql.Date.valueOf("2001-11-01")), $"d") / 30.44, 1)
          .as("months_ago"))
      .first()
    assert(r.getString(0) == "1,234,568")
    assert(r.getString(1) == "Aug 1, 2001")
    assert(r.getString(2) == "$1,234,568")
    assert(r.getDouble(3) == 3.0)
  }

  test("revenue_shuffle_hash: the hint forces a ShuffledHashJoin for " +
    "the fact join; results match the default plan") {
    val hinted = graft.operators.Joins.revenueShuffleHash(spark, sf0001)
    hinted.collect()
    val plan = hinted.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val default = graft.operators.Joins.revenueByNation(spark, sf0001)
    assert(hinted.collect().map(_.toSeq).toSeq ==
      default.collect().map(_.toSeq).toSeq)
  }

  test("lineitem_bloom_join: InjectRuntimeFilter pushes might_contain " +
    "into the probe-side scan of a shuffle join") {
    val q = graft.operators.Joins.lineitemBloomJoin(spark, sf0001)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
    // the filter guards the PROBE side: it hashes l_orderkey (the
    // lineitem key), not o_orderkey (it rides a FilterExec directly
    // over the lineitem scan — a subquery-bearing predicate is not
    // source-pushable, so it is not in the scan's dataFilters)
    assert(plan.contains("might_contain"), plan)
    val mc = plan.linesIterator.filter(_.contains("might_contain")).toSeq
    assert(mc.exists(_.contains("xxhash64(l_orderkey")), mc.mkString("; "))
    assert(!mc.exists(_.contains("xxhash64(o_orderkey")), mc.mkString("; "))
  }

  test("langid scoring: the 5×64-row model joins BROADCAST onto the " +
      "per-doc bucket tf table (the corpus side never shuffles for it)") {
    // audit the SCORING plan itself — the graded confusion query reads
    // the S6-cached prediction frame, whose served plan is deliberately
    // truncated to a LogicalRDD leaf (the r4 re-analysis fix), so the
    // join is invisible from the cached consumer's executedPlan
    val plan = graft.operators.LangId.predictionsOf(spark,
        Tables(spark, sf0001, "documents"),
        graft.operators.LangId.model(spark, sf0001))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("source_cap rank windows partition by SOURCE — never an " +
      "unpartitioned (single-partition) window") {
    for (q <- Seq("source_cap_sample", "source_cap_maintained")) {
      val plan = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.executedPlan.toString
      val specs = plan.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(specs.nonEmpty, s"$q: no window in plan?\n$plan")
      assert(specs.forall(_.contains("source")),
        s"$q: a window is not source-partitioned: ${specs.mkString("; ")}")
    }
  }

  test("source_cap_topk: the bounded-heap admission plans with NO " +
      "window at all — the Zipfian-hot-domain scale path (r11 #5)") {
    val plan = SparkEntry.queries("source_cap_topk")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition"),
      s"TopK twin re-grew a window:\n$plan")
    // the mergeable-partial shape: ObjectHashAggregate with a PARTIAL
    // top_k_by before the exchange — ≤K pairs per (source, partition)
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_top_k_by"), plan)
  }

  test("banded chunk retrieval: the candidate restriction is a " +
      "broadcast semi-join, never a shuffle of the dot table") {
    val plan = SparkEntry.queries("chunk_retrieval_recall_banded")(
        spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
  }

  test("dedup signature passes are map-only: no word_grams generate, no " +
      "doc_id regroup, no shuffle but fanOut's repartition") {
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import graft.operators.IncrementalDedup
    import spark.implicits._
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val docs = Tables(spark, sf0001, "documents").select($"doc_id", $"text")
    val passes = Seq(
      "buildIndex" -> IncrementalDedup.buildIndex(spark, docs),
      // the in-memory base index that classify pins
      "classify base index" -> IncrementalDedup.baseIndexOf(spark, docs))
    for ((name, df) <- passes) {
      val plan = df.queryExecution.executedPlan
      val ns = nodes(plan)
      assert(!ns.exists {
        case g: GenerateExec => g.generator.isInstanceOf[graft.plans.WordGrams]
        case _ => false
      }, s"$name generates word_grams:\n$plan")
      def onDocId(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
        keys.exists(_.references.exists(_.name == "doc_id"))
      assert(!ns.exists {
        case a: SortAggregateExec => onDocId(a.groupingExpressions)
        case a: ObjectHashAggregateExec => onDocId(a.groupingExpressions)
        case _ => false
      }, s"$name regroups by doc_id:\n$plan")
      val shuffles = ns.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.forall(_.shuffleOrigin == REPARTITION_BY_NUM),
        s"$name shuffles beyond fanOut:\n$plan")
      // one kernel call per row: no optimizer rewrite inlined it twice
      assert("dedup_signature\\(".r.findAllIn(plan.toString).size == 1,
        s"$name evaluates the kernel more than once:\n$plan")
    }
  }

  test("dedup classify is one probe pass: the base index is scanned " +
      "once, probed in the scan's own stage, no array_intersect and no " +
      "band explode") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import graft.operators.IncrementalDedup
    import spark.implicits._
    val v = IncrementalDedup.classifyFromIndexes(spark,
      Tables(spark, sf0001, "documents").filter(IncrementalDedup.isIncoming)
        .select($"doc_id", $"source"),
      IncrementalDedup.readIndex(spark,
        IncrementalDedup.incIndexPath(spark, sf0001)),
      IncrementalDedup.readIndex(spark,
        IncrementalDedup.indexPath(spark, sf0001)))
    val plan = v.queryExecution.executedPlan
    // every node with its ancestors, nearest first
    def paths(p: SparkPlan, up: List[SparkPlan]): Seq[List[SparkPlan]] = {
      val here = p :: up
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children ++ other.subqueries
      }
      here +: kids.flatMap(paths(_, here))
    }
    val all = paths(plan, Nil)
    val baseScans = all.filter(_.head match {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.getName == "is_inc=false")
      case _ => false
    })
    assert(baseScans.size == 1, s"base index scans: ${baseScans.size}\n$plan")
    // the scan's stage: the scan and its ancestors up to the first
    // exchange — the probe and the partial min(tier) run in it, so base
    // rows never cross a shuffle
    val stage = baseScans.head.takeWhile(!_.isInstanceOf[Exchange])
    assert(stage.exists(_.isInstanceOf[GenerateExec]) &&
      stage.exists(_.isInstanceOf[HashAggregateExec]),
      s"the probe is not in the base scan's stage:\n$plan")
    val gens = all.map(_.head).collect { case g: GenerateExec => g }
    assert(gens.forall(_.generator.children.forall(_.isInstanceOf[ScalaUDF])),
      s"a Generate other than the probe's hits:\n$plan")
    assert(!plan.toString.contains("array_intersect"), plan.toString)
  }
}
