package graft

import org.apache.spark.sql.functions._

import graft.operators.SetJoin

/** Prefix-filter exact similarity join: lossless vs the brute-force
  * quadratic (every qualifying pair found, nothing extra), and the
  * filter actually filters (candidates ≪ all pairs). */
class SetJoinSpec extends SparkSpec {

  /** Per-doc sorted distinct shingle sets (the operator's universe). */
  private lazy val docs = {
    spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), expr("word_grams(text, 3)").as("tok"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("tok"))).as("ts"))
      .withColumn("n", size(col("ts")).cast("bigint"))
  }

  /** Brute-force ground truth: all O(n²) pairs, exact Jaccard. */
  private lazy val brute = {
    val a = docs.select(col("doc_id").as("doc_a"), col("ts").as("ta"),
      col("n").as("na"))
    val b = docs.select(col("doc_id").as("doc_b"), col("ts").as("tb"),
      col("n").as("nb"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("n_inter",
        size(array_intersect(col("ta"), col("tb"))).cast("bigint"))
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      .filter(lit(10) * col("n_inter") >= lit(6) * col("n_union"))
      .select("doc_a", "doc_b", "n_inter", "n_union")
      .orderBy("doc_a", "doc_b")
      .collect().toSeq
  }

  test("prefix-filter join ≡ brute-force quadratic (lossless, exact)") {
    val got = SetJoin.similarityJoinExact(spark, sf0001).collect().toSeq
    assert(got == brute, s"got ${got.size} pairs, brute ${brute.size}")
    assert(got.nonEmpty, "corpus has no near-dup pairs at τ=0.6 — " +
      "the losslessness assertion would be vacuous")
  }

  test("LSH recall audit: counts are consistent with the exact join") {
    val r = SetJoin.lshRecallAudit(spark, sf0001).collect().head
    val (nTrue, nScored, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nTrue == brute.size.toLong,
      s"audit n_true $nTrue != exact join ${brute.size}")
    assert(nHit <= nTrue && nHit <= nScored)
    assert(nScored > 0 && nTrue > 0)
    // 4-band r=1 LSH at J ≥ 0.6 collides w.p. ≥ 1−0.4⁴ ≈ 0.974 per
    // pair — a total miss of the family would be a mechanism bug
    assert(nHit > 0, "LSH missed every true pair — implausible at b=4")
  }

  test("containment join ≡ brute-force quadratic (asymmetric prefix " +
      "lossless); asymmetry is real on this corpus") {
    val got = graft.operators.SetJoin.containmentJoin(spark, sf0001)
      .collect().toSeq
    // brute over the SAME planted corpus (documents ∪ excerpts)
    val cdocs = graft.operators.SetJoin.containmentCorpus(spark, sf0001)
      .select(col("doc_id"), expr("word_grams(text, 3)").as("tok"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("tok"))).as("ts"))
      .withColumn("n", size(col("ts")).cast("bigint"))
    val a = cdocs.select(col("doc_id").as("doc_sub"), col("ts").as("ta"),
      col("n").as("n_sub"))
    val b = cdocs.select(col("doc_id").as("doc_sup"), col("ts").as("tb"))
    val cbrute = a.crossJoin(b)
      .filter(col("doc_sub") =!= col("doc_sup"))
      .withColumn("n_inter",
        size(array_intersect(col("ta"), col("tb"))).cast("bigint"))
      .filter(lit(5) * col("n_inter") >= lit(4) * col("n_sub"))
      .select("doc_sub", "doc_sup", "n_inter", "n_sub")
      .orderBy("doc_sub", "doc_sup")
      .collect().toSeq
    assert(got == cbrute, s"got ${got.size} pairs, brute ${cbrute.size}")
    assert(got.nonEmpty, "no containment pairs — vacuous")
    // the operator's reason to exist: at least one contained pair
    // whose REVERSE direction does not qualify (Jaccard-symmetric
    // machinery cannot express this set)
    val dirs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dirs.exists { case (s, p) => !dirs.contains((p, s)) },
      "every containment is mutual — the asymmetric case is untested")
  }

  test("the filter filters: candidates well below the full pair count") {
    val n = docs.count()
    val allPairs = n * (n - 1) / 2
    val cands = SetJoin.candidateCount(spark, sf0001)
    assert(cands >= brute.size.toLong, "candidates must cover all answers")
    assert(cands * 10 < allPairs,
      s"prefix filter kept $cands of $allPairs pairs — not selective")
  }
}
