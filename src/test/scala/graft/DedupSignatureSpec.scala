package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** The row-local [[graft.plans.DedupSignature]] kernel must equal the
  * generate + grouped-aggregate formula it replaced in the dedup index
  * — `min(substring(md5(s), 1+8i, 8))` per band and
  * `collect_set(xxhash64(s))` over each doc's word-3-grams `s` — value
  * for value. The golden fingerprints cannot catch a hash drift that
  * lands on both sides of a join the same way; this spec can. */
class DedupSignatureSpec extends SparkSpec {
  import spark.implicits._

  private type Sig = Option[(Seq[String], Seq[Long])]

  /** The replaced formula, kept as the reference: explode grams,
    * regroup by doc_id, left-join back so gramless docs read null. */
  private def reference(docs: DataFrame): Map[Long, Sig] = {
    val perGram = Similarity.shinglesOf(spark, docs).select(
      Seq(col("doc_id")) ++
        (0 to 3).map(i => substring(md5(col("s")), 1 + 8 * i, 8).as(s"h$i")) ++
        Seq(xxhash64(col("s")).as("h")): _*)
    val agg = perGram.groupBy(col("doc_id")).agg(
      min(col("h0")).as("m0"), min(col("h1")).as("m1"),
      min(col("h2")).as("m2"), min(col("h3")).as("m3"),
      collect_set(col("h")).as("hs"))
    collect(docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left"))
  }

  private def kernel(docs: DataFrame): Map[Long, Sig] = {
    collect(docs.select(col("doc_id"), expr("dedup_signature(text)").as("sig"))
      .select("doc_id", "sig.*"))
  }

  private def collect(df: DataFrame): Map[Long, Sig] =
    df.select("doc_id", "m0", "m1", "m2", "m3", "hs").collect().map { r =>
      val sig =
        if (r.isNullAt(1)) {
          assert((2 to 5).forall(r.isNullAt), s"partial null signature: $r")
          None
        } else Some(((1 to 4).map(r.getString),
          r.getSeq[Long](5).sorted))
      r.getLong(0) -> sig
    }.toMap

  private def assertParity(docs: DataFrame): Unit = {
    val want = reference(docs)
    // a local frame is folded by the optimizer through the interpreted
    // eval; the repartitioned copy runs the codegen'd projection
    for (got <- Seq(kernel(docs), kernel(docs.repartition(2)))) {
      assert(got.keySet == want.keySet)
      val bad = want.filter { case (id, s) => got(id) != s }
      assert(bad.isEmpty, bad.take(3).map { case (id, s) =>
        s"doc $id: kernel=${got(id)} reference=$s" }.mkString("\n"))
    }
  }

  test("kernel ≡ generate + min/collect_set on the sf0.001 documents") {
    val docs = Tables(spark, sf0001, "documents").select($"doc_id", $"text")
    val got = kernel(docs)
    assert(got.values.count(_.isDefined) > 100, "corpus signed almost nothing")
    assertParity(docs)
  }

  test("edge rows: null text, < 3 tokens, space runs, non-ASCII, repeats") {
    val rows = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "   "),
      (4L, "two tokens"),
      (5L, "  two   tokens  "),
      (6L, "one two three"),
      (7L, "  a  b   c d  e   "),                  // non-contiguous grams
      (8L, "héllo wörld ✓ 😀𝄞 naïve façade 東京 타워"), // multi-byte UTF-8
      (9L, "la la la la la la la la"),             // one distinct gram
      (10L, "x y z x y z x y z w"))                 // repeated grams
      .toDF("doc_id", "text")
    assertParity(rows)
    val got = kernel(rows)
    for (id <- 1L to 5L) assert(got(id).isEmpty, s"doc $id has no grams")
    assert(got(9L).exists(_._2.size == 1))
  }

  test("property: kernel ≡ reference on random token/space streams") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val tokens = List("a", "bb", "ccc", "é", "✓✓", "😀", "x-y", "0", "Ω")
    val seps = List(" ", "  ", "   ")
    val genStr: Gen[String] = for {
      n <- Gen.choose(0, 12)
      ts <- Gen.listOfN(n, Gen.oneOf(tokens))
      ss <- Gen.listOfN(n + 1, Gen.oneOf(seps))
    } yield (ss.head :: ts.zip(ss.tail).flatMap { case (t, s) => List(t, s) })
      .mkString
    val strings = (1 to 300).flatMap(i =>
      genStr.apply(Gen.Parameters.default, Seed(i.toLong))).distinct
    assertParity(strings.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text"))
  }

  test("the kernel projection whole-stage-codegens (no CodegenFallback)") {
    val df = Tables(spark, sf0001, "documents")
      .select($"doc_id", expr("dedup_signature(text)").as("sig"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("dedup_signature") && l.trim.startsWith("*")),
      s"kernel projection fell out of codegen:\n$plan")
  }
}
