package graft

import org.apache.spark.sql.functions._

/** The [[graft.plans.WordGrams]] streaming generator must be value-
  * identical to the HOF
  * `explode(transform(sequence(…concat_ws(element_at…))))` form over
  * the [[graft.functions.Shingles]] tokenizer it replaced —
  * gram-for-gram, including multiplicity and multi-space runs — or the
  * word-LSH pair query silently drifts from its DuckDB oracle. */
class WordGramSpec extends SparkSpec {
  import spark.implicits._

  /** The HOF reference form (exactly what neardupPairs used pre-r5),
    * guard included. */
  private def hofShingles(df: org.apache.spark.sql.DataFrame, n: Int) =
    df.withColumn("t", graft.functions.Shingles.sparkToks)
      .filter(size($"t") >= n)
      .select($"doc_id",
        explode(expr(graft.functions.Shingles.sparkExprN(n))).as("s"))

  private def genShingles(df: org.apache.spark.sql.DataFrame, n: Int) = {
    df.select($"doc_id", expr(s"word_grams(text, $n)").as("s"))
  }

  test("generator equals the HOF form on the real corpus (multiset)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text")
    val a = genShingles(docs, 3).groupBy("doc_id", "s").count()
      .as[(Long, String, Long)].collect().toSet
    val b = hofShingles(docs, 3).groupBy("doc_id", "s").count()
      .as[(Long, String, Long)].collect().toSet
    assert(a.nonEmpty && a == b,
      "generator word-grams differ from the HOF form on the corpus")
  }

  test("multi-space runs, leading/trailing spaces: tokens re-join with ONE space") {
    val df = Seq((1L, "  a  b   c d  ")).toDF("doc_id", "text")
    val got = genShingles(df, 3).select($"s").as[String].collect().toSeq
    // tokens = [a, b, c, d] → grams "a b c", "b c d" — never the
    // source's double/triple spaces
    assert(got == Seq("a b c", "b c d"))
  }

  test("fewer than n tokens emits zero rows (the HOF form's external guard)") {
    val df = Seq((1L, "one two"), (2L, null.asInstanceOf[String]),
      (3L, ""), (4L, "   "), (5L, "one two three")).toDF("doc_id", "text")
    val got = genShingles(df, 3).collect()
    assert(got.length == 1 && got.head.getString(1) == "one two three")
  }

  test("multi-byte UTF-8 tokens survive byte-level scanning") {
    val df = Seq((1L, "héllo wörld ✓ 😀𝄞 done")).toDF("doc_id", "text")
    val got = genShingles(df, 3).select($"s").as[String].collect().toSeq
    val want = hofShingles(df, 3).select($"s").as[String].collect().toSeq
    assert(got == want && got.head == "héllo wörld ✓")
  }

  /** Property check: random token/space sequences (multi-space runs,
    * unicode tokens, edge whitespace) against the HOF form, compared
    * as whole per-row gram lists. */
  test("property: generator ≡ HOF form on random token streams") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val tokens = List("a", "bb", "ccc", "é", "✓✓", "😀", "x-y", "0")
    val seps = List(" ", "  ", "   ")
    val genStr: Gen[String] = for {
      n <- Gen.choose(0, 9)
      ts <- Gen.listOfN(n, Gen.oneOf(tokens))
      ss <- Gen.listOfN(n + 1, Gen.oneOf(seps))
    } yield (ss.head :: ts.zip(ss.tail).flatMap { case (t, s) => List(t, s) })
      .mkString
    val params = Gen.Parameters.default
    val strings = (1 to 200).flatMap(i =>
      genStr.apply(params, Seed(i.toLong))).distinct
    val df = strings.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val n = 3
    val viaGen = genShingles(df, n)
      .groupBy("doc_id").agg(collect_list($"s").as("a"))
    val viaHof = hofShingles(df, n)
      .groupBy("doc_id").agg(collect_list($"s").as("b"))
    val joined = df.select($"doc_id")
      .join(viaGen, Seq("doc_id"), "left")
      .join(viaHof, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"a", expr("array()")),
        coalesce($"b", expr("array()")))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val a = r.getSeq[String](1)
      val b = r.getSeq[String](2)
      assert(a == b,
        s"doc_id=${r.getLong(0)}: generator $a != HOF $b " +
        s"(input: '${strings(r.getLong(0).toInt)}')")
    }
  }

  test("n-sweep: generator ≡ HOF form at every gram order in use (1, 2, 3, 8)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").limit(100)
    for (n <- Seq(1, 2, 3, 8)) {
      val a = genShingles(docs, n).groupBy("doc_id", "s").count()
        .as[(Long, String, Long)].collect().toSet
      val b = hofShingles(docs, n).groupBy("doc_id", "s").count()
        .as[(Long, String, Long)].collect().toSet
      assert(a == b, s"n=$n: generator multiset differs from HOF form")
    }
  }

  test("positioned form ≡ posexplode of the HOF form (ordinal included)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", $"text").limit(100)
    val gen = docs.select($"doc_id",
        expr("word_grams_pos(text, 3)").as(Seq("pos", "s")))
      .as[(Long, Int, String)].collect().toSet
    val hof = docs.withColumn("t", graft.functions.Shingles.sparkToks)
      .filter(size($"t") >= 3)
      .select($"doc_id",
        posexplode(expr(graft.functions.Shingles.sparkExpr)).as(Seq("pos", "s")))
      .as[(Long, Int, String)].collect().toSet
    assert(gen.nonEmpty && gen == hof,
      "positioned generator differs from posexplode of the HOF form")
  }

  test("the generator stage whole-stage-codegens (no CodegenFallback)") {
    val df = Seq((1L, "one two three four five")).toDF("doc_id", "text")
      .select($"doc_id", expr("word_grams(text, 3)").as("s"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("Generate word_grams") && l.trim.startsWith("*")),
      s"generate stage fell out of codegen:\n$plan")
    assert(df.count() == 3)
  }
}
