package graft

import org.apache.spark.sql.functions._

/** The [[graft.plans.CharGrams]] streaming generator must be value-
  * identical to the HOF `explode(transform(sequence(…substring…)))`
  * form it replaced — gram-for-gram, including multiplicity and
  * UTF-8 boundaries — or the char-LSH pair query silently drifts from
  * its DuckDB oracle. */
class CharGramSpec extends SparkSpec {
  import spark.implicits._

  private def grams(df: org.apache.spark.sql.DataFrame, n: Int) = {
    df.select($"id", expr(s"char_grams(s, $n)").as("g"))
  }

  test("generator equals the HOF substring form on the real corpus (multiset)") {
    val gen = operators.Similarity.charShinglesHof(spark, sf0001)
    val viaGenerator = spark.read.parquet(s"$sf0001/documents.parquet")
      .withColumn("lt", lower($"text"))
      .filter(length($"lt") >= 9)
      .select($"doc_id", expr("char_grams(lt, 9)").as("s"))
    // multiset equality: count per (doc_id, gram) must agree exactly
    val a = viaGenerator.groupBy("doc_id", "s").count()
      .as[(Long, String, Long)].collect().toSet
    val b = gen.groupBy("doc_id", "s").count()
      .as[(Long, String, Long)].collect().toSet
    assert(a == b, "generator grams differ from the HOF substring form")
  }

  test("multi-byte UTF-8: grams slice on CHARACTER boundaries like substring()") {
    val df = Seq((1L, "héllo wörld ✓ done")).toDF("id", "s")
    val got = grams(df, 5).select($"g").as[String].collect().toSeq
    val want = df.select($"id", explode(expr(
        "transform(sequence(1, length(s) - 4), i -> substring(s, i, 5))")).as("g"))
      .select($"g").as[String].collect().toSeq
    assert(got == want)
    // spot-check a boundary-straddling gram
    assert(got.head == "héllo")
  }

  test("null and shorter-than-n inputs emit zero rows") {
    val df = Seq((1L, "abcdefgh"), (2L, null), (3L, "abcdefghi"))
      .toDF("id", "s")
    val got = grams(df, 9).collect()
    assert(got.length == 1 && got.head.getString(1) == "abcdefghi")
  }

  test("exactly length-n input emits its single gram; ASCII fast path") {
    val df = Seq((1L, "exact-one")).toDF("id", "s")
    assert(grams(df, 9).select($"g").as[String].collect().toSeq == Seq("exact-one"))
  }

  /** Property check: random unicode strings (1/2/3/4-byte sequences —
    * the 4-byte supplementary plane is where a UTF-16-based slicer
    * would diverge) against the HOF substring form, compared as whole
    * per-row gram LISTS in one Spark job. */
  test("property: generator ≡ HOF form on random unicode strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val alphabet = "abc xyz".toList.map(_.toString) ++
      List("é", "ß", "✓", "€", "😀", "𝄞")
    val genStr: Gen[String] = for {
      len <- Gen.choose(0, 24)
      cs <- Gen.listOfN(len, Gen.oneOf(alphabet))
    } yield cs.mkString
    val params = Gen.Parameters.default
    val strings = (1 to 200).flatMap(i =>
      genStr.apply(params, Seed(i.toLong))).distinct
    val df = strings.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    val n = 5
    val viaGen = df.select($"id", expr(s"char_grams(s, $n)").as("g"))
      .groupBy("id").agg(collect_list($"g").as("gen_grams"))
    val viaHof = df.select($"id",
      when(length($"s") >= n, expr(
          s"transform(sequence(1, length(s) - ${n - 1}), i -> substring(s, i, $n))"))
        .otherwise(expr("array()")).as("hof_grams"))
    val joined = viaHof.join(viaGen, Seq("id"), "left")
      .select($"id",
        coalesce($"gen_grams", expr("array()")).as("a"),
        $"hof_grams".as("b"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      // generator emits in position order within a row's output
      val a = r.getSeq[String](1)
      val b = r.getSeq[String](2)
      assert(a == b,
        s"id=${r.getLong(0)}: generator $a != HOF $b " +
        s"(input: ${strings(r.getLong(0).toInt)})")
    }
  }

  test("the generator stage whole-stage-codegens (no CodegenFallback)") {
    val df = Seq((1L, "abcdefghijklmnop")).toDF("id", "s")
      .select($"id", expr("char_grams(s, 9)").as("g"))
    // the `*(N)` prefix on the Generate node is the whole-stage-codegen
    // marker (small plans print the marker, not a WholeStageCodegen row)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("Generate char_grams") && l.trim.startsWith("*")),
      s"generate stage fell out of codegen:\n$plan")
    // and it runs: 16 chars → 8 grams
    assert(df.count() == 8)
  }
}
