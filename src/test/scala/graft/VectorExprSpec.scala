package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  private def hofCosine = // the HOF formulation used by Similarity
    "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / " +
      "(sqrt(aggregate(zip_with(a, a, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) * " +
      "sqrt(aggregate(zip_with(b, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))"

  test("native cosine_sim is BIT-identical to the HOF formulation") {
    val e = Tables(spark, sf0001, "embeddings")
    val pairs = e.select($"vec_id".as("ida"), $"embedding".as("a"))
      .crossJoin(e.select($"vec_id".as("idb"), $"embedding".as("b")))
      .filter($"ida" < $"idb").limit(2000)
    val diff = pairs
      .withColumn("native", expr("cosine_sim(a, b)"))
      .withColumn("hof", expr(hofCosine))
      .filter($"native" =!= $"hof") // bitwise double equality
      .count()
    assert(diff == 0)
  }

  test("cosine_sim self-similarity is exactly 1.0 (unit property)") {
    val e = Tables(spark, sf0001, "embeddings")
    val bad = e.select(expr("cosine_sim(embedding, embedding)").as("s"))
      .filter(abs($"s" - 1.0) > 1e-12).count()
    assert(bad == 0)
  }

  test("cosine_sim NULL semantics equal the HOF (mismatch/null element)") {
    val df = Seq(
      ("mismatch", Array(1.0f, 2.0f), Array(3.0f)),
      ("equal", Array(1.0f, 2.0f), Array(3.0f, 4.0f)))
      .toDF("c", "a", "b")
    val r = df.selectExpr("c", "cosine_sim(a, b) AS k").collect()
      .map(x => x.getString(0) -> Option(x.get(1))).toMap
    assert(r("mismatch").isEmpty) // NULL, like zip_with's null padding
    assert(r("equal").isDefined)
  }

  test("sq_dist_slice is BIT-identical to the HOF aggregate it replaced") {
    val e = Tables(spark, sf0001, "embeddings")
    // same-offset slices (the seed-PQ shape): every (vector, codebook
    // entry, subspace) — the exact expression pqPairs used pre-kernel
    val pairs = e.select($"vec_id".as("ida"), $"embedding".as("a"))
      .crossJoin(e.select($"vec_id".as("idb"), $"embedding".as("b")))
      .filter($"ida" < $"idb").limit(500)
    (0 until 4).foreach { m =>
      val lo = m * 16 + 1; val hi = (m + 1) * 16
      val hof = s"aggregate(sequence($lo, $hi), CAST(0.0 AS DOUBLE), " +
        "(acc, j) -> acc + (CAST(element_at(a, j) AS DOUBLE) - CAST(element_at(b, j) AS DOUBLE)) * " +
        "(CAST(element_at(a, j) AS DOUBLE) - CAST(element_at(b, j) AS DOUBLE)))"
      val diff = pairs
        .withColumn("native", expr(s"sq_dist_slice(a, ${lo - 1}, b, ${lo - 1}, 16)"))
        .withColumn("hof", expr(hof))
        .filter($"native" =!= $"hof") // bitwise double equality
        .count()
      assert(diff == 0, s"subspace $m diverged from the HOF fold")
    }
    // float-vs-DOUBLE compact codebook (the learned-encode shape)
    val learned = e.limit(50)
      .select($"embedding".as("a"),
        expr("transform(slice(embedding, 17, 16), v -> CAST(v AS DOUBLE) + 0.125D)").as("c"))
    val hof2 = "aggregate(sequence(1, 16), CAST(0.0 AS DOUBLE), " +
      "(acc, j) -> acc + (CAST(element_at(a, 16 + j) AS DOUBLE) - element_at(c, j)) * " +
      "(CAST(element_at(a, 16 + j) AS DOUBLE) - element_at(c, j)))"
    val diff2 = learned
      .withColumn("native", expr("sq_dist_slice(a, 16, c, 0, size(c))"))
      .withColumn("hof", expr(hof2))
      .filter($"native" =!= $"hof").count()
    assert(diff2 == 0, "float-vs-double slice diverged from the HOF fold")
  }

  test("sq_dist_slice NULL semantics match element_at past-the-end") {
    val df = Seq(
      ("in_range", Array(1.0f, 2.0f, 3.0f), 0, 3),
      ("overflow", Array(1.0f, 2.0f, 3.0f), 2, 3),
      ("negative", Array(1.0f, 2.0f, 3.0f), -1, 2))
      .toDF("c", "a", "off", "n")
    val r = df.selectExpr("c", "sq_dist_slice(a, off, a, 0, n) AS d").collect()
      .map(x => x.getString(0) -> Option(x.get(1))).toMap
    assert(r("in_range").contains(0.0))
    assert(r("overflow").isEmpty && r("negative").isEmpty)
  }

  test("cosine_sim rejects wrong input types at analysis") {
    intercept[Exception] {
      Tables(spark, sf0001, "documents")
        .select(expr("cosine_sim(text, text)")).collect()
    }
  }

  test("GraftExtensions injects the function via session extensions") {
    // active session already has it via Extensions.install; verify the
    // extensions builder path wires the same expression class
    val ext = new graft.plans.GraftExtensions
    assert(ext.isInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit])
  }

  test("cosine_topk (native kernel) matches an independent HOF top-k pipeline") {
    // Similarity.cosineTopk runs the NATIVE kernel; rebuild the top-k
    // with the pure-HOF cosine so the two sides exercise different code
    val hofCos =
      "aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / " +
        "(sqrt(aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) * " +
        "sqrt(aggregate(zip_with(qv, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))"
    val native = Similarity.cosineTopk(spark, sf0001, k = 10).collect()
    val e = Tables(spark, sf0001, "embeddings")
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val hof = e.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
      .select($"vec_id",
        graft.functions.ScalarFns.roundN(expr(hofCos), 6).as("cosine_sim"))
      .orderBy($"cosine_sim".desc, $"vec_id").limit(10).collect()
    assert(hof.sameElements(native))
  }
}
