package graft

import org.apache.spark.sql.functions._
import graft.operators.MergeInto

/** MERGE INTO contract: the four arms partition the work, and the
  * source-duplicate cardinality violation FAILS — never silently
  * last-writer-wins. */
class MergeIntoSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq(
    (1L, 10L, "O", 100.0), (2L, 20L, "O", 200.0), (3L, 30L, "F", 300.0))
    .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  test("arm semantics on a fabricated table: update rewrites, delete " +
      "removes, guarded insert adds, unmatched delete-op inserts nothing") {
    val source = Seq(
      ("U", 1L, Option("MU"), Option(105.0)), // matched update
      ("D", 2L, None: Option[String], None: Option[Double]), // matched delete
      ("I", -9L, Option("MI"), Option(900.0)), // not matched -> insert
      ("D", 99L, None: Option[String], None: Option[Double]))
      .toDF("_op", "k", "s", "v") // unmatched delete-op: NO arm fires
    val out = MergeInto.merge(target, source)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
      .toSet
    assert(out == Set((3L, "F", 300.0), (1L, "MU", 105.0),
      (-9L, "MI", 900.0)))
  }

  test("a matched insert-op row fires no arm: its target row is kept " +
      "unchanged and nothing is inserted") {
    // ANSI MERGE: WHEN NOT MATCHED AND _op = 'I' is the only insert
    // arm, and no MATCHED arm names 'I' — the row is a no-op
    val source = Seq(
      ("I", 3L, Option("MI"), Option(999.0)), // matched, no arm fires
      ("U", 1L, Option("MU"), Option(105.0)))
      .toDF("_op", "k", "s", "v")
    val out = MergeInto.merge(target, source)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
      .toSet
    assert(out == Set((1L, "MU", 105.0), (2L, "O", 200.0), (3L, "F", 300.0)))
  }

  test("cardinality contract: two source rows matching one target row " +
      "throw; duplicates on UNMATCHED keys are not a violation") {
    val dup = Seq(("U", 1L, Option("MU"), Option(105.0)),
      ("D", 1L, None: Option[String], None: Option[Double]))
      .toDF("_op", "k", "s", "v")
    val ex = intercept[MergeInto.MergeCardinalityException] {
      MergeInto.merge(target, dup).collect()
    }
    assert(ex.getMessage.contains("multiple source rows"))
    // duplicate INSERT keys never match the target: both insert (ANSI
    // leaves unmatched-dup behavior to the insert arm, which fires per
    // source row)
    val dupIns = Seq(("I", -7L, "MI", 1.0), ("I", -7L, "MI", 2.0))
      .toDF("_op", "k", "s", "v")
    assert(MergeInto.merge(target, dupIns).count() == 5)
  }

  test("graded census is consistent: kept + updated + inserted row " +
      "counts partition the corpus classes") {
    val o = graft.Tables(spark, sf0001, "orders")
    def hexIn(hexes: Seq[String]) =
      substring(md5(col("o_orderkey").cast("string")), 1, 1).isin(hexes: _*)
    val n = o.count()
    val nUpd = o.filter(hexIn(MergeInto.UpdHex)).count()
    val nDel = o.filter(hexIn(MergeInto.DelHex)).count()
    val nIns = o.filter(hexIn(MergeInto.InsHex)).count()
    val census = MergeInto.ordersMergeInto(spark, sf0001).collect()
    val total = census.map(_.getLong(1)).sum
    assert(total == n - nDel + nIns)
    val byStatus = census.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus("MU") == nUpd)
    assert(byStatus("MI") == nIns)
    assert(nUpd > 0 && nDel > 0 && nIns > 0, "vacuous arm")
  }

  test("chop-invariance: the stream-applied statement's final target " +
      "equals the single-statement merge row-for-row") {
    val streamed = spark.read.parquet(
      MergeInto.streamedMergedDir(spark, sf0001))
    val batch = graft.operators.MergeInto.ordersMergeInto(spark, sf0001)
    // row-for-row on the full tables, not just the census
    val single = MergeInto.mergeStep(
      graft.Tables(spark, sf0001, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice")),
      MergeInto.sourceBatch(spark, sf0001), None)
    assert(streamed.count() == single.count())
    assert(streamed.exceptAll(single).isEmpty &&
      single.exceptAll(streamed).isEmpty)
    // and the graded censuses agree
    val a = MergeInto.ordersMergeIntoStreamed(spark, sf0001).collect()
    assert(a.sameElements(batch.collect()))
  }

  test("cross-batch cardinality: a key consumed by an earlier chunk " +
      "of the statement re-arriving in a later chunk throws") {
    import spark.implicits._
    val target = Seq((1L, 10L, "O", 5.0), (2L, 20L, "O", 7.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val chunk = Seq(("U", 1L, "MU", 6.0))
      .toDF("_op", "k", "s", "v")
    val mergedKeys = Seq(Tuple1(1L)).toDF("k")
    intercept[MergeInto.MergeCardinalityException] {
      MergeInto.mergeStep(target, chunk, Some(mergedKeys))
    }
    // disjoint keys pass
    val ok = MergeInto.mergeStep(target, chunk,
      Some(Seq(Tuple1(2L)).toDF("k")))
    assert(ok.count() == 2)
  }
}
