package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guardrails on the driver contract itself — catches wiring mistakes
  * (a query without an oracle, an oracle for a renamed query, a missing
  * total ORDER BY) at `sbt test` time instead of at grading time. */
class ContractSpec extends AnyFunSuite {

  /** Queries intentionally without an oracle (weaker rows-only check). */
  val rowsOnly = Set("approx_users") // HLL sketches differ across engines

  test("every query has an oracle (or is an explicit rows-only exception)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("a query name defined by two modules fails loudly") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    def module(name: String): QueryModule = new QueryModule {
      val queries: Map[String, (SparkSession, String) => DataFrame] =
        Map(name -> ((s: SparkSession, _: String) => s.emptyDataFrame))
      val oracles: Map[String, String] = Map(name -> "SELECT 1")
    }
    val mods = Seq(module("q_a"), module("q_b"), module("q_a"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.unique("queries", mods.map(_.queries))
    }
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
    assert(SparkEntry.unique("queries", mods.take(2).map(_.queries)).size == 2)
    assert(SparkEntry.modules.distinct.size == SparkEntry.modules.size,
      "a module is listed twice")
  }

  test("no orphan oracles (oracle for a query that does not exist)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"orphan oracles: $orphans")
  }

  test("every multi-row oracle has a TOP-LEVEL ORDER BY") {
    // single-row global aggregates don't need one
    val singleRow = Set("segment_stats", "segment_active_stats",
      "segment_stats_empty", "segment_stats_cached", "zorder_prune_ratio",
      "value_drift_tv", "join_card_estimate", "spend_gini",
      "segment_rank_sum", "lsh_recall_audit", "not_in_null_semantics",
      "orders_count_metadata", "sq8_recall", "ivfsq8_recall",
      "forecast_revenue", "promo_share", "knn_triangles", "dsir_auc",
      "ab_conversion_ztest")
    // strip parenthesized content so OVER(ORDER BY ...) / subquery
    // ORDER BYs can't satisfy the check
    def topLevel(sql: String): String = {
      var s = sql
      var prev = ""
      while (s != prev) { prev = s; s = s.replaceAll("\\([^()]*\\)", " ") }
      s
    }
    val unordered = SparkEntry.oracleSql.collect {
      case (name, sql) if !singleRow(name) &&
        !topLevel(sql).toUpperCase.contains("ORDER BY") => name
    }
    assert(unordered.isEmpty, s"oracles without top-level ORDER BY: $unordered")
  }

  test("oracle SQL never uses engine-divergent round() on doubles") {
    // our contract: rounding goes through floor(x*10^n + 0.5)/10^n
    val offenders = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.matches("(?is).*\\bround\\s*\\(.*") => name
    }
    assert(offenders.isEmpty,
      s"oracles using round() instead of the floor formula: $offenders")
  }

  test("every graded query is documented in OPERATORS.md") {
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("OPERATORS.md")))
    val undocumented = SparkEntry.queries.keySet.filterNot(doc.contains)
    assert(undocumented.isEmpty,
      s"queries missing from OPERATORS.md: $undocumented")
  }

  test("no oracle references current_date/now (determinism contract)") {
    val offenders = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.toLowerCase.contains("current_date") ||
        sql.toLowerCase.contains("now()") => name
    }
    assert(offenders.isEmpty, s"non-deterministic oracles: $offenders")
  }
}
