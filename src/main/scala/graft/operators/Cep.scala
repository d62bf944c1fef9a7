package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Complex-event-processing pattern matching (MATCH_RECOGNIZE-lite /
  * Flink-CEP shape): count non-overlapping `view+ click+ purchase`
  * funnels inside each user's time-ordered event sequence (reference
  * provenance: the demo inspects per-contact activity chronologies one
  * list at a time, `crm_demo/app.py:95-120`; the engine form is a
  * pattern automaton over every user's sequence at once).
  *
  * Semantics pinned three ways, all provably identical:
  *  - the BATCH query renders each user's sequence as an initial
  *    string under the deterministic total order (ts, event_id) and
  *    counts leftmost non-overlapping greedy regex matches
  *    (`regexp_count` — Java regex on Spark);
  *  - the ORACLE does the same with DuckDB's RE2
  *    (`len(regexp_extract_all(...))`) — for `v+c+p` (no alternation,
  *    no overlap subtleties) the two engines' non-overlapping counts
  *    coincide;
  *  - [[Cep.countMatches]] is the same pattern as a 3-state AUTOMATON
  *    (the form a streaming operator carries: state = match phase,
  *    O(1) per event, no backtracking); CepSpec proves automaton ≡
  *    regex on random strings, and the streamed twin runs it under
  *    `mapGroupsWithState` with the phase carried across batches.
  *
  * Scale shape: ONE groupBy(user) with map-side-combined collect of
  * (ts, event_id, initial) triples; the per-user sort is inside the
  * group (never a global sort), and per-user sequences are bounded by
  * user activity — the standard sessionization envelope (same
  * assumption as `session_stats` / `event_funnel`). The pattern scan
  * itself is O(sequence length) per user.
  */
object Cep extends graft.QueryModule {

  /** The funnel pattern over event initials. */
  val Pattern = "v+c+p"

  /** Event type → single-char initial (anything unknown → 'e'). */
  def initialExpr(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c === "view", "v").when(c === "click", "c")
      .when(c === "purchase", "p").when(c === "signup", "s")
      .otherwise("e")

  /** `v+c+p` as a 3-state automaton: phase 0 = idle, 1 = inside v+,
    * 2 = inside c+; a 'p' in phase 2 completes a match and resets.
    * Equivalent to leftmost non-overlapping greedy regex matching for
    * this pattern (CepSpec pins it property-wise): after any prefix,
    * the automaton phase is exactly how far the best still-viable
    * match attempt has progressed, and completing at the FIRST
    * possible 'p' is what non-overlapping leftmost matching does. */
  def step(phase: Int, ch: Char): (Int, Boolean) = ch match {
    case 'v' => (1, false)
    case 'c' => (if (phase >= 1) 2 else 0, false)
    case 'p' => if (phase == 2) (0, true) else (0, false)
    case _   => (0, false)
  }

  def countMatches(seq: String): Long = {
    var phase = 0
    var n = 0L
    var i = 0
    while (i < seq.length) {
      val (p2, hit) = step(phase, seq.charAt(i))
      phase = p2
      if (hit) n += 1
      i += 1
    }
    n
  }

  /** Per-user funnel-pattern counts (batch form). */
  def cepFunnelMatches(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), struct(col("ts"), col("event_id"),
        initialExpr(col("event_type")).as("ini")).as("ev"))
    e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        concat_ws("", expr("transform(array_sort(collect_list(ev)), x -> x.ini)"))
          .as("seq"))
      .select(col("user_id"), col("n_events"),
        expr(s"CAST(regexp_count(seq, '$Pattern') AS BIGINT)").as("n_funnels"))
      .orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cep_funnel_matches" -> (cepFunnelMatches _))

  val oracles: Map[String, String] = Map(
    "cep_funnel_matches" ->
      """WITH s AS (
        |  SELECT user_id, count(*) AS n_events,
        |    string_agg(CASE event_type
        |        WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |        WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
        |        ELSE 'e' END, '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY 1)
        |SELECT user_id, n_events,
        |  CAST(len(regexp_extract_all(seq, 'v+c+p')) AS BIGINT) AS n_funnels
        |FROM s ORDER BY user_id""".stripMargin)
}
