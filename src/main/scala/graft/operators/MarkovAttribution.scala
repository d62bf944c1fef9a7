package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** MARKOV REMOVAL-EFFECT ATTRIBUTION — the data-driven multi-touch
  * model beside the heuristic rules ([[Attribution]]'s linear /
  * position / time-decay): model user journeys as a first-order Markov
  * chain over touch channels with absorbing CONV / NULL states
  * (Anderl et al. 2016, the standard "removal effect" construction):
  * a channel's credit is how much the start→conversion probability
  * DROPS when the channel is removed (transitions into it routed to
  * NULL, nothing renormalized).
  *
  * The determinism problem — and the design answer: absorption
  * probabilities solve a linear system, and iterative float solvers
  * are order- and libm-dependent across engines. Instead the chain is
  * solved EXACTLY IN INTEGERS by Cramer's rule: transition
  * probabilities are floored ppm (`(cnt·10⁶) div n_from` — bounded
  * ≤ 10⁶ REGARDLESS of corpus size, so determinant magnitude is
  * corpus-independent), the 4-channel system `(10⁶·I − P)·x = b` has
  * 4×4 integer determinants (24-term permanent-style expansion,
  * |det| ≤ 24·10²⁴ — wide but bounded), and every quotient is one
  * integral division of exact integers. Spark runs the arithmetic in
  * DECIMAL(38,0) (`div` = IntegralDivide → BIGINT), DuckDB in HUGEINT
  * (`//`); ONE Scala generator emits both engines' expression strings
  * so the algebra cannot drift.
  *
  * Scale shape: journey extraction is per-USER windows (millions of
  * small partitions — the sessionization discipline) and ONE
  * conditional-sum aggregate collapses the corpus to a single
  * 30-column transition-count row; the solve is a constant-size
  * expression over that row — no iteration, no driver-side math, no
  * collect. At 100 TB only the windows and the one partial-agg
  * shuffle grow.
  *
  * Journey semantics (spec-pinned): per user, events ordered by
  * (ts, event_id); each purchase CONVERTS and closes the journey;
  * trailing touches with no later purchase end in NULL. Channels =
  * the four non-purchase event types.
  */
object MarkovAttribution extends graft.QueryModule {

  /** Channel order is the output order and the matrix index order. */
  private[graft] val Channels = Seq("click", "error", "signup", "view")
  private val Keys = Seq("ck", "er", "su", "vw")
  private val Froms = "st" +: Keys // start + channels
  private val Tos = Keys ++ Seq("conv", "nl") // channels + absorbing

  private def keyOf(eventType: String): String =
    Keys(Channels.indexOf(eventType))

  /** Permutations of 0..3 with parity — the 24-term determinant. */
  private val Perm4: Seq[(Seq[Int], Int)] = {
    def sign(p: Seq[Int]): Int = {
      var s = 1
      for (i <- p.indices; j <- i + 1 until p.length)
        if (p(i) > p(j)) s = -s
      s
    }
    (0 to 3).permutations.map(p => (p.toSeq, sign(p))).toSeq
  }

  /** 4×4 determinant as an arithmetic string over entry strings. */
  private def det4(m: Seq[Seq[String]]): String =
    Perm4.map { case (p, s) =>
      val prod = (0 to 3).map(i => m(i)(p(i))).mkString(" * ")
      if (s > 0) s"+ ($prod)" else s"- ($prod)"
    }.mkString(" ")

  /** The per-variant conversion-probability expression (ppm), shared
    * by both engines; `divOp` is `div` (Spark) or `//` (DuckDB).
    * `removed` = -1 for the full chain, else the channel index whose
    * inbound transitions are cut. Returns the (numerator, determinant)
    * expression strings — the ONE shared generator both engines'
    * quotients are composed from. */
  private def convPpmParts(removed: Int): (String, String) = {
    def pcol(f: String, t: String) = s"p_${f}_$t"
    // M = 10⁶·I − P with column `removed` cut (inbound edges to the
    // removed channel are lost, rows NOT renormalized)
    val m = (0 to 3).map { i =>
      (0 to 3).map { j =>
        if (j == removed) { if (i == j) "1000000" else "0" }
        else if (i == j) s"(1000000 - ${pcol(Keys(i), Keys(j))})"
        else s"(0 - ${pcol(Keys(i), Keys(j))})"
      }
    }
    val b = (0 to 3).map(i => pcol(Keys(i), "conv"))
    val detM = det4(m)
    val detMj = (0 to 3).map { j =>
      det4((0 to 3).map(i => m(i).updated(j, b(i))))
    }
    // x_start·10⁶ = (Σ_j p_st_j·det(M_j) + p_st_conv·det(M)) / det(M)
    val terms = (0 to 3).collect {
      case j if j != removed => s"${pcol("st", Keys(j))} * (${detMj(j)})"
    } :+ s"${pcol("st", "conv")} * ($detM)"
    ((s"(${terms.mkString(" + ")})"), s"($detM)")
  }

  /** The guarded quotient over ALREADY-NAMED num/det attributes —
    * det(M) = 0 is reachable when a closed channel subset's floored
    * rows sum to exactly 10⁶ (all mass cycling, no conv/null leak):
    * Spark non-ANSI `div` would return NULL while DuckDB `//` raises —
    * the engines would FAIL DIFFERENTLY instead of agreeing (r10
    * advice). One wording, both engines; Spark applies it over a
    * BARRIERED (num, det) frame because inlining the 24-term
    * determinant twice per variant (once in the guard, once in the
    * quotient) overflows Janino's 64 KB codegen method limit. */
  private def guardedPpm(num: String, det: String, divOp: String): String =
    s"(CASE WHEN $det = 0 THEN 0 ELSE $num $divOp $det END)"

  /** Composed form for the oracle (DuckDB has no codegen limit). */
  private def convPpmExpr(removed: Int, divOp: String): String = {
    val (num, det) = convPpmParts(removed)
    guardedPpm(num, det, divOp)
  }

  /** Shared generator for the transition-count conditional sums —
    * `caseSql(f, t)` renders one engine's conditional-sum expression. */
  private def cntNames: Seq[(String, String)] =
    for (f <- Froms; t <- Tos) yield (f, t)

  /** Journey edges (from_s, to_s) — the distributed part. */
  private def edges(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val wAll = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val withJid = e.withColumn("jid",
      coalesce(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .over(wAll.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val wj = Window.partitionBy(col("user_id"), col("jid"))
      .orderBy(col("ts"), col("event_id"))
    val step = withJid
      .withColumn("from_s",
        coalesce(lag(col("event_type"), 1).over(wj), lit("start")))
      .withColumn("to_s", when(col("event_type") === "purchase", "conv")
        .otherwise(col("event_type")))
      .select(col("from_s"), col("to_s"))
    val wjd = Window.partitionBy(col("user_id"), col("jid"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val endE = withJid
      .withColumn("rn", row_number().over(wjd))
      .filter(col("rn") === 1 && col("event_type") =!= "purchase")
      .select(col("event_type").as("from_s"), lit("null").as("to_s"))
    step.unionByName(endE)
  }

  private def fromLabel(f: String): String =
    if (f == "st") "start" else Channels(Keys.indexOf(f))
  private def toLabel(t: String): String = t match {
    case "conv" => "conv"; case "nl" => "null"
    case k => Channels(Keys.indexOf(k))
  }

  /** GRADED: per-channel removal effect + credit share. Output: one
    * row per variant ('full' + each channel): the chain's start→conv
    * probability in exact ppm, the removal effect (p_full − p_removed,
    * ≥ 0 — floors are monotone), and each channel's credit share of
    * the total removal mass in ppm. */
  def markovRemovalEffect(spark: SparkSession, dir: String): DataFrame = {
    val cnts: Seq[Column] = cntNames.map { case (f, t) =>
      sum(when(col("from_s") === fromLabel(f) && col("to_s") === toLabel(t),
        1L).otherwise(0L)).as(s"c_${f}_$t")
    }
    val cnt = edges(spark, dir).agg(cnts.head, cnts.tail: _*)
    // floored-ppm transition probabilities, widened to DECIMAL(38,0)
    // so the determinant products stay exact
    val pCols: Seq[Column] = Froms.flatMap { f =>
      val n = Tos.map(t => col(s"c_${f}_$t")).reduce(_ + _)
      Tos.filterNot(_ == "nl").map { t =>
        // count cast to DECIMAL(38,0) BEFORE the ×10⁶ — `c * 1000000L`
        // in BIGINT overflows at ~9.2e12 edge counts per cell, inside
        // the 100 TB envelope (r10 advice); oracle mirrors in HUGEINT
        when(n === 0, lit(0L).cast("decimal(38,0)"))
          .otherwise(expr(s"(CAST(c_${f}_$t AS DECIMAL(38,0)) * 1000000) div " +
            s"(${Tos.map(t2 => s"c_${f}_$t2").mkString(" + ")})")
            .cast("decimal(38,0)"))
          .as(s"p_${f}_$t")
      }
    }
    // BARRIER the 1-row probability frame so the determinant
    // expressions reference plain attributes instead of letting
    // CollapseProject inline every p_* definition (a guarded div over
    // a 6-term sum) into each of its ~30 determinant references.
    // Profiled at sf0.1: steady-state ~2.1 s data work + ~1.6 s
    // one-time analysis of the 5 variant expressions; the first-call
    // figure on a cold session is dominated by ordinary Spark session
    // warmup, not by this plan.
    val p = cnt.select(pCols: _*).localCheckpoint(true)
    // SECOND barrier: name each variant's (numerator, determinant) as
    // plain attributes before the guarded quotient references the
    // determinant twice ([[guardedPpm]] — Janino limit). 1 row ×
    // 10 columns; same localCheckpoint discipline as `p`.
    val variantKeys = ("full", -1) +:
      Keys.indices.map(i => (s"rm_${Keys(i)}", i))
    val nd = p.select(variantKeys.flatMap { case (nm, idx) =>
      val (num, det) = convPpmParts(idx)
      Seq(expr(num).as(s"num_$nm"), expr(det).as(s"det_$nm"))
    }: _*).localCheckpoint(true)
    val variants = nd.select(
      (expr(guardedPpm("num_full", "det_full", "div")).as("p_full") +:
        Keys.indices.map(i =>
          expr(guardedPpm(s"num_rm_${Keys(i)}", s"det_rm_${Keys(i)}", "div"))
            .as(s"p_rm_${Keys(i)}"))): _*)
    val stacked = variants.select(expr(
      "stack(5, " +
        ("'full', p_full" +:
          Keys.indices.map(i =>
            s"'${Channels(i)}', p_rm_${Keys(i)}")).mkString(", ") +
        ") AS (variant, p_conv_ppm)"),
      col("p_full"))
    stacked
      .withColumn("removal_effect_ppm",
        when(col("variant") === "full", lit(0L))
          .otherwise(col("p_full") - col("p_conv_ppm")))
      .withColumn("total_effect",
        sum(col("removal_effect_ppm")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .withColumn("credit_share_ppm",
        when(col("variant") === "full" || col("total_effect") === 0, lit(0L))
          .otherwise(expr("CAST((CAST(removal_effect_ppm AS DECIMAL(38,0))" +
            " * 1000000) div total_effect AS BIGINT)")))
      .select(col("variant"), col("p_conv_ppm"), col("removal_effect_ppm"),
        col("credit_share_ppm"))
      .orderBy("variant")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "attribution_markov" -> (markovRemovalEffect(_, _)))

  private def oracleSql: String = {
    val cntSels = cntNames.map { case (f, t) =>
      s"CAST(sum(CASE WHEN from_s = '${fromLabel(f)}' AND to_s = '${toLabel(t)}' " +
        s"THEN 1 ELSE 0 END) AS BIGINT) AS c_${f}_$t"
    }.mkString(",\n    ")
    val pSels = Froms.flatMap { f =>
      val nSum = Tos.map(t2 => s"c_${f}_$t2").mkString(" + ")
      Tos.filterNot(_ == "nl").map { t =>
        s"CAST(CASE WHEN ($nSum) = 0 THEN 0 " +
          s"ELSE (CAST(c_${f}_$t AS HUGEINT) * 1000000) // ($nSum) END " +
          s"AS HUGEINT) AS p_${f}_$t"
      }
    }.mkString(",\n    ")
    val varSels = ("full", -1) +: Channels.zipWithIndex
    val resSel = varSels.map { case (name, idx) =>
      s"SELECT '$name' AS variant, ${convPpmExpr(idx, "//")} AS p_conv_ppm, " +
        s"${convPpmExpr(-1, "//")} AS p_full FROM p"
    }.mkString("\n  UNION ALL ")
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id, event_type FROM events),
       |j AS (
       |  SELECT *, coalesce(sum(CASE WHEN event_type = 'purchase'
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid
       |  FROM ev),
       |step AS (
       |  SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id, jid
       |      ORDER BY ts, event_id), 'start') AS from_s,
       |    CASE WHEN event_type = 'purchase' THEN 'conv'
       |      ELSE event_type END AS to_s
       |  FROM j),
       |ende AS (
       |  SELECT event_type AS from_s, 'null' AS to_s
       |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, jid
       |          ORDER BY ts DESC, event_id DESC) AS rn FROM j) x
       |  WHERE rn = 1 AND event_type <> 'purchase'),
       |edges AS (SELECT * FROM step UNION ALL SELECT * FROM ende),
       |cnt AS (
       |  SELECT
       |    $cntSels
       |  FROM edges),
       |p AS (
       |  SELECT
       |    $pSels
       |  FROM cnt),
       |res AS (
       |  $resSel),
       |eff AS (
       |  SELECT variant, CAST(p_conv_ppm AS BIGINT) AS p_conv_ppm,
       |    CAST(CASE WHEN variant = 'full' THEN 0
       |      ELSE p_full - p_conv_ppm END AS BIGINT) AS removal_effect_ppm
       |  FROM res)
       |SELECT variant, p_conv_ppm, removal_effect_ppm,
       |  CAST(CASE WHEN variant = 'full'
       |      OR sum(removal_effect_ppm) OVER () = 0 THEN 0
       |    ELSE (removal_effect_ppm * 1000000)
       |      // (sum(removal_effect_ppm) OVER ()) END AS BIGINT)
       |    AS credit_share_ppm
       |FROM eff
       |ORDER BY variant""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "attribution_markov" -> oracleSql)
}
