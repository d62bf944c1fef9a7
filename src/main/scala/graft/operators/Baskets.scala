package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ScalarFns.{roundN, roundSql}

/** FREQUENT-PAIR MARKET-BASKET MINING — association rules over the
  * order/part bipartite graph: which parts co-occur in the same order
  * more often than minimum support, with support / confidence / lift
  * (the Agrawal-Srikant a-priori family, pair depth — the analytics
  * behind "customers who bought X also bought Y", and in a training
  * -data pipeline the co-occurrence statistic behind token/tag
  * affinity audits). Generalizes the reference's genre-overlap
  * segment filter (`tools.py:30-41` matches fans whose genre SETS
  * overlap a query set) from filter to corpus-wide mining.
  *
  * A-PRIORI PRUNING IN-PLAN: support is antimonotone — a pair seen s
  * times needs both items seen ≥ s times — so baskets are first
  * semi-joined against the frequent-ITEM set (broadcast; map-only over
  * the basket stream) before any pair forms. On this corpus every part
  * clears the threshold (uniform TPC-H-ish part draw), so the prune
  * passes everything through — the GRADE proves it LOSSLESS (the
  * oracle mines without pruning), and on the long-tail distributions
  * real corpora have, the same plan drops the tail before the
  * quadratic-in-basket-size pair explosion.
  *
  * Scale shape: pairs come from the orderkey equi-self-join of the
  * deduplicated basket stream — one hash shuffle on orderkey, pair
  * blowup Σ|basket|²/2 bounded by small baskets (≈4 items here;
  * pathological mega-baskets would be salted or capped upstream) —
  * then ONE pair-granularity partial agg. Item counts and the order
  * count ride broadcast frames. Never a per-order collect_list.
  *
  * Determinism: counts are exact BIGINTs; support/confidence/lift are
  * single pinned-order double divisions of exact integers, rounded.
  */
object Baskets extends graft.QueryModule {

  /** Absolute minimum support (pair AND item occurrence count). */
  private[graft] val MinSup = 3L

  private def baskets(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()

  /** Per-item basket occurrence counts — ResultCache-shared by the
    * pair mine and both graded consumers. */
  private def itemCounts(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|basket_items|$dir",
      ttlSeconds = 300) {
      baskets(spark, dir).groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_item"))
    }

  /** The frequent-pair table (part_a < part_b, n_pair ≥ MinSup) — the
    * expensive orderkey self-join, mined ONCE per (session, dir)
    * through the S6 cache; [[basketPairs]] and [[itemRecsCooccur]]
    * both consume it (a production pipeline materializes this table
    * daily for the same reason). */
  private def minedPairs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ResultCache.getOrCompute(
      s"${graft.sources.ResultCache.sessionId(spark)}|basket_pairs_mine|$dir",
      ttlSeconds = 300) {
      val b = baskets(spark, dir)
      val frequent = itemCounts(spark, dir).filter(col("n_item") >= MinSup)
      // a-priori prune: only frequent items can appear in frequent
      // pairs (graded lossless — the oracle mines without it)
      val fb = b.join(broadcast(frequent.select(col("l_partkey"))),
        Seq("l_partkey"), "left_semi")
      fb.as("x")
        .join(fb.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey")
            && col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("part_a"),
          col("y.l_partkey").as("part_b"))
        .agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= MinSup)
    }

  /** GRADED: frequent part pairs with association measures. */
  def basketPairs(spark: SparkSession, dir: String): DataFrame = {
    val b = baskets(spark, dir)
    val itemCounts = this.itemCounts(spark, dir)
    val pairs = minedPairs(spark, dir)
    val nOrders = b.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    pairs
      .join(broadcast(itemCounts.select(col("l_partkey").as("part_a"),
        col("n_item").as("n_a"))), Seq("part_a"))
      .join(broadcast(itemCounts.select(col("l_partkey").as("part_b"),
        col("n_item").as("n_b"))), Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_pair"),
        col("n_a"), col("n_b"),
        roundN(col("n_pair").cast("double")
          / col("n_orders").cast("double"), 6).as("support"),
        roundN(col("n_pair").cast("double")
          / col("n_a").cast("double"), 4).as("confidence_a_b"),
        roundN((col("n_pair") * col("n_orders")).cast("double")
          / (col("n_a") * col("n_b")).cast("double"), 4).as("lift"))
      .orderBy("part_a", "part_b")
  }

  /** ITEM-ITEM RECOMMENDATIONS — the top-N step of classic
    * neighborhood collaborative filtering (Sarwar et al., "Item-based
    * collaborative filtering recommendation algorithms"): similarity
    * between items = cosine over their binary order-occurrence
    * vectors, which for co-occurrence counts collapses to
    * n_pair / √(n_a·n_b); each item keeps its top-3 neighbors. Ranks
    * on EXACT integers: cos²·10⁶ by floor division
    * (n_pair²·10⁶ div n_a·n_b) — cosine is nonnegative here so cos² is
    * order-isomorphic to cosine and no float enters the comparison;
    * ties break by raw co-count then smaller item id.
    *
    * Scale shape: everything downstream of the pair mine is
    * pair-granularity; the per-item top-3 is a window partitioned on
    * the item key — many small groups, embarrassingly parallel. The
    * expensive part (the pair table) is exactly [[basketPairs]]'
    * shuffle, which a production pipeline materializes once per day. */
  def itemRecsCooccur(spark: SparkSession, dir: String,
      topN: Int = 3): DataFrame = {
    val itemCounts = this.itemCounts(spark, dir)
    val pairs = minedPairs(spark, dir)
    val sym = pairs.select(col("part_a").as("item"),
        col("part_b").as("rec_item"), col("n_pair"))
      .unionByName(pairs.select(col("part_b").as("item"),
        col("part_a").as("rec_item"), col("n_pair")))
    val scored = sym
      .join(broadcast(itemCounts.select(col("l_partkey").as("item"),
        col("n_item").as("n_i"))), Seq("item"))
      .join(broadcast(itemCounts.select(col("l_partkey").as("rec_item"),
        col("n_item").as("n_r"))), Seq("rec_item"))
      // widen BEFORE multiplying (the [[Bootstrap]] idiom): n_pair²·10⁶
      // overflows BIGINT once a pair co-occurs in >~3.03M baskets —
      // fine at bench SFs, not at the operator's 100 TB framing
      .selectExpr("item", "rec_item", "n_pair",
        "CAST(floor((CAST(n_pair AS DECIMAL(38,0)) * n_pair * 1000000)" +
          " / (n_i * n_r)) AS BIGINT) AS cos2_ppm")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("item")
      .orderBy(col("cos2_ppm").desc, col("n_pair").desc, col("rec_item"))
    scored.withColumn("rec_rank", row_number().over(w))
      .filter(col("rec_rank") <= topN)
      .select(col("item"), col("rec_rank").cast("long").as("rec_rank"),
        col("rec_item"), col("n_pair"), col("cos2_ppm"))
      .orderBy("item", "rec_rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "basket_pairs" -> (basketPairs(_, _)),
    "item_recs_cooccur" -> ((s: SparkSession, d: String) =>
      itemRecsCooccur(s, d)))

  /** DuckDB twin mines WITHOUT the a-priori prune — ground truth; the
    * hash can only match if the prune is lossless. */
  val oracles: Map[String, String] = Map(
    "basket_pairs" ->
      s"""WITH b AS (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |ic AS (
         |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
         |  FROM b GROUP BY 1),
         |nn AS (
         |  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
         |  FROM b),
         |p AS (
         |  SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
         |    CAST(count(*) AS BIGINT) AS n_pair
         |  FROM b x JOIN b y
         |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
         |  GROUP BY 1, 2
         |  HAVING count(*) >= $MinSup)
         |SELECT p.part_a, p.part_b, p.n_pair, a.n_item AS n_a,
         |  c.n_item AS n_b,
         |  ${roundSql("CAST(n_pair AS DOUBLE) / CAST(n_orders AS DOUBLE)",
            6)} AS support,
         |  ${roundSql("CAST(n_pair AS DOUBLE) / CAST(a.n_item AS DOUBLE)",
            4)} AS confidence_a_b,
         |  ${roundSql("CAST(n_pair * n_orders AS DOUBLE)" +
            " / CAST(a.n_item * c.n_item AS DOUBLE)", 4)} AS lift
         |FROM p
         |JOIN ic a ON p.part_a = a.l_partkey
         |JOIN ic c ON p.part_b = c.l_partkey
         |CROSS JOIN nn
         |ORDER BY part_a, part_b""".stripMargin,
    "item_recs_cooccur" ->
      s"""WITH b AS (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |ic AS (
         |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
         |  FROM b GROUP BY 1),
         |p AS (
         |  SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
         |    CAST(count(*) AS BIGINT) AS n_pair
         |  FROM b x JOIN b y
         |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
         |  GROUP BY 1, 2
         |  HAVING count(*) >= $MinSup),
         |sym AS (
         |  SELECT part_a AS item, part_b AS rec_item, n_pair FROM p
         |  UNION ALL
         |  SELECT part_b, part_a, n_pair FROM p),
         |sc AS (
         |  SELECT s.item, s.rec_item, s.n_pair,
         |    CAST((CAST(s.n_pair AS HUGEINT) * s.n_pair * 1000000)
         |      // (i.n_item * r.n_item) AS BIGINT) AS cos2_ppm
         |  FROM sym s
         |  JOIN ic i ON s.item = i.l_partkey
         |  JOIN ic r ON s.rec_item = r.l_partkey),
         |rk AS (
         |  SELECT item, rec_item, n_pair, cos2_ppm,
         |    CAST(row_number() OVER (PARTITION BY item
         |      ORDER BY cos2_ppm DESC, n_pair DESC, rec_item)
         |      AS BIGINT) AS rec_rank
         |  FROM sc)
         |SELECT item, rec_rank, rec_item, n_pair, cos2_ppm
         |FROM rk WHERE rec_rank <= 3
         |ORDER BY item, rec_rank""".stripMargin)
}
