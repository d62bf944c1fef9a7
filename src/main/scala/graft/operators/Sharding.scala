package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** RENDEZVOUS (HRW) SHARD ROUTING — the stateless assignment layer a
  * serving fleet puts in front of stored artifacts (postings buckets,
  * IVF lists, chunk stores): shard(doc) = argmax over shards of
  * hash(doc, shard). Unlike mod-N hashing, where resizing N reshuffles
  * ~everything, HRW has MINIMAL DISRUPTION by construction: removing a
  * shard moves exactly that shard's keys (every other key's argmax is
  * untouched — its winning weight is still present), and adding one
  * only pulls keys whose NEW weight beats their current winner. The
  * spec pins the removal law literally: the 8-shard and 7-shard
  * assignments differ exactly on shard 7's keys.
  *
  * Weights are the repo's md5-nibble u32 over `doc_id:shard` — fully
  * deterministic and oracle-reproducible; argmax ties break to the
  * smaller shard id on both engines (never observed at 32-bit weights,
  * pinned anyway). The assignment is ONE map-side weight expansion (8
  * rows per key) + ONE partial-agg shuffle (max of a (weight, −shard)
  * struct — no per-key window); per-shard load is the catalog-size
  * finish. 100 TB: routing is embarrassingly parallel and the 8-row
  * fan-out is a constant, not a join.
  */
object Sharding extends graft.QueryModule {

  private[graft] val NumShards = 8

  /** (doc_id, shard) under n shards — shared by the graded query and
    * the spec's removal-law arm. */
  private[graft] def assignment(spark: SparkSession, dir: String,
      n: Int = NumShards): DataFrame = {
    val spine = spark.range(1)
      .select(explode(sequence(lit(0L), lit((n - 1).toLong))).as("s"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .crossJoin(broadcast(spine))
      .withColumn("w", expr(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', " +
          "CAST(s AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("w"), (-col("s")).as("ns"))).as("m"),
        max(col("n_chars")).as("n_chars"))
      .select(col("doc_id"), (-col("m.ns")).as("shard"), col("n_chars"))
  }

  /** GRADED: per-shard load report — the balance check a routing layer
    * ships with (HRW load is binomial-uniform; a skewed shard names a
    * hash bug, not data skew). */
  def hrwShardLoad(spark: SparkSession, dir: String): DataFrame =
    assignment(spark, dir)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("shard")

  /** DuckDB twin of the first-8-nibble u32 over hex column `h`. */
  private val u32Poly: String = (1 to 8).map { j =>
    val mult = 1L << (4 * (8 - j))
    s"(instr('0123456789abcdef', substr(h, $j, 1)) - 1) * $mult"
  }.mkString(" + ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hrw_shard_load" -> (hrwShardLoad _))

  val oracles: Map[String, String] = Map(
    "hrw_shard_load" ->
      s"""WITH sp AS (SELECT unnest(generate_series(0, ${NumShards - 1}))
         |    AS s),
         |wx AS (
         |  SELECT d.doc_id, d.n_chars, sp.s,
         |    md5(CAST(d.doc_id AS VARCHAR) || ':' ||
         |      CAST(sp.s AS VARCHAR)) AS h
         |  FROM documents d CROSS JOIN sp),
         |w AS (SELECT doc_id, n_chars, s, $u32Poly AS wt FROM wx),
         |a AS (
         |  SELECT doc_id, n_chars, s,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY wt DESC, s) AS rk
         |  FROM w)
         |SELECT CAST(s AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM a WHERE rk = 1 GROUP BY 1 ORDER BY shard""".stripMargin)
}
