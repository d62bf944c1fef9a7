package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
import graft.plans.Extensions

/** One module of graded queries: each query and its DuckDB oracle SQL
  * (a query with no oracle gets the weaker rows-only check). */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`: one entry per implemented operator from SURVEY.md §2.
  * `oracleSql`: equivalent DuckDB SQL per query (omitted only for
  * non-SQL-expressible ops → weaker rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Segment stats for the canonical demo filter (SURVEY.md §7.2) —
    * always returns exactly one row (P8 zero-struct on empty match). */
  def entry(spark: SparkSession): DataFrame = {
    Extensions.install(spark)
    Segmentation.statsQuery(spark, "/root/testdata/sf0.001")
  }

  /** Every graded module, each named once. */
  val modules: Seq[QueryModule] = Seq(
    Segmentation, Tables, Joins, Aggregates, Windows, EventOps,
    CampaignOps, TextOps, Similarity, SetJoin, EditJoin, DupSpans,
    Curation, TextSignals, IncrementalDedup, RpSketch, Scd, Compaction,
    ZOrder, BloomIndex, Vacuum, Attribution, Wap, IvfMaintained,
    SemDedupMaintained, RangeJoin, Integrity, Formats, MergeOnRead, Ivm,
    JoinIvm, MergeInto, MvServe, Packing, Pii, Baskets, GraphOps, Cohorts,
    Skyline, Concentration, Erasure, Stats, RankTest, Membership,
    BitmapOps, Sweepline, Cep, Cusum, Subqueries, TpchShapes, Cbo, Sq8,
    Governance, KmvOps, Dsir, Chunking, Paging, Sharding, Hybrid,
    MarkovAttribution, Coreset, LangId, ChunkRetrieval, CurationPipeline,
    Bootstrap, Rfm, graft.functions.TypedAggs, Multimodal, Skew,
    graft.streaming.StreamReplay)

  /** The union of `maps`; a name defined twice fails loudly instead of
    * the last definition silently winning. */
  private[graft] def unique[V](what: String,
      maps: Seq[Map[String, V]]): Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity)
      .collect { case (name, n) if n.size > 1 => name }
    require(dups.isEmpty,
      s"$what defined by more than one module: ${dups.toSeq.sorted.mkString(", ")}")
    maps.flatten.toMap
  }

  /** Each call installs the graft extensions into the caller's session
    * before building the query, so every query plans under the same
    * functions and rules whatever ran before it. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    unique("queries", modules.map(_.queries)).map { case (name, q) =>
      name -> { (spark: SparkSession, dir: String) =>
        Extensions.install(spark)
        q(spark, dir)
      }
    }

  /** `approx_users` intentionally has NO oracle (HLL sketches are not
    * cross-engine comparable) → driver rows-only check. */
  lazy val oracleSql: Map[String, String] =
    unique("oracles", modules.map(_.oracles))
}
