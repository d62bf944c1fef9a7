package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** IVF inverted-list MAINTENANCE — the growable-index move for the
  * coarse-quantizer family (FAISS `IndexIVF.add()`): a corpus grows
  * daily, and the IVF contract is that CENTROIDS STAY FIXED while new
  * vectors append to their lists — rebuilding the quantizer per
  * ingest would invalidate every stored assignment. Completes the
  * maintenance matrix: dedup index (r7), postings/zone-map/graph
  * (r8) — and now the ANN list index.
  *
  *  - BASE: vectors with md5(vec_id) ≥ '2' (~7/8); coarse centroids =
  *    the ⌈√|base|⌉ smallest base vec_ids (the rank rule the
  *    maintained graph uses — base ids aren't contiguous);
  *  - base lists: top-1 assignment of every base vector, written once;
  *  - APPEND: new vectors' top-1 assignments against the SAME frozen
  *    centroids land as an added file set — base list files are never
  *    rewritten (spec-pinned by name + length);
  *  - QUERY: the standing query (vector 0) probes its top-2 centroids
  *    and reranks the union of those two lists — base and day-2
  *    vectors compete in the same candidate set.
  *
  * Graded by a DuckDB oracle re-deriving centroids, both assignment
  * generations, the probe, and the rerank with identical arithmetic
  * and tie-breaks. At 100 TB the append is a map-only pass over the
  * new vectors (√N kernel calls each) — the reason IVF ingest is
  * cheap enough to run per batch. */
object IvfMaintained extends graft.QueryModule {

  private[graft] final case class IvfState(root: String, nlist: Int,
      baseFiles: Map[String, Long], deltaFiles: Map[String, Long])

  private def listPq(dir: String): Map[String, Long] =
    Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length).toMap

  private val states = new ConcurrentHashMap[String, IvfState]()

  private def centsOf(spark: SparkSession, dir: String,
      nlist: Int): DataFrame =
    Tables(spark, dir, "embeddings")
      .filter(!GraphOps.isNewVec)
      .orderBy(col("vec_id")).limit(nlist)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))

  private[graft] def state(spark: SparkSession, dir: String): IvfState =
    states.computeIfAbsent(dir, { _ =>
      val root = Tables.scratchDir("graft_ivf_maint_").getAbsolutePath
      val e = Tables(spark, dir, "embeddings")
      val base = e.filter(!GraphOps.isNewVec)
      val fresh = e.filter(GraphOps.isNewVec)
      // one driver scalar — planner metadata, the ZOrder.bounds rule
      val nlist = math.ceil(math.sqrt(base.count().toDouble)).toInt
      val cents = centsOf(spark, dir, nlist)
      def assignTop1(side: DataFrame): DataFrame = {
        val w = Window.partitionBy("vec_id")
          .orderBy(col("s").desc, col("cid"))
        graft.Tables.fanOut(spark, side, key = "vec_id")
          .crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cid"),
            expr("cosine_sim(embedding, cv)").as("s"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("cid"))
      }
      assignTop1(base).write.mode("overwrite").parquet(root)
      val baseFiles = listPq(root)
      // the append: same frozen centroids, new vectors only — base
      // list files untouched
      assignTop1(fresh).write.mode("append").parquet(root)
      IvfState(root, nlist, baseFiles, listPq(root) -- baseFiles.keys)
    })

  /** GRADED: nprobe=2 top-10 for the standing query over the
    * MAINTAINED lists (base ∪ appended assignments). */
  def cosineTopkIvfMaintained(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val st = state(spark, dir)
    topkFromLists(spark, dir, st, spark.read.parquet(st.root), k)
  }

  /** ERASURE propagation into the IVF assignment lists (r8 verdict
    * #1): erasing a vector must retire its list entry or the probe
    * keeps returning the erased id as a candidate. Delete delta =
    * [[IndexErasure]]'s position-delete file set over the list files
    * (erased class md5-nibble 'a' ⊂ the base slice, so only base list
    * files carry retired rows — and neither base nor day-2 delta
    * files are touched; spec pins the file set). CENTROIDS STAY
    * FROZEN — the IVF contract; the coarse quantizer is aggregate
    * geometry (kept vectors' assignments would be invalidated by a
    * recluster), so erasure retires LIST ENTRIES, exactly as FAISS
    * `remove_ids` does. Same oracle shape, candidates restricted to
    * the surviving ids. */
  def cosineTopkIvfMaintainedErased(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val st = state(spark, dir)
    topkFromLists(spark, dir, st,
      IndexErasure.erasedView(spark, st.root,
        IndexErasure.erased(col("vec_id"))), k)
  }

  /** The nprobe=2 rerank over ANY list frame — one definition for the
    * maintained and erased read paths. */
  private def topkFromLists(spark: SparkSession, dir: String,
      st: IvfState, lists: DataFrame, k: Int): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val qprobe = centsOf(spark, dir, st.nlist)
      .crossJoin(broadcast(q))
      .select(col("cid"), expr("cosine_sim(cv, qv)").as("s"))
      .orderBy(col("s").desc, col("cid")).limit(2)
      .select(col("cid"))
    val cands = lists
      .join(broadcast(qprobe), Seq("cid"))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"))
    e.join(cands, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.ScalarFns.roundN(
          expr("cosine_sim(embedding, qv)"), 6).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cosine_topk_ivf_maintained" -> ((s: SparkSession, d: String) =>
      cosineTopkIvfMaintained(s, d)),
    "cosine_topk_ivf_erased" -> ((s: SparkSession, d: String) =>
      cosineTopkIvfMaintainedErased(s, d)))

  val oracles: Map[String, String] = {
    import Similarity.duckDot
    def cos(a: String, b: String) =
      s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"
    // candFilter restricts the candidate lists — "TRUE" for the
    // maintained index, the survivor predicate for the erased twin
    // (centroids and assignments re-derive over the FULL base either
    // way: the quantizer is frozen, erasure retires list rows only)
    def listsOracle(candFilter: String) =
      s"""WITH base AS (
         |  SELECT * FROM embeddings
         |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) >= '2'),
         |newv AS (
         |  SELECT * FROM embeddings
         |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '2'),
         |cent AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM (
         |    SELECT vec_id, embedding,
         |      row_number() OVER (ORDER BY vec_id) AS rk,
         |      ceil(sqrt((SELECT count(*) FROM base))) AS nl
         |    FROM base) WHERE rk <= nl),
         |a1 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT b.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY b.vec_id
         |        ORDER BY ${cos("b.embedding", "c.cv")} DESC, c.cid) AS rn
         |    FROM base b CROSS JOIN cent c) WHERE rn = 1),
         |na1 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT n.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY ${cos("n.embedding", "c.cv")} DESC, c.cid) AS rn
         |    FROM newv n CROSS JOIN cent c) WHERE rn = 1),
         |lists AS (
         |  SELECT vec_id, cid FROM a1
         |  UNION ALL SELECT vec_id, cid FROM na1),
         |qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
         |qp AS (
         |  SELECT cid FROM (
         |    SELECT c.cid,
         |      row_number() OVER (
         |        ORDER BY ${cos("c.cv", "q.v")} DESC, c.cid) AS rn
         |    FROM cent c, qv q) WHERE rn <= 2),
         |cand AS (
         |  SELECT l.vec_id FROM lists l JOIN qp USING (cid)
         |  WHERE l.vec_id <> 0 AND $candFilter)
         |SELECT e.vec_id,
         |  ${graft.functions.ScalarFns.roundSql(
            cos("e.embedding", "q.v"), 6)} AS cosine_sim
         |FROM cand JOIN embeddings e USING (vec_id), qv q
         |ORDER BY cosine_sim DESC, e.vec_id LIMIT 10""".stripMargin
    Map(
      "cosine_topk_ivf_maintained" -> listsOracle("TRUE"),
      "cosine_topk_ivf_erased" ->
        listsOracle(IndexErasure.survivorSql("l.vec_id")))
  }
}
