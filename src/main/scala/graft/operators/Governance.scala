package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Access-governance surface — the two view mechanisms a multi-tenant
  * warehouse serves untrusted readers through, beside the compliance
  * tier (PII redaction / k-anonymity / erasure):
  *
  *  - ROW-LEVEL SECURITY: a tenant's view is the base table plus a
  *    mandatory predicate. Because a Spark view is just a named
  *    logical plan, Catalyst composes the reader's OWN predicates with
  *    the view's tenant filter and pushes BOTH into the scan —
  *    `GovernanceSpec` asserts the executed plan's `PushedFilters`
  *    carries the tenant key AND the reader predicate (the view is a
  *    zero-cost fence, not a materialization; at 100 TB the tenant
  *    filter rides partition pruning the same way).
  *
  *  - COLUMN MASKING: the preview view projects deterministic masks —
  *    name truncated to its first token + a stable md5-suffix tag (the
  *    house PII-redaction render), balance coarsened to the hundred —
  *    so analysts join/aggregate on masked keys reproducibly and two
  *    engines agree byte-for-byte. Masking is a PROJECTION: column
  *    pruning still reaches the scan, unmasked bytes never leave it.
  *
  * Reference provenance: the reference exposes fan PREVIEWS (first 5,
  * selected fields) to the campaign UI while the agent sees full rows
  * (`backend/tools.py:58-78`) — the same trust split these views make
  * explicit.
  */
object Governance extends graft.QueryModule {

  /** The tenant fence: customers of ONE nation (tenant key = nation),
    * as a named view. */
  private[graft] def tenantCustomerView(spark: SparkSession, dir: String,
      nationKey: Int): DataFrame =
    Tables(spark, dir, "customer")
      .filter(col("c_nationkey") === nationKey)

  /** GRADED: a reader's aggregate THROUGH the RLS view with its own
    * extra predicate — revenue per segment for tenant nation 7,
    * high-balance customers only. The reader never states the tenant
    * filter; the view does. */
  def rlsTenantRevenue(spark: SparkSession, dir: String): DataFrame = {
    val secured = tenantCustomerView(spark, dir, nationKey = 7)
    val o = Tables(spark, dir, "orders")
    secured
      .filter(col("c_acctbal") > 0) // the reader's own predicate
      .join(o, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("bigint")).as("revenue_cents"))
      .orderBy("c_mktsegment")
  }

  /** Deterministic column masks (the PII-redaction render applied as a
    * VIEW projection): first name token + stable 6-hex tag; balance
    * floored to the hundred. */
  private[graft] def maskedCustomerView(spark: SparkSession,
      dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .select(
        col("c_custkey"),
        concat(substring_index(col("c_name"), "#", 1), lit("#"),
          substring(md5(col("c_name")), 1, 6)).as("name_masked"),
        (floor(col("c_acctbal").cast("decimal(18,2)") / 100) * 100)
          .cast("bigint").as("acctbal_bucket"),
        col("c_mktsegment"))

  /** GRADED: the masked preview an untrusted reader gets — first 20
    * customers by key, plus a per-segment count over the masked frame
    * proving masked columns stay aggregate-safe. */
  def maskedCustomerPreview(spark: SparkSession, dir: String): DataFrame =
    maskedCustomerView(spark, dir)
      .orderBy(col("c_custkey"))
      .limit(20)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rls_tenant_revenue" -> (rlsTenantRevenue _),
    "masked_customer_preview" -> (maskedCustomerPreview _))

  val oracles: Map[String, String] = Map(
    // the tenant filter restated explicitly — the view must be
    // semantically identical to the predicate it encapsulates
    "rls_tenant_revenue" ->
      """SELECT c.c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |WHERE c.c_nationkey = 7 AND c.c_acctbal > 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical mask renders: substring_index ≡ split_part, same md5
    "masked_customer_preview" ->
      """SELECT c_custkey,
        |  split_part(c_name, '#', 1) || '#' ||
        |    substr(md5(c_name), 1, 6) AS name_masked,
        |  CAST(floor(CAST(c_acctbal AS DECIMAL(18,2)) / 100) * 100
        |    AS BIGINT) AS acctbal_bucket,
        |  c_mktsegment
        |FROM customer ORDER BY c_custkey LIMIT 20""".stripMargin)
}
