package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** PII SCAN + REDACTION — the compliance pass every LLM training-data
  * pipeline runs before a corpus ships: find personal identifiers
  * (emails, phone numbers, IP addresses) with pattern scanners, count
  * them per source (the audit report), and rewrite the text with the
  * identifiers masked (the deliverable). The reference's CRM rows are
  * personal data — fan names, city/state, purchase history surface in
  * previews (`tools.py:78`) and feed generated email/SMS copy — which
  * is exactly the data class a derived training corpus must strip.
  *
  * The synthetic `documents` corpus carries no PII, so the query first
  * AUGMENTS it deterministically: md5-classed docs gain an email /
  * phone / IPv4 literal derived from `doc_id` by pure integer
  * arithmetic (the md5-slice idiom, interpolated into both engines).
  * That keeps the scanners honest — the DuckDB oracle re-derives the
  * same augmented text and runs the same regexes, so the grade pins
  * CROSS-ENGINE REGEX SEMANTICS (Java regex vs RE2: the patterns below
  * deliberately use only the common subset — character classes,
  * bounded quantifiers, no backslash escapes, no look-around) plus the
  * global-replace semantics of both `regexp_replace`s.
  *
  * The redacted corpus is graded by CHECKSUM, not by shipping text:
  * first-32-md5-bits row hashes summed wide and reduced mod 2⁶¹−1 per
  * source (the [[Integrity]] discipline) — any divergence in any
  * redacted byte flips its source's checksum.
  *
  * Scale shape: pure map work — scan, count, replace, hash ride the
  * scan task; the only shuffle is the source-granularity partial agg.
  * At 100 TB this is the cheapest possible operator class; the cost IS
  * the regex engine, which is why the patterns are anchored literals
  * and classes (RE2-safe ⇒ linear-time, no catastrophic backtracking
  * even on Java's engine — no nested unbounded quantifiers).
  */
object Pii extends graft.QueryModule {

  /** RE2 ∩ Java regex common subset — no backslashes (survive SQL
    * string interpolation verbatim), no look-around, linear-time. */
  private[graft] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
  private[graft] val PhoneRe = "555-[0-9]{4}"
  private[graft] val IpRe = "[0-9]{1,3}([.][0-9]{1,3}){3}"

  private def hx: Column =
    substring(md5(col("doc_id").cast("string")), 1, 1)

  /** Deterministic PII injection: hex 0-3 → email, 4-5 → phone,
    * 6 → IPv4, rest untouched (values pure integer functions of
    * `doc_id`, rebuilt bit-identically by the oracle). */
  private[graft] def augmented: Column = concat(col("text"),
    when(hx.isin("0", "1", "2", "3"),
      concat(lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com")))
    .when(hx.isin("4", "5"),
      concat(lit(" call 555-"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
    .when(hx === "6",
      concat(lit(" from 10."),
        pmod(col("doc_id"), lit(256L)).cast("string"), lit("."),
        pmod(expr("doc_id div 256"), lit(256L)).cast("string"), lit("."),
        pmod(expr("doc_id div 65536"), lit(256L)).cast("string")))
    .otherwise(lit("")))

  /** Match count over the `aug` column (regexes are single-quote-free
    * by construction, so the expr interpolation is safe). */
  private def nMatches(re: String): Column =
    size(expr(s"regexp_extract_all(aug, '$re', 0)")).cast("long")

  /** Email → phone → IP replace chain (order part of the contract). */
  private[graft] def redact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"),
      IpRe, "[IP]")

  /** GRADED: per-source audit — match counts, affected docs, and the
    * checksum of the redacted corpus. */
  def piiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .withColumn("aug", augmented)
      .withColumn("n_emails", nMatches(EmailRe))
      .withColumn("n_phones", nMatches(PhoneRe))
      .withColumn("n_ips", nMatches(IpRe))
      .withColumn("red", redact(col("aug")))
      .withColumn("red_hash",
        conv(substring(md5(col("red")), 1, 8), 16, 10).cast("long"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_phones")).as("n_phones"),
        sum(col("n_ips")).as("n_ips"),
        sum(when(col("n_emails") + col("n_phones") + col("n_ips") > 0,
          1L).otherwise(0L)).as("n_docs_pii"),
        pmod(sum(col("red_hash").cast("decimal(38,0)")),
          lit(Integrity.ChecksumMod)).cast("long").as("redacted_checksum"))
      .orderBy("source")
  }

  /** K-ANONYMITY AUDIT — the re-identification check that complements
    * the scanner above: PII redaction strips DIRECT identifiers, but a
    * row is still re-identifiable when its QUASI-identifier combination
    * (the attributes an adversary can link from outside data) is rare.
    * A release is k-anonymous when every quasi-identifier equivalence
    * class holds ≥ k rows (Sweeney, "k-anonymity: a model for
    * protecting privacy", IJUFKS 2002). The reference's CRM previews
    * expose exactly such a tuple — city/state + genre + spend surface
    * per fan (`tools.py:78`); here the audited quasi-identifier is the
    * analogous (nation, market segment, account-balance band).
    *
    * The audit reports, per nation: equivalence classes, classes below
    * k = 5, rows in those classes (the suppression set a
    * k-anonymizer would generalize or drop), and the at-risk
    * percentage. Scale shape: one partial-agg shuffle at
    * quasi-identifier granularity, then a nation-level rollup of class
    * counts — both map-side combinable; no row ever leaves with its
    * identifier, only class SIZES travel. The balance band is
    * `floor(c_acctbal / 1000)` — IEEE double floor-division semantics
    * identical in both engines, negative balances floor toward -∞ in
    * both. */
  private val KAnonK = 5

  def kAnonymityAudit(spark: SparkSession, dir: String): DataFrame = {
    val cls = Tables(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / lit(1000.0)).cast("long").as("bal_band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("sz"))
    cls.groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_classes"),
        sum(when(col("sz") < KAnonK, 1L).otherwise(0L))
          .as("n_small_classes"),
        sum(when(col("sz") < KAnonK, col("sz")).otherwise(0L))
          .as("rows_at_risk"),
        sum(col("sz")).as("n_rows"),
        min(col("sz")).as("min_class_size"))
      .withColumn("pct_at_risk",
        graft.functions.ScalarFns.roundN(
          col("rows_at_risk") * lit(100.0) / col("n_rows"), 2))
      .orderBy(col("c_nationkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pii_redaction" -> (piiRedaction(_, _)),
    "k_anonymity_audit" -> (kAnonymityAudit(_, _)))

  /** DuckDB twin: same augmentation arithmetic, same patterns (RE2
    * side), 'g'-flagged replaces, same wide checksum. */
  val oracles: Map[String, String] = Map(
    "k_anonymity_audit" ->
      s"""WITH cls AS (
         |  SELECT c_nationkey, c_mktsegment,
         |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         |    count(*) AS sz
         |  FROM customer GROUP BY 1, 2, 3)
         |SELECT c_nationkey,
         |  count(*) AS n_classes,
         |  CAST(sum(CASE WHEN sz < $KAnonK THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_small_classes,
         |  CAST(sum(CASE WHEN sz < $KAnonK THEN sz ELSE 0 END) AS BIGINT)
         |    AS rows_at_risk,
         |  CAST(sum(sz) AS BIGINT) AS n_rows,
         |  min(sz) AS min_class_size,
         |  ${graft.functions.ScalarFns.roundSql(
            s"sum(CASE WHEN sz < $KAnonK THEN sz ELSE 0 END) * 100.0" +
              " / sum(sz)", 2)} AS pct_at_risk
         |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,
    "pii_redaction" -> {
      def nib(j: Int) =
        s"(instr('0123456789abcdef', substr(rh, $j, 1)) - 1)"
      val hashTerms = (1 to 8).map(j =>
        s"${nib(j)} * ${1L << (4 * (8 - j))}").mkString(" + ")
      s"""WITH a AS (
         |  SELECT source,
         |    text || CASE
         |      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
         |          IN ('0', '1', '2', '3')
         |        THEN ' contact user' || CAST(doc_id AS VARCHAR)
         |          || '@example.com'
         |      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
         |          IN ('4', '5')
         |        THEN ' call 555-'
         |          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '6'
         |        THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
         |          || CAST((doc_id // 256) % 256 AS VARCHAR) || '.'
         |          || CAST((doc_id // 65536) % 256 AS VARCHAR)
         |      ELSE '' END AS aug
         |  FROM documents),
         |m AS (
         |  SELECT source,
         |    CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT)
         |      AS n_emails,
         |    CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS BIGINT)
         |      AS n_phones,
         |    CAST(len(regexp_extract_all(aug, '$IpRe')) AS BIGINT) AS n_ips,
         |    md5(regexp_replace(regexp_replace(regexp_replace(aug,
         |      '$EmailRe', '[EMAIL]', 'g'),
         |      '$PhoneRe', '[PHONE]', 'g'),
         |      '$IpRe', '[IP]', 'g')) AS rh
         |  FROM a)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_emails) AS BIGINT) AS n_emails,
         |  CAST(sum(n_phones) AS BIGINT) AS n_phones,
         |  CAST(sum(n_ips) AS BIGINT) AS n_ips,
         |  CAST(sum(CASE WHEN n_emails + n_phones + n_ips > 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_pii,
         |  CAST(sum(CAST(($hashTerms) AS HUGEINT))
         |    % ${Integrity.ChecksumMod} AS BIGINT) AS redacted_checksum
         |FROM m GROUP BY source ORDER BY source""".stripMargin
    })
}
