package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ScalarFns._

/** The reference's non-relational tools re-expressed as deterministic
  * column pipelines:
  *
  *  - U1 `generate_campaign_copy` (`tools.py:84-154`): prompt → LLM →
  *    regex+JSON parse → fallback template. The fallback path
  *    (`tools.py:146-154`) is a pure function of (event, date) — that is
  *    what we implement (zero-egress: no model calls in this repo). The
  *    LLM path is the same shape: text in → struct out.
  *  - S4 `schedule_campaign` (`tools.py:159-185`): builds confirmation
  *    rows; F10 ids become content hashes (deterministic, oracle-safe).
  *  - S5 idempotent writes (`SCALING.md:120`): duplicate schedule
  *    requests collapse to one row via dropDuplicates on the natural key.
  *  - F7 SMS length budget (`CampaignPreview.tsx:92-93`: >160 flagged).
  *
  * Everything is a codegen'd expression over a grouped frame — the "per
  * segment" cardinality is tiny relative to the fact tables, and the copy
  * template runs post-aggregation, so at 100 TB this is a no-shuffle tail
  * on an already-reduced result.
  */
object CampaignOps extends graft.QueryModule {

  /** Deterministic copy template — the reference's fallback copy
    * (`tools.py:147-153`) as columns. */
  def copyTemplate(eventName: Column, sendDate: Column): Seq[Column] = Seq(
    concat(lit("You're invited: "), eventName).as("email_subject"),
    concat(lit("Don't miss "), eventName, lit(" on "), sendDate).as("email_preview"),
    concat(lit("Hi there, "), eventName, lit(" is happening on "), sendDate,
      lit(". We'd love to see you there. Tickets are moving fast!")).as("email_body"),
    concat(eventName, lit(" - "), sendDate,
      lit(". Get your tickets now!")).as("sms_body"))

  /** Per-segment audiences with campaign copy + schedule confirmation.
    * One row per market segment: audience stats (A4), copy struct
    * (U1, flattened for oracle hashing), schedule row (S4), SMS length
    * flag (F7). */
  def campaignDrafts(spark: SparkSession, dir: String): DataFrame = {
    val sendDate = lit("2001-09-15")
    val c = Tables(spark, dir, "customer")
    val seg = c.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("audience_size"), rateAvg(col("c_acctbal")).as("avg_acctbal"))
      .withColumn("event_name",
        concat(lit("The "), lower(col("c_mktsegment")), lit(" sessions")))
    val withCopy = seg.select(
      (Seq(col("c_mktsegment"), col("audience_size"), col("avg_acctbal"),
        col("event_name")) ++ copyTemplate(col("event_name"), sendDate)): _*)
    withCopy
      // L2 remainder arithmetic (`AudienceCard.tsx:34-37`: "N more fans"
      // beyond the 5-row preview)
      .withColumn("more_fans",
        greatest(col("audience_size") - 5, lit(0L)).cast("bigint"))
      .withColumn("sms_len", length(col("sms_body")).cast("bigint"))
      .withColumn("sms_over_budget", length(col("sms_body")) > 160)
      .withColumn("segment_id", contentId("seg_", col("c_mktsegment")))
      .withColumn("campaign_id",
        contentId("cmp_", concat_ws("|", col("c_mktsegment"), col("event_name"), sendDate)))
      .withColumn("send_at", to_timestamp(concat(sendDate, lit(" 10:00:00"))))
      .withColumn("status", lit("scheduled"))
      .orderBy("c_mktsegment")
  }

  /** F8/F9 — the reference's PRIMARY copy-generation result path
    * (`tools.py:139-154`): LLM text → `re.search(r"\{.*\}", text,
    * DOTALL)` → `json.loads` → on any failure, a fallback struct whose
    * email body is the RAW text. Spark mapping: `regexp_extract` (F8)
    * → `from_json` with the explicit nested email/sms schema (F9) →
    * `coalesce(parsed-if-valid, fallbackStruct)`. All-or-nothing like
    * the reference: a blob that parses but lacks fields yields null
    * fields (the parsed dict is returned as-is), never a partial
    * fallback.
    *
    * The LLM column is a deterministic per-row simulation of real model
    * output (zero-egress): pure JSON, JSON wrapped in prose, malformed
    * JSON, refusal text with no braces, and valid-but-partial JSON.
    * Map-only: regex + JSON parse stay inside the scan's codegen stage,
    * so at 100 TB this is one pass over the corpus with no shuffle.
    */
  def copyParse(spark: SparkSession, dir: String): DataFrame = {
    val eventName = concat(lit("The "), lower(col("c_mktsegment")), lit(" sessions"))
    val goodJson = concat(
      lit("""{"email": {"subject": "Invite: """), eventName,
      lit("""", "preview_text": """"), eventName,
      lit(""" is nearly here", "body": "Hi """), col("c_name"),
      lit(""", """), eventName,
      lit(""" lands on 2001-09-15. Join us."}, "sms": {"body": """"), eventName,
      lit(""" - 2001-09-15. Grab tickets!"}}"""))
    val llmText = when(col("variant") === 0, col("good_json"))
      .when(col("variant") === 1, concat(lit("Sure! Here is your campaign copy: "),
        col("good_json"), lit(" Let me know if you want tweaks.")))
      .when(col("variant") === 2, lit("{oops: this is not valid json}"))
      .when(col("variant") === 3, lit("I am unable to generate campaign copy right now."))
      .otherwise(concat(lit("""{"email": {"subject": "Invite: """), eventName, lit(""""}}""")))
    val schema = "email STRUCT<subject: STRING, preview_text: STRING, body: STRING>, " +
      "sms STRUCT<body: STRING>"
    Tables(spark, dir, "customer")
      .filter(col("c_custkey") <= 100)
      .withColumn("variant", (col("c_custkey") % 5).cast("bigint"))
      .withColumn("event_name", eventName)
      .withColumn("good_json", goodJson)
      .withColumn("llm_text", llmText)
      // F8: outermost JSON blob — greedy DOTALL, '' when no braces
      .withColumn("blob", regexp_extract(col("llm_text"), "(?s)\\{.*\\}", 0))
      // json.loads-success twin: '$' of a valid doc is the doc, else NULL
      .withColumn("parse_ok",
        col("blob") =!= "" && get_json_object(col("blob"), "$").isNotNull)
      // F9: typed parse; failed parse → whole fallback struct (body = raw text)
      .withColumn("copy", coalesce(
        when(col("parse_ok"), from_json(col("blob"), schema, Map.empty[String, String])),
        struct(
          struct(
            concat(lit("You're invited: "), col("event_name")).as("subject"),
            concat(lit("Don't miss "), col("event_name"), lit(" on 2001-09-15")).as("preview_text"),
            col("llm_text").as("body")).as("email"),
          // NOT shared with copyTemplate/tonedCopy on purpose: this
          // fallback reproduces tools.py:146-153 VERBATIM (em-dash and
          // all), while the templates mirror the separate copy surface
          struct(concat(col("event_name"),
            lit(" — 2001-09-15. Get your tickets now!")).as("body")).as("sms"))))
      .select(
        col("c_custkey"), col("variant"), col("parse_ok"),
        col("copy.email.subject").as("email_subject"),
        col("copy.email.preview_text").as("email_preview"),
        col("copy.email.body").as("email_body"),
        col("copy.sms.body").as("sms_body"),
        length(col("copy.sms.body")).cast("bigint").as("sms_len"),
        (length(col("copy.sms.body")) > 155).as("sms_over_budget"),
        (length(col("copy.email.subject")) < 50).as("subject_in_budget"))
      .orderBy("c_custkey")
  }

  /** U1 tone parameter (`tools.py:88,127-130`): tone ∈ {enthusiastic,
    * exclusive, casual}, with the prompt's budget rules surfaced as
    * columns (subject < 50 chars, SMS < 155 chars). One deterministic
    * template per tone — the zero-egress stand-in for the Haiku call,
    * keyed exactly like the reference's `tone` argument. */
  val tones = Seq("enthusiastic", "exclusive", "casual")

  def tonedCopy(eventName: Column, sendDate: Column, tone: Column): Seq[Column] = {
    def byTone(enth: Column, excl: Column, cas: Column): Column =
      when(tone === "exclusive", excl)
        .when(tone === "casual", cas)
        .otherwise(enth) // default tone = enthusiastic (tools.py:88)
    Seq(
      byTone(
        concat(lit("You're invited: "), eventName),
        concat(lit("Exclusive access: "), eventName),
        concat(eventName, lit(" is coming up"))).as("email_subject"),
      byTone(
        concat(lit("Don't miss "), eventName, lit(" on "), sendDate),
        concat(lit("A private invitation to "), eventName),
        concat(lit("Thought you might like "), eventName)).as("email_preview"),
      byTone(
        concat(eventName, lit(" - "), sendDate, lit(". Get your tickets now!")),
        concat(lit("Your spot at "), eventName, lit(" awaits on "), sendDate,
          lit(". Grab it.")),
        concat(eventName, lit(" on "), sendDate, lit(". Join us."))).as("sms_body"))
  }

  def campaignDraftsToned(spark: SparkSession, dir: String): DataFrame = {
    val sendDate = lit("2001-09-15")
    val seg = Tables(spark, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("audience_size"))
      .withColumn("event_name",
        concat(lit("The "), lower(col("c_mktsegment")), lit(" sessions")))
      .withColumn("tone", explode(lit(tones.toArray)))
    seg.select((Seq(col("c_mktsegment"), col("tone"), col("audience_size"),
        col("event_name")) ++ tonedCopy(col("event_name"), sendDate, col("tone"))): _*)
      .withColumn("subject_in_budget", length(col("email_subject")) < 50)
      .withColumn("sms_in_budget", length(col("sms_body")) < 155)
      .orderBy("c_mktsegment", "tone")
  }

  /** S5: the same schedule request submitted twice produces one row per
    * campaign (idempotent-write semantics via natural-key dedup). */
  def idempotentSchedule(spark: SparkSession, dir: String): DataFrame = {
    val once = campaignDrafts(spark, dir)
      .select(col("campaign_id"), col("segment_id"), col("event_name"),
        col("audience_size"), col("send_at"), col("status"))
    once.union(once).dropDuplicates("campaign_id").orderBy("campaign_id")
  }

  /** F-coverage showcase (F2/F3/F5/F7/F10/F12/F13 + length) — scalar
    * library over customers, projection-only (no shuffle). */
  def scalarShowcase(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .filter(containsIgnoreCase(col("c_name"), "customer#00000"))
      .select(
        col("c_custkey"),
        lower(col("c_name")).as("name_lower"),
        substring(col("c_name"), 1, 1).as("initial"),
        length(col("c_name")).cast("bigint").as("name_len"),
        contentId("cmp_", col("c_name")).as("content_id"),
        concat(lit("You're invited: "), col("c_name")).as("invite"),
        roundN(col("c_acctbal"), 2).as("acctbal_2dp"))
      .orderBy("c_custkey")
      .limit(100)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "campaign_drafts"       -> (campaignDrafts _),
    "campaign_drafts_toned" -> (campaignDraftsToned _),
    "copy_parse"            -> (copyParse _),
    "idempotent_schedule"   -> (idempotentSchedule _),
    "scalar_showcase"       -> (scalarShowcase _))

  val oracles: Map[String, String] = Map(
    "copy_parse" ->
      """WITH base AS (
        |  SELECT c_custkey, CAST(c_custkey % 5 AS BIGINT) AS variant, c_name,
        |    'The ' || lower(c_mktsegment) || ' sessions' AS event_name
        |  FROM customer WHERE c_custkey <= 100),
        |gj AS (
        |  SELECT *,
        |    '{"email": {"subject": "Invite: ' || event_name || '", "preview_text": "'
        |      || event_name || ' is nearly here", "body": "Hi ' || c_name || ', '
        |      || event_name || ' lands on 2001-09-15. Join us."}, "sms": {"body": "'
        |      || event_name || ' - 2001-09-15. Grab tickets!"}}' AS good_json
        |  FROM base),
        |llm AS (
        |  SELECT c_custkey, variant, event_name,
        |    CASE variant
        |      WHEN 0 THEN good_json
        |      WHEN 1 THEN 'Sure! Here is your campaign copy: ' || good_json
        |                  || ' Let me know if you want tweaks.'
        |      WHEN 2 THEN '{oops: this is not valid json}'
        |      WHEN 3 THEN 'I am unable to generate campaign copy right now.'
        |      ELSE '{"email": {"subject": "Invite: ' || event_name || '"}}'
        |    END AS llm_text
        |  FROM gj),
        |ex AS (
        |  SELECT *, regexp_extract(llm_text, '(?s)\{.*\}', 0) AS blob FROM llm),
        |p AS (
        |  SELECT *, (blob <> '' AND json_valid(blob)) AS parse_ok FROM ex),
        |o AS (
        |  SELECT c_custkey, variant, parse_ok,
        |    CASE WHEN parse_ok THEN json_extract_string(blob, '$.email.subject')
        |         ELSE 'You''re invited: ' || event_name END AS email_subject,
        |    CASE WHEN parse_ok THEN json_extract_string(blob, '$.email.preview_text')
        |         ELSE 'Don''t miss ' || event_name || ' on 2001-09-15' END AS email_preview,
        |    CASE WHEN parse_ok THEN json_extract_string(blob, '$.email.body')
        |         ELSE llm_text END AS email_body,
        |    CASE WHEN parse_ok THEN json_extract_string(blob, '$.sms.body')
        |         ELSE event_name || ' — 2001-09-15. Get your tickets now!' END AS sms_body
        |  FROM p)
        |SELECT c_custkey, variant, parse_ok, email_subject, email_preview,
        |  email_body, sms_body,
        |  CAST(length(sms_body) AS BIGINT) AS sms_len,
        |  length(sms_body) > 155 AS sms_over_budget,
        |  length(email_subject) < 50 AS subject_in_budget
        |FROM o ORDER BY c_custkey""".stripMargin,
    "campaign_drafts_toned" ->
      """WITH seg AS (
        |  SELECT c_mktsegment, count(*) AS audience_size,
        |    'The ' || lower(c_mktsegment) || ' sessions' AS event_name
        |  FROM customer GROUP BY 1),
        |t AS (SELECT unnest(['enthusiastic', 'exclusive', 'casual']) AS tone),
        |x AS (
        |  SELECT c_mktsegment, tone, audience_size, event_name,
        |    CASE tone WHEN 'exclusive' THEN 'Exclusive access: ' || event_name
        |              WHEN 'casual' THEN event_name || ' is coming up'
        |              ELSE 'You''re invited: ' || event_name END AS email_subject,
        |    CASE tone WHEN 'exclusive' THEN 'A private invitation to ' || event_name
        |              WHEN 'casual' THEN 'Thought you might like ' || event_name
        |              ELSE 'Don''t miss ' || event_name || ' on 2001-09-15' END AS email_preview,
        |    CASE tone WHEN 'exclusive' THEN 'Your spot at ' || event_name || ' awaits on 2001-09-15. Grab it.'
        |              WHEN 'casual' THEN event_name || ' on 2001-09-15. Join us.'
        |              ELSE event_name || ' - 2001-09-15. Get your tickets now!' END AS sms_body
        |  FROM seg CROSS JOIN t)
        |SELECT c_mktsegment, tone, audience_size, event_name, email_subject,
        |  email_preview, sms_body,
        |  length(email_subject) < 50 AS subject_in_budget,
        |  length(sms_body) < 155 AS sms_in_budget
        |FROM x ORDER BY 1, 2""".stripMargin,
    "campaign_drafts" ->
      s"""WITH seg AS (
        |  SELECT c_mktsegment, count(*) AS audience_size,
        |    ${roundSql("CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)", 2)} AS avg_acctbal,
        |    'The ' || lower(c_mktsegment) || ' sessions' AS event_name
        |  FROM customer GROUP BY 1)
        |SELECT c_mktsegment, audience_size, avg_acctbal, event_name,
        |  CAST(greatest(audience_size - 5, 0) AS BIGINT) AS more_fans,
        |  'You''re invited: ' || event_name AS email_subject,
        |  'Don''t miss ' || event_name || ' on 2001-09-15' AS email_preview,
        |  'Hi there, ' || event_name || ' is happening on 2001-09-15. We''d love to see you there. Tickets are moving fast!' AS email_body,
        |  event_name || ' - 2001-09-15. Get your tickets now!' AS sms_body,
        |  CAST(length(event_name || ' - 2001-09-15. Get your tickets now!') AS BIGINT) AS sms_len,
        |  length(event_name || ' - 2001-09-15. Get your tickets now!') > 160 AS sms_over_budget,
        |  'seg_' || substr(md5(c_mktsegment), 1, 8) AS segment_id,
        |  'cmp_' || substr(md5(c_mktsegment || '|' || event_name || '|' || '2001-09-15'), 1, 8) AS campaign_id,
        |  TIMESTAMP '2001-09-15 10:00:00' AS send_at,
        |  'scheduled' AS status
        |FROM seg ORDER BY c_mktsegment""".stripMargin,
    "idempotent_schedule" ->
      """WITH seg AS (
        |  SELECT c_mktsegment, count(*) AS audience_size,
        |    'The ' || lower(c_mktsegment) || ' sessions' AS event_name
        |  FROM customer GROUP BY 1)
        |SELECT DISTINCT
        |  'cmp_' || substr(md5(c_mktsegment || '|' || event_name || '|' || '2001-09-15'), 1, 8) AS campaign_id,
        |  'seg_' || substr(md5(c_mktsegment), 1, 8) AS segment_id,
        |  event_name, audience_size,
        |  TIMESTAMP '2001-09-15 10:00:00' AS send_at,
        |  'scheduled' AS status
        |FROM seg ORDER BY campaign_id""".stripMargin,
    "scalar_showcase" ->
      s"""SELECT c_custkey,
        |  lower(c_name) AS name_lower,
        |  substr(c_name, 1, 1) AS initial,
        |  CAST(length(c_name) AS BIGINT) AS name_len,
        |  'cmp_' || substr(md5(c_name), 1, 8) AS content_id,
        |  'You''re invited: ' || c_name AS invite,
        |  ${roundSql("c_acctbal", 2)} AS acctbal_2dp
        |FROM customer
        |WHERE contains(lower(c_name), 'customer#00000')
        |ORDER BY c_custkey LIMIT 100""".stripMargin)
}
