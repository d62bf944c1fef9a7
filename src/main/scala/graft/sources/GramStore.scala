package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ONE owner for the corpus token/gram substrates that several
  * operator families consume (reference `SCALING.md:87-99`'s "derive
  * once, serve many" discipline applied to tokenization instead of
  * query results).
  *
  * Round-8 verdict: three operator families re-derived near-identical
  * token frames over `documents` per (JVM, corpus) — the exact
  * set-similarity join's distinct word-3-gram table
  * ([[graft.operators.SetJoin]]), the MinHash-LSH chain's gram stream
  * ([[graft.operators.Similarity]]), and the q-gram edit join's entity
  * names ([[graft.operators.EditJoin]]) — i.e. the corpus was
  * tokenized three times. This object serves each substrate FROM
  * SCRATCH PARQUET built once per (JVM, corpus): rebuildable
  * file-scan lineage, zero pinned blocks (the
  * `Concentration.rankedSpend` serve-from-scratch idiom), and every
  * consumer — including consumers in OTHER Spark sessions of the same
  * JVM — reads the same files.
  *
  * Sharing is SOUND for the LSH signature pass because min() is
  * duplicate-invariant: the minhash over the DISTINCT (doc, gram) set
  * equals the minhash over the raw gram stream, so the exact join's
  * distinct table (which verification needs anyway) is the one
  * substrate both tiers can share. At 100 TB this is exactly the
  * materialized shingle TABLE a production dedup deployment maintains
  * next to the corpus: tokenization (the CPU-dominant pass — one
  * regex split + gram assembly per document) runs once per corpus
  * snapshot, and every downstream index build (LSH bands, prefix
  * postings, recall audits) is a column-pruned scan of its parquet.
  */
object GramStore {

  /** Serve `build`'s result from scratch parquet, built at most once
    * per (JVM, `name`, `dir`) through [[Substrate]]. Keyed by corpus
    * only — the substrates are pure functions of the corpus files, so
    * cross-session serving is safe by construction. The build runs
    * under whichever session first asks; later consumers just scan the
    * files. Open to operator-owned substrates (e.g.
    * [[graft.operators.EditJoin]]'s entity table) — the build must be a
    * pure function of the corpus under `dir`. */
  private[graft] def serve(spark: SparkSession, name: String, dir: String)(
      build: => DataFrame): DataFrame =
    spark.read.parquet(Substrate.dir(s"graft_${name}_", dir) { out =>
      build.write.mode("overwrite").parquet(out)
    })

  /** DISTINCT (doc_id, tok) word-3-gram shingles of `documents.text`,
    * via the streaming [[graft.plans.WordGrams]] generator (no per-row
    * gram arrays; subsumes the `size(t) >= 3` guard). Consumers: the
    * exact set-similarity join (prefix build + full-set verify), the
    * LSH chain (signatures + candidate verification), and the recall
    * audit that joins the two. */
  def wordGrams3(spark: SparkSession, dir: String): DataFrame =
    serve(spark, "wg3", dir) {
      graft.Tables(spark, dir, "documents")
        .select(col("doc_id"), expr("word_grams(text, 3)").as("tok"))
        .distinct()
    }

  /** RAW (doc_id, s) lowercase char-9-gram stream of `documents.text`
    * (r10 — the word substrate's discipline extended to the char
    * path), via the streaming [[graft.plans.CharGrams]] generator.
    * Deliberately NOT distinct, unlike [[wordGrams3]]: no char-tier
    * consumer needs set semantics before its own aggregate (the LSH
    * signature's min() is duplicate-invariant, the verification
    * collect_set dedups), the intra-doc duplicate rate is only ~4 %
    * (probed sf0.1: 1.446M raw vs 1.390M distinct), and a corpus-wide
    * distinct is a full shuffle of every gram occurrence — the exact
    * cost the r4 signature-pass rework removed. The build is
    * therefore shuffle-free: fanned-out generator scan → parquet.
    * Both char-tier passes then read this one column-pruned parquet
    * instead of re-decoding + re-tokenizing the text. */
  def charGrams9(spark: SparkSession, dir: String): DataFrame =
    serve(spark, "cg9", dir) {
      graft.Tables.fanOut(spark, graft.Tables(spark, dir, "documents"))
        .withColumn("lt", lower(col("text")))
        .filter(length(col("lt")) >= 9)
        .select(col("doc_id"), expr("char_grams(lt, 9)").as("s"))
    }
}
